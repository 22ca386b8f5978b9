import gc
import json
from pathlib import Path

import pytest

from pbf_spark.fixtures import generate as gen
from pbf_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="pbf_spark-tests", master="local[4]", shuffle_partitions=8)
    yield s


@pytest.fixture
def stored_rdds(spark):
    """Counter of the RDDs the session stores: materialized
    ``persist()``ed frames and ``localCheckpoint``s alike. Storage is
    emptied first (SQL cache cleared, unreferenced RDDs collected), so a
    test counts from what is still live, not from what earlier tests
    happened to leave."""
    spark.catalog.clearCache()
    gc.collect()
    spark.sparkContext._jvm.System.gc()
    return lambda: len(spark.sparkContext._jsc.getPersistentRDDs())


@pytest.fixture(scope="session")
def fixture_dir(tmp_path_factory) -> Path:
    """Small deterministic fixture (seed 42): fast but multi-block."""
    out = tmp_path_factory.mktemp("fx") / "mini"
    gen.generate(out, n_nodes=9000, n_ways=700, n_relations=40, spans_per_doc=2)
    return out


@pytest.fixture(scope="session")
def fixture_manifest(fixture_dir) -> dict:
    return json.loads((fixture_dir / "fixture_manifest.json").read_text())


SAMPLE_PBF = "/root/reference/testdata/sample.osm.pbf"
