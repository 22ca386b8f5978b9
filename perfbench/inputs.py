"""Seeded benchmark inputs.

Two kinds of input, both derived only from seeds:

- the PBF base fixture: ``pbf_spark.fixtures.generate`` at a greater-london
  shape (same bbox, same node/way/relation ratios, 192 polygons), cached
  under ``perfbench/.cache`` keyed by (fixture seed, counts). It is built
  once per checkout; its golden numbers for fixture seed 42 ship in
  ``golden.json``. A run's input is a seed-drawn subset of its full blobs,
  written as a fresh interleaved-document table, so every ``--seed`` gets
  different data of exactly the same size.
- the catalog tables: the ten tables the declared queries read
  (TPC-H-like star schema plus events, documents, embeddings) with the
  schema and value domains of the sf0.01 reference tables (FIXTURES.md
  §4), generated with numpy, one row group per file.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import shutil
import time
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BENCH_DIR = Path(__file__).resolve().parent
CACHE_DIR = BENCH_DIR / ".cache"
GOLDEN = json.loads((BENCH_DIR / "golden.json").read_text())

# greater-london contract 2,729,006 / 459,055 / 12,833 scaled by 1/4: the
# shape (bbox, kind ratios, clustering, polygon count) is london's, the
# size keeps the one-off build near 30 s on one core
BASE_COUNTS = {"n_nodes": 682_252, "n_ways": 114_764, "n_relations": 3_208}
BASE_POLYGONS = 192
ENTITY_LIMIT = 8000  # entities per PrimitiveBlock, as the generator writes them


def _cache_key(fixture_seed: int) -> str:
    c = BASE_COUNTS
    return f"pbf-s{fixture_seed}-n{c['n_nodes']}-w{c['n_ways']}-r{c['n_relations']}-p{BASE_POLYGONS}"


def _payload_digest(base: Path) -> str:
    tbl = pq.read_table(base / "media_blobs" / "data", columns=["blob_seq", "payload"])
    order = np.argsort(tbl.column("blob_seq").to_numpy())
    h = hashlib.sha256()
    payloads = tbl.column("payload").to_pylist()
    for i in order:
        h.update(payloads[i])
    return h.hexdigest()[:32]


def ensure_base_fixture(fixture_seed: int) -> tuple[Path, dict, float]:
    """→ (fixture dir, manifest, seconds spent generating; 0 when cached).

    Generation goes to a temporary directory that is renamed into place,
    so an interrupted build never leaves a half-written cache entry. For
    fixture seed 42 the result is checked against the shipped golden
    counts and payload digest."""
    from pbf_spark.fixtures.generate import generate

    CACHE_DIR.mkdir(exist_ok=True)
    base = CACHE_DIR / _cache_key(fixture_seed)
    gen_s = 0.0
    if not (base / "fixture_manifest.json").exists():
        tmp = CACHE_DIR / f".tmp-{os.getpid()}-{_cache_key(fixture_seed)}"
        shutil.rmtree(tmp, ignore_errors=True)
        t0 = time.perf_counter()
        generate(
            tmp,
            seed=fixture_seed,
            spans_per_doc=4,
            write_pbf_file=False,
            n_polygons=BASE_POLYGONS,
            **BASE_COUNTS,
        )
        m = json.loads((tmp / "fixture_manifest.json").read_text())
        m["payload_digest"] = _payload_digest(tmp)
        (tmp / "fixture_manifest.json").write_text(json.dumps(m, indent=1))
        gen_s = time.perf_counter() - t0
        try:
            os.rename(tmp, base)
        except OSError:  # another process won the race; its copy is identical
            shutil.rmtree(tmp, ignore_errors=True)
    manifest = json.loads((base / "fixture_manifest.json").read_text())
    golden = GOLDEN.get(str(fixture_seed))
    if golden is not None:
        got = {k: manifest[k] for k in golden}
        if got != golden:
            raise RuntimeError(f"fixture seed {fixture_seed} differs from golden.json: {got} != {golden}")
    return base, manifest, gen_s


def blob_strata(manifest: dict) -> dict[str, list[int]]:
    """blob_seq of every FULL data blob per entity kind (the generator
    writes node blocks, then way blocks, then relation blocks, blob 0 is
    the header). Partial trailing blocks are left out so every subset of
    a given size holds exactly the same number of entities; a kind with
    no full block keeps its single partial one."""
    seq, out = 1, {}
    for kind, key in (("node", "node"), ("way", "way"), ("relation", "relation")):
        n = manifest["counts"][key]
        n_blobs = math.ceil(n / ENTITY_LIMIT)
        full = n // ENTITY_LIMIT
        out[kind] = list(range(seq, seq + (full or n_blobs)))
        seq += n_blobs
    return out


def kind_count(manifest: dict, kind: str, n_blobs: int) -> int:
    n = manifest["counts"][kind]
    return n_blobs * ENTITY_LIMIT if n >= ENTITY_LIMIT else n


def make_pbf_input(base: Path, manifest: dict, seed: int, n_blobs: dict[str, int], out_dir: Path) -> dict:
    """Write a seed-drawn subset of the base fixture's data blobs as a
    fresh iceberg-lite document table pair under ``out_dir``; returns the
    subset's manifest (expected per-kind counts, blob sequence numbers)."""
    from pbf_spark.sources import iceberg_lite

    rng = np.random.default_rng([seed, 0xB10B])
    strata = blob_strata(manifest)
    chosen: dict[str, list[int]] = {}
    for kind, k in n_blobs.items():
        pool = strata[kind]
        chosen[kind] = sorted(int(x) for x in rng.choice(pool, size=min(k, len(pool)), replace=False))
    seqs = [0] + [s for kind in ("node", "way", "relation") for s in chosen.get(kind, [])]

    blobs = pq.read_table(base / "media_blobs" / "data")
    pos = {int(s): i for i, s in enumerate(blobs.column("blob_seq").to_pylist())}
    sub = blobs.take(pa.array([pos[s] for s in seqs]))
    # shuffle the order the blobs appear in the documents so a seed also
    # changes the span/partition layout, not only the blob choice
    order = [0] + list(rng.permutation(np.arange(1, len(seqs))))
    sub = sub.take(pa.array(order))
    refs = sub.column("media_ref").to_pylist()

    spans_per_doc = manifest["spans_per_doc"]
    doc_ids, spans = [], []
    for d in range(0, len(refs), spans_per_doc):
        doc_id = f"doc_s{seed}_{d // spans_per_doc:08d}"
        sp, off = [], 0
        for ref in refs[d : d + spans_per_doc]:
            sp.append({"kind": "text", "text": f"segment {off} of {doc_id}", "media_ref": None, "offset": off})
            sp.append({"kind": "media", "text": None, "media_ref": ref, "offset": off + 1})
            off += 2
        sp.append({"kind": "text", "text": f"end of {doc_id}", "media_ref": None, "offset": off})
        doc_ids.append(doc_id)
        spans.append(sp)
    span_type = pa.struct(
        [
            pa.field("kind", pa.string(), False),
            pa.field("text", pa.string()),
            pa.field("media_ref", pa.string()),
            pa.field("offset", pa.int32(), False),
        ]
    )
    docs = pa.table({"doc_id": pa.array(doc_ids), "spans": pa.array(spans, pa.list_(span_type))})
    for name, table, rows_per_file in (("documents_interleaved", docs, 64), ("media_blobs", sub, 8)):
        ddir = out_dir / name / "data"
        ddir.mkdir(parents=True, exist_ok=True)
        files = []
        for fi, s in enumerate(range(0, table.num_rows, rows_per_file)):
            fname = f"part-{fi:05d}.parquet"
            pq.write_table(table.slice(s, rows_per_file), ddir / fname, row_group_size=8, compression="zstd")
            files.append({"path": f"data/{fname}", "rows": min(rows_per_file, table.num_rows - s), "bytes": (ddir / fname).stat().st_size})
        iceberg_lite.commit(out_dir / name, files, schema_json=str(table.schema), properties={"seed": seed}, operation="overwrite")

    counts = {kind: kind_count(manifest, kind, len(chosen.get(kind, []))) for kind in ("node", "way", "relation")}
    return {"seed": seed, "blob_seqs": chosen, "counts": counts, "total_entities": sum(counts.values())}


# ---------------------------------------------------------------------------
# catalog tables
# ---------------------------------------------------------------------------

# the scale the declared queries are oracle-checked at: per-query cost is
# fixed overhead there, which is what the catalog measures (1.0 ≈ 6M lineitem rows)
CATALOG_SCALE = 0.01
CATALOG_TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()
_WORDS = (
    "key agg row scan slow fast table value part hash a merge batch spark the line sort window "
    "order data column join small customer query big stream group filter vector dup"
).split()


def ensure_catalog_tables(seed: int) -> tuple[Path, float]:
    """Catalog tables for ``seed`` at CATALOG_SCALE, cached per seed.
    → (directory, seconds spent generating)."""
    CACHE_DIR.mkdir(exist_ok=True)
    out = CACHE_DIR / f"catalog-s{seed}-sf{CATALOG_SCALE}"
    if (out / "_SUCCESS").exists():
        return out, 0.0
    t0 = time.perf_counter()
    tmp = CACHE_DIR / f".tmp-{os.getpid()}-catalog-s{seed}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    rng = np.random.default_rng([seed, 0xCA7])
    for name, table in _catalog(rng, CATALOG_SCALE).items():
        pq.write_table(table, tmp / f"{name}.parquet", row_group_size=1 << 30)
    (tmp / "_SUCCESS").write_text("")
    try:
        os.rename(tmp, out)
    except OSError:
        shutil.rmtree(tmp, ignore_errors=True)
    return out, time.perf_counter() - t0


def _ts(rng, n, start: str, days: int) -> pa.Array:
    base = np.datetime64(start, "us").astype(np.int64)
    return pa.array(base + rng.integers(0, days * 86_400_000_000, n), pa.timestamp("us"))


def _catalog(rng: np.random.Generator, scale: float) -> dict[str, pa.Table]:
    n_cust, n_supp, n_part = int(150_000 * scale), max(int(10_000 * scale), 10), int(200_000 * scale)
    n_orders = int(1_500_000 * scale)
    n_events, n_docs, n_vecs = int(1_000_000 * scale), 500, 500
    i32, i64, f64 = pa.int32(), pa.int64(), pa.float64()
    money = lambda lo, hi, n: np.round(rng.uniform(lo, hi, n), 2)  # noqa: E731
    pick = lambda vals, n: pa.array(np.array(vals, dtype=object)[rng.integers(0, len(vals), n)].tolist())  # noqa: E731

    t = {}
    t["region"] = pa.table({"r_regionkey": pa.array(range(5), i32), "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"])})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25) % 5, i32),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": pa.array(money(-999.99, 9999.99, n_cust), f64),
        "c_mktsegment": pick(["HOUSEHOLD", "MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE"], n_cust),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": pa.array(money(-999.99, 9999.99, n_supp), f64),
    })
    adj = ["small", "red", "blue", "hot", "old", "large", "new", "cold"]
    noun = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil"]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), i64),
        "p_name": pa.array([f"{adj[a]} {noun[b]}" for a, b in zip(rng.integers(0, len(adj), n_part), rng.integers(0, len(noun), n_part))]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pick(["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": pa.array(np.round(900 + (np.arange(n_part) % 200) * 0.1, 2), f64),
    })
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_orders), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), i64),
        "o_orderstatus": pick(["P", "F", "O"], n_orders),
        "o_totalprice": pa.array(money(1000, 500_000, n_orders), f64),
        "o_orderdate": _ts(rng, n_orders, "1995-01-01", 2400).cast(pa.timestamp("us")),
        "o_orderpriority": pick(["5-LOW", "4-NOT SPECIFIED", "2-HIGH", "1-URGENT", "3-MEDIUM"], n_orders),
    })
    # whole days for order dates, as in the reference tables
    od = t["orders"].column("o_orderdate").to_numpy().astype("datetime64[D]").astype("datetime64[us]")
    t["orders"] = t["orders"].set_column(4, "o_orderdate", pa.array(od, pa.timestamp("us")))
    lines = rng.integers(1, 8, n_orders)
    n_li = int(lines.sum())
    okey = np.repeat(np.arange(n_orders), lines)
    lnum = np.concatenate([np.arange(1, k + 1) for k in lines]) if n_orders else np.zeros(0, int)
    qty = rng.integers(1, 51, n_li).astype(float)
    pk = rng.integers(0, n_part, n_li)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(okey, i64),
        "l_partkey": pa.array(pk, i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), i64),
        "l_linenumber": pa.array(lnum, i32),
        "l_quantity": pa.array(qty, f64),
        "l_extendedprice": pa.array(np.round(qty * (900 + (pk % 200) * 0.1) * rng.uniform(0.99, 1.01, n_li), 2), f64),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0, f64),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0, f64),
        "l_returnflag": pick(["A", "N", "R"], n_li),
        "l_linestatus": pick(["F", "O"], n_li),
        "l_shipdate": pa.array(od[okey] + rng.integers(1, 122, n_li).astype("timedelta64[D]"), pa.timestamp("us")),
    })
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_events), i64),
        "ts": _ts(rng, n_events, "2024-01-01", 30),
        "user_id": pa.array(rng.integers(0, max(n_events // 66, 15), n_events), i64),
        "event_type": pick(["error", "click", "view", "signup", "purchase"], n_events),
        "value": pa.array(np.round(rng.exponential(50.0, n_events), 2), f64),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]),
    })
    texts = []
    for _ in range(n_docs):
        if texts and rng.random() < 0.08:  # planted near-duplicates for the dedup queries
            words = texts[int(rng.integers(0, len(texts)))].split()
            words[int(rng.integers(0, len(words)))] = _WORDS[int(rng.integers(0, len(_WORDS)))]
        else:
            words = [_WORDS[i] for i in rng.integers(0, len(_WORDS), int(rng.integers(10, 100)))]
        texts.append(" ".join(words))
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs), i64),
        "text": pa.array(texts),
        "lang": pick(["en", "zh", "es", "de", "fr"], n_docs),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20, n_docs)]),
        "n_chars": pa.array([len(x) for x in texts], i64),
    })
    v = rng.standard_normal((n_vecs, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vecs), i64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs), i32),
    })
    return t
