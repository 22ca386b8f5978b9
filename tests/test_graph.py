"""Connected components (operators/graph.py), near-dup clusters, and
latest-version reconciliation (operators/history.py)."""

import datetime
import math

import pytest

from pbf_spark.operators.graph import connected_components
from pbf_spark.util import small_df

EDGE_SCHEMA = "src long, dst long"


def _cc_map(df):
    return {r["id"]: r["component"] for r in df.collect()}


def test_cc_two_components_and_isolated(spark):
    # path 1-2-3-4, triangle 10-11-12 (one edge duplicated + reversed),
    # isolated vertex 99 from the vertices frame
    edges = small_df(
        spark,
        [(2, 1), (2, 3), (3, 4), (10, 11), (11, 12), (12, 10), (11, 10)],
        EDGE_SCHEMA,
    )
    verts = small_df(spark, [(1,), (2,), (3,), (4,), (10,), (11,), (12,), (99,)], "id long")
    got = _cc_map(connected_components(edges, vertices=verts))
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 99: 99}


def test_cc_without_vertices_only_endpoints(spark):
    edges = small_df(spark, [(5, 7), (7, 6)], EDGE_SCHEMA)
    got = _cc_map(connected_components(edges))
    assert got == {5: 5, 6: 5, 7: 5}


def test_cc_long_path_converges(spark, stored_rdds):
    # diameter 19: min label must walk the whole path
    edges = small_df(spark, [(i, i + 1) for i in range(1, 20)], EDGE_SCHEMA)
    before = stored_rdds()
    got = _cc_map(connected_components(edges, max_iter=25))
    assert set(got.values()) == {1} and len(got) == 20
    # every round's checkpoint is freed; only the result's stays
    assert stored_rdds() - before <= 1


def test_cc_max_iter_raises(spark, stored_rdds):
    edges = small_df(spark, [(i, i + 1) for i in range(1, 12)], EDGE_SCHEMA)
    before = stored_rdds()
    with pytest.raises(RuntimeError, match="convergence"):
        connected_components(edges, max_iter=2)
    assert stored_rdds() == before  # a failed call keeps nothing


def _union_find(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in list(parent)}


def test_cc_random_graph_matches_union_find(spark):
    """Deterministic pseudo-random graph: the full (id -> min-id
    component) mapping equals a sequential union-find's."""
    pairs = [((i * 2654435761) % 97, (i * 40503 + 7) % 97) for i in range(60)]
    edges = small_df(spark, pairs, EDGE_SCHEMA)
    expected = _union_find([(a, b) for a, b in pairs if a != b])
    assert _cc_map(connected_components(edges, max_iter=97)) == expected


def test_near_dup_clusters_end_to_end(spark, stored_rdds):
    from pbf_spark.operators.dedup import near_dup_clusters

    base = "the quick brown fox jumps over the lazy dog again and again today"
    docs = small_df(
        spark,
        [
            (1, base),
            (2, base + " extra"),                      # near-dup of 1
            (3, base.replace("quick", "rapid")),       # near-dup of 1
            (4, "completely different text about spark engines and parquet files"),
        ],
        "doc_id long, text string",
    )
    before = stored_rdds()
    rows = {r["doc_id"]: r for r in near_dup_clusters(docs).collect()}
    # LSH caches, pairs and CC rounds are freed; the labels' checkpoint stays
    assert stored_rdds() - before <= 1
    assert rows[1]["cluster_id"] == 1 and rows[1]["is_rep"]
    assert rows[2]["cluster_id"] == 1 and not rows[2]["is_rep"]
    assert rows[3]["cluster_id"] == 1
    assert rows[4]["cluster_id"] == 4 and rows[4]["cluster_size"] == 1
    assert rows[1]["cluster_size"] == 3


def test_latest_versions_snapshot(spark):
    from pbf_spark.operators.history import latest_versions

    rows = [
        ("node", 1, 1, 100, True),
        ("node", 1, 3, 300, True),   # winner
        ("node", 1, 2, 200, True),
        ("node", 2, 1, 100, True),
        ("node", 2, 2, 200, False),  # deleted at latest version
        ("way", 1, 5, 100, True),    # same id, different type: kept apart
        ("node", 3, 2, 150, True),
        ("node", 3, 2, 250, True),   # version tie -> newest ts wins
    ]
    df = small_df(
        spark,
        [
            (
                t,
                i,
                {
                    "version": v,
                    "uid": 7,
                    "ts": datetime.datetime(2024, 1, 1, 0, 0, ts // 100),
                    "changeset": 1,
                    "user": "u",
                    "visible": vis,
                },
            )
            for t, i, v, ts, vis in rows
        ],
        "entity_type string, id long, info struct<version:int,uid:int,ts:timestamp,changeset:long,user:string,visible:boolean>",
    )

    snap = {(r["entity_type"], r["id"]): r for r in latest_versions(df).collect()}
    assert snap[("node", 1)]["info"]["version"] == 3
    assert ("node", 2) not in snap            # latest is a delete
    assert snap[("way", 1)]["info"]["version"] == 5
    assert snap[("node", 3)]["info"]["ts"].second == 2  # ts 250 wins the tie

    hist = {
        (r["entity_type"], r["id"]): r
        for r in latest_versions(df, drop_deleted=False).collect()
    }
    assert hist[("node", 2)]["info"]["version"] == 2  # delete row retained


def test_ring_metrics_square_and_invariance(spark):
    from pbf_spark.operators.polygons import ring_metrics

    # ~11.1km x ~6.9km lat/lon box at 51.5N
    sq = [(51.45, -0.2), (51.55, -0.2), (51.55, -0.1), (51.45, -0.1)]
    closed = sq + [sq[0]]
    rotated = sq[2:] + sq[:2]
    reversed_ = list(reversed(sq))
    polys = small_df(
        spark,
        [
            ("open", [[{"lat": la, "lon": lo} for la, lo in sq]]),
            ("closed", [[{"lat": la, "lon": lo} for la, lo in closed]]),
            ("rot", [[{"lat": la, "lon": lo} for la, lo in rotated]]),
            ("rev", [[{"lat": la, "lon": lo} for la, lo in reversed_]]),
        ],
        "polygon_id string, rings array<array<struct<lat:double,lon:double>>>",
    )
    rows = {r["polygon_id"]: r for r in ring_metrics(polys).collect()}

    # all four encodings describe the same ring
    for key in ("closed", "rot", "rev"):
        assert rows[key]["n_vertices"] == 4
        assert rows[key]["area_km2"] == pytest.approx(rows["open"]["area_km2"], abs=1e-6)
        assert rows[key]["perimeter_km"] == pytest.approx(
            rows["open"]["perimeter_km"], abs=1e-6
        )
        assert rows[key]["centroid_lat"] == pytest.approx(51.5, abs=1e-6)
        assert rows[key]["centroid_lon"] == pytest.approx(-0.15, abs=1e-6)

    # numpy reference for the open ring
    R = 6371008.8
    phi0 = sum(la for la, _ in sq) / 4
    k = math.cos(math.radians(phi0)) * R
    xs = [math.radians(lo) * k for _, lo in sq]
    ys = [math.radians(la) * R for la, _ in sq]
    a2 = sum(
        xs[i] * ys[(i + 1) % 4] - xs[(i + 1) % 4] * ys[i] for i in range(4)
    )
    assert rows["open"]["area_km2"] == pytest.approx(abs(a2) / 2 / 1e6, abs=1e-5)
    assert rows["open"]["area_km2"] == pytest.approx(77.2, rel=0.01)


def test_ring_metrics_degenerate_centroid_fallback(spark):
    from pbf_spark.operators.polygons import ring_metrics

    polys = small_df(
        spark,
        [("line", [[{"lat": 51.0, "lon": 0.0}, {"lat": 52.0, "lon": 0.0}]])],
        "polygon_id string, rings array<array<struct<lat:double,lon:double>>>",
    )
    (r,) = ring_metrics(polys).collect()
    assert r["area_km2"] == 0.0
    assert r["centroid_lat"] == pytest.approx(51.5)
    assert r["centroid_lon"] == pytest.approx(0.0)


def test_apply_diff_replication(spark):
    """apply_diff = latest_versions over snapshot ∪ diff: creates land,
    modifies replace, visible=false deletes remove, stale diff rows
    (older than the snapshot's version) never regress, and re-applying
    the same diff is a no-op (replication replay idempotence)."""
    from pbf_spark.operators.history import apply_diff

    def mk(rows):
        return small_df(
            spark,
            [
                (
                    t,
                    i,
                    {
                        "version": v,
                        "uid": 7,
                        "ts": datetime.datetime(2024, 1, 1, 0, 0, ts // 100),
                        "changeset": 1,
                        "user": "u",
                        "visible": vis,
                    },
                )
                for t, i, v, ts, vis in rows
            ],
            "entity_type string, id long, info struct<version:int,uid:int,ts:timestamp,changeset:long,user:string,visible:boolean>",
        )

    snapshot = mk(
        [
            ("node", 1, 2, 100, True),
            ("node", 2, 1, 100, True),
            ("node", 3, 4, 100, True),
        ]
    )
    diff = mk(
        [
            ("node", 1, 3, 200, True),   # modify
            ("node", 2, 2, 200, False),  # delete
            ("node", 3, 2, 50, True),    # STALE replay row: must not regress
            ("node", 4, 1, 200, True),   # create
        ]
    )
    out = apply_diff(snapshot, diff)
    snap = {(r["entity_type"], r["id"]): r for r in out.collect()}
    assert snap[("node", 1)]["info"]["version"] == 3
    assert ("node", 2) not in snap
    assert snap[("node", 3)]["info"]["version"] == 4
    assert snap[("node", 4)]["info"]["version"] == 1

    # idempotent under replay
    again = apply_diff(out, diff)
    assert sorted((r["entity_type"], r["id"], r["info"]["version"]) for r in again.collect()) == sorted(
        (r["entity_type"], r["id"], r["info"]["version"]) for r in out.collect()
    )

    # history mode keeps the delete row itself
    kept = apply_diff(snapshot, diff, drop_deleted=False)
    hist = {(r["entity_type"], r["id"]): r for r in kept.collect()}
    assert hist[("node", 2)]["info"]["visible"] is False

    # the diff-only-shuffle fast path must equal the full-union window
    for dd in (True, False):
        fast = apply_diff(snapshot, diff, drop_deleted=dd)
        slow = apply_diff(snapshot, diff, drop_deleted=dd, snapshot_unique=False)
        assert fast.exceptAll(slow).isEmpty() and slow.exceptAll(fast).isEmpty()


def test_apply_diff_snapshot_side_no_exchange(spark):
    """Plan contract (r5 VERDICT item 5): apply_diff must NOT shuffle
    the snapshot — untouched rows pass through with no exchange; the
    only (entity_type, id) hash exchange is the window over the touched
    O(|diff|) subset, and the diff key set arrives by broadcast."""
    import datetime

    from pbf_spark.operators.history import apply_diff

    schema = (
        "entity_type string, id long, info struct<version:int,uid:int,"
        "ts:timestamp,changeset:long,user:string,visible:boolean>"
    )
    info = lambda v: {
        "version": v,
        "uid": 7,
        "ts": datetime.datetime(2024, 1, 1),
        "changeset": 1,
        "user": "u",
        "visible": True,
    }
    snapshot = small_df(spark, [("node", i, info(1)) for i in range(200)], schema)
    diff = small_df(spark, [("node", 3, info(2)), ("node", 777, info(1))], schema)
    out = apply_diff(snapshot, diff)
    plan = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted"
    )
    # the snapshot enters ONLY as the probe side of broadcast joins —
    # and a broadcast join's probe side is never shuffled, so no
    # snapshot row crosses an exchange except the diff-touched subset
    # that survives the LeftSemi filter BELOW the window exchange.
    # (The remaining hashpartitioning(entity_type...) exchanges are the
    # diff-side key distinct and the touched-subset window — both
    # O(|diff|).)
    assert "BroadcastHashJoin LeftAnti BuildRight" in plan
    assert "BroadcastHashJoin LeftSemi BuildRight" in plan
    assert "BroadcastExchange" in plan
    # and the result is correct
    got = {(r["entity_type"], r["id"]): r["info"]["version"] for r in out.collect()}
    assert got[("node", 3)] == 2 and got[("node", 777)] == 1 and len(got) == 201
