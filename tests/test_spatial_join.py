"""End-to-end spatial join + kNN vs pure-Python oracles (golden fixtures)."""

import re
from collections import Counter

import numpy as np
import pytest
from pyspark.sql import functions as F

from osmgraft import synth
from osmgraft.geometry import pip_matches
from osmgraft.join import knn, spatial_join

pytestmark = pytest.mark.spark


@pytest.fixture(scope="module")
def entities(spark, sf_dir):
    return synth.geo_entities_df(spark, sf_dir).cache()


def test_spatial_join_matches_oracle(spark, entities):
    polys = synth.boundaries()
    got = (
        spatial_join(spark, entities, polys)
        .select("doc_id", "ent_idx", "boundary_id")
        .collect()
    )
    got_set = {(r.doc_id, r.ent_idx, r.boundary_id) for r in got}
    assert len(got) == len(got_set), "duplicate match rows"

    pts = entities.select("doc_id", "ent_idx", "lon_e7", "lat_e7").collect()
    xs = np.array([r.lon_e7 for r in pts], dtype=np.int64)
    ys = np.array([r.lat_e7 for r in pts], dtype=np.int64)
    want = set()
    for p in polys:
        m = pip_matches(xs, ys, p)
        for i in np.nonzero(m)[0]:
            want.add((pts[int(i)].doc_id, pts[int(i)].ent_idx, p.boundary_id))
    assert got_set == want
    # sanity: the fixture actually exercises the interesting cases
    assert any(b == 5 for _, _, b in want), "empty FULL polygon rows missing"
    counts = {}
    for d, e, b in want:
        counts[(d, e)] = counts.get((d, e), 0) + 1
    assert max(counts.values()) >= 3, "multi-assign not exercised"


def test_boundary_points_match(spark, entities):
    """Pinned vertex/edge docs must land as BOUNDARY matches (inside)."""
    polys = synth.boundaries()
    res = spatial_join(spark, entities, polys, keep_position=True)
    pinned = (
        entities.filter(
            (F.col("doc_id") % 101 == 0) & (F.col("doc_id") % 7 != 0)
            & (F.col("ent_idx") == 0)
        )
        .select("doc_id")
        .collect()
    )
    assert pinned, "fixture has no pinned docs"
    from osmgraft.geometry import BOUNDARY

    bd = res.filter((F.col("position") == BOUNDARY) & (F.col("boundary_id") == 1))
    bd_ids = {r.doc_id for r in bd.select("doc_id").collect()}
    for r in pinned:
        assert r.doc_id in bd_ids


# physical nodes that run Python workers (``MapInArrow`` is Spark 4's
# name for what Spark 3 printed as ``PythonMapInArrow``)
PYTHON_NODES = (
    "ArrowEvalPython", "BatchEvalPython", "MapInPandas", "MapInArrow",
    "PythonMapInArrow",
)


def _plan_node_counts(spark, df):
    """Node-name counts of the physical plan Spark would run for ``df``
    with AQE off, so exchange reuse is applied up front: a reused
    exchange is a leaf, and the cached relation under an
    InMemoryTableScan is not descended into."""
    def walk(p):
        yield p.nodeName()
        ch = p.children()
        for i in range(ch.size()):
            yield from walk(ch.apply(i))

    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        return Counter(walk(df._jdf.queryExecution().executedPlan()))
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)


@pytest.mark.parametrize(
    "kw, point_scans, nested_loops, many",
    [
        ({}, 1, 0, False),
        # points: the join side plus the 2% hot-cell sample (its
        # broadcast is built once and reused by both salting joins);
        # the one nested loop replicates the cover into the salt buckets
        ({"strategy": "sortmerge", "salt_buckets": 4}, 2, 1, False),
        ({"compact_cover": True}, 1, 0, False),
        ({}, 1, 0, True),
    ],
    ids=["broadcast", "sortmerge", "compact", "many"],
)
def test_empty_polygon_attach_is_single_pass(
    spark, entities, kw, point_scans, nested_loops, many
):
    """Every strategy attaches empty (match-everything) polygons inside
    its one cover-join pass: the plan has no Union of a second branch
    over the points subtree, the refine runs in the JVM (no Python
    node), and the empty-boundary rows still carry position == INSIDE
    via the refine column.  ``many``: more than 64 polygons, whose
    cover subtree holds no Python node either."""
    from osmgraft.geometry import INSIDE, Polygon

    if many:
        polys = synth.boundaries_many(70) + [Polygon(999, "world", [])]
    else:
        polys = synth.boundaries()
    assert any(p.n_segments == 0 for p in polys)  # each set has a 'world'
    # plan shape on the default (position-dropped) path — the shape the
    # bench/gate queries run
    nodes = _plan_node_counts(spark, spatial_join(spark, entities, polys, **kw))
    assert nodes["Union"] == 0
    for py_node in PYTHON_NODES:
        assert nodes[py_node] == 0, py_node
    assert nodes["InMemoryTableScan"] == point_scans
    assert nodes["BroadcastNestedLoopJoin"] == nested_loops
    res = spatial_join(spark, entities, polys, keep_position=True, **kw)
    empty_ids = {p.boundary_id for p in polys if p.n_segments == 0}
    empty_rows = res.filter(
        F.col("boundary_id").isin(*empty_ids)
    ).select("position").distinct().collect()
    assert {r.position for r in empty_rows} == {INSIDE}


@pytest.mark.parametrize(
    "kw",
    [{}, {"strategy": "sortmerge", "salt_buckets": 4}, {"compact_cover": True}],
    ids=["broadcast", "sortmerge", "compact"],
)
def test_spatial_join_creates_no_broadcast_variable(spark, entities, monkeypatch, kw):
    """The refine reads its geometry from the cover join, not from a
    ``SparkContext.broadcast`` that nothing could release: building and
    running the join for every strategy creates none."""
    def refuse(self, value):
        raise AssertionError("spatial_join created a broadcast variable")

    monkeypatch.setattr(type(spark.sparkContext), "broadcast", refuse)
    polys = synth.boundaries()
    rows = spatial_join(spark, entities, polys, **kw).select("boundary_id").collect()
    assert {r.boundary_id for r in rows} >= {1, 5}


@pytest.mark.parametrize(
    "kw",
    [{}, {"strategy": "sortmerge", "salt_buckets": 4}, {"compact_cover": True}],
    ids=["broadcast", "sortmerge", "compact"],
)
def test_only_empty_polygons_match_every_point(spark, entities, kw):
    """A boundary set with no segments at all gives an empty cover; every
    strategy still matches every point to each empty polygon."""
    from osmgraft.geometry import Polygon

    polys = [Polygon(998, "world", []), Polygon(999, "world2", [])]
    got = spatial_join(spark, entities, polys, **kw).groupBy("boundary_id").count()
    n = entities.count()
    assert {(r.boundary_id, r["count"]) for r in got.collect()} == {(998, n), (999, n)}


def test_empty_polygon_attach_with_distributed_cover(spark, sf_dir):
    """The inline empty-attach also composes with a >64-polygon cover,
    and the broadcast and sortmerge strategies agree on the same mixed
    set."""
    from osmgraft.geometry import Polygon

    ents = synth.geo_entities_df(spark, sf_dir).cache()
    polys = synth.boundaries_many(70) + [Polygon(999, "world", [])]
    got = spatial_join(spark, ents, polys).select(
        "doc_id", "ent_idx", "boundary_id"
    )
    n_pts = ents.count()
    assert got.filter(F.col("boundary_id") == 999).count() == n_pts
    sm = spatial_join(spark, ents, polys, strategy="sortmerge").select(
        "doc_id", "ent_idx", "boundary_id"
    )
    assert Counter(map(tuple, got.collect())) == Counter(map(tuple, sm.collect()))
    ents.unpersist()


def test_knn_matches_bruteforce(spark, entities):
    pts = entities.select(
        (F.col("doc_id") * 10 + F.col("ent_idx")).alias("pid"), "lon_e7", "lat_e7"
    )
    qs = pts.filter(F.col("pid") < 300).select(
        F.col("pid").alias("qid"), "lon_e7", "lat_e7"
    )
    k = 5
    got = knn(spark, qs, pts, k=k).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r.qid, []).append((r.rank, r.pid, int(r.dist2)))

    # the r6 cost-based brute branch and the ring path must agree
    # exactly (brute_max_pairs=0 forces the ring loop)
    ring = knn(spark, qs, pts, k=k, brute_max_pairs=0).collect()
    ring_set = {(r.qid, r.rank, r.pid, int(r.dist2)) for r in ring}
    got_set = {(r.qid, r.rank, r.pid, int(r.dist2)) for r in got}
    assert ring_set == got_set

    # brute-force oracle
    prows = pts.collect()
    qrows = qs.collect()
    P = np.array([(r.pid, r.lon_e7, r.lat_e7) for r in prows], dtype=np.int64)
    for q in qrows:
        d2 = (P[:, 1] - q.lon_e7).astype(object) ** 2 + (
            P[:, 2] - q.lat_e7
        ).astype(object) ** 2
        order = sorted(zip(d2, P[:, 0].tolist()))[:k]
        want = [(i + 1, pid, int(d)) for i, (d, pid) in enumerate(order)]
        assert sorted(by_q[q.qid]) == want, f"qid={q.qid}"


def test_knn_precomputed_r0_identical(spark, entities):
    """r0 is a performance hint only: any starting radius yields the
    same certified result set (radius-based certification)."""
    pts = entities.select(
        (F.col("doc_id") * 10 + F.col("ent_idx")).alias("pid"), "lon_e7", "lat_e7"
    )
    qs = pts.filter(F.col("pid") < 200).select(
        F.col("pid").alias("qid"), "lon_e7", "lat_e7"
    )
    base = {
        (r.qid, r.rank, r.pid, int(r.dist2))
        for r in knn(spark, qs, pts, k=3, brute_max_pairs=0).collect()
    }
    for forced in (1, 7, 64):
        got = {
            (r.qid, r.rank, r.pid, int(r.dist2))
            for r in knn(
                spark, qs, pts, k=3, r0=forced, brute_max_pairs=0
            ).collect()
        }
        assert got == base, f"r0={forced}"
    assert base


def test_knn_driver_frames_are_local_table_scans(spark):
    """knn's driver-built frames (ring offsets, the brute route's query
    set, the ring loop's empty result and carry frames) come from Arrow
    tables: they plan as LocalTableScan, never as the ``Scan
    ExistingRDD`` of a Python-list frame, whose first action starts the
    Python worker pool."""
    from osmgraft.join import _annulus_offsets_df

    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    offs = _annulus_offsets_df(spark, 0, 2)
    assert "LocalTableScan" in plan(offs)
    assert sorted(map(tuple, offs.collect())) == sorted(
        (dx, dy) for dx in range(-2, 3) for dy in range(-2, 3)
        if 0 < max(abs(dx), abs(dy)) <= 2
    )
    pts = spark.range(400).select(
        F.col("id").alias("pid"),
        (F.col("id") * 7919 % 1000 * 100_000).alias("lon_e7"),
        (F.col("id") * 104_729 % 1000 * 100_000).alias("lat_e7"),
    )
    qs = pts.filter("pid < 20").withColumnRenamed("pid", "qid")
    brute = knn(spark, qs, pts, k=3)
    ring = knn(spark, qs, pts, k=3, brute_max_pairs=0)
    assert "LocalTableScan" in plan(brute)
    assert "ExistingRDD" not in plan(brute)
    # the ring loop's own localCheckpoints (they carry the `done` flag)
    # are its only RDD scans
    scans = re.findall(r"Scan ExistingRDD\[([^\]]*)\]", plan(ring))
    assert scans and all("done#" in cols for cols in scans), scans
    assert sorted(map(tuple, brute.collect())) == sorted(map(tuple, ring.collect()))
