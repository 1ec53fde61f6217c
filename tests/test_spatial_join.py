"""End-to-end spatial join + kNN vs pure-Python oracles (golden fixtures)."""

from collections import Counter

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from osmgraft import synth
from osmgraft.geometry import pip_matches
from osmgraft.join import NullCoordinateError, knn, spatial_join

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


@pytest.mark.parametrize("many", [False, True], ids=["broadcast", "many"])
def test_empty_polygon_attach_is_single_pass(spark, entities, many):
    """The join attaches empty (match-everything) polygons inside its
    one broadcast-cover pass: the plan scans the points once, has one
    broadcast hash join and no sort-merge join, no Union of a second
    branch over the points subtree, and no Python node (the refine runs
    in the JVM); every point matches each empty polygon with position
    == INSIDE.  ``many``: more than 64 polygons, whose cover subtree
    holds no Python node either."""
    from osmgraft.geometry import INSIDE, Polygon

    if many:
        polys = synth.boundaries_many(70) + [Polygon(999, "world", [])]
    else:
        polys = synth.boundaries()
    assert any(p.n_segments == 0 for p in polys)  # each set has a 'world'
    # plan shape on the default (position-dropped) path — the shape the
    # bench/gate queries run
    nodes = _plan_node_counts(spark, spatial_join(spark, entities, polys))
    assert nodes["Union"] == 0
    for py_node in PYTHON_NODES:
        assert nodes[py_node] == 0, py_node
    assert nodes["InMemoryTableScan"] == 1
    assert nodes["BroadcastNestedLoopJoin"] == 0
    assert nodes["SortMergeJoin"] == 0
    assert nodes["BroadcastHashJoin"] == 1
    res = spatial_join(spark, entities, polys, keep_position=True)
    empty_ids = {p.boundary_id for p in polys if p.n_segments == 0}
    empty_rows = res.filter(
        F.col("boundary_id").isin(*empty_ids)
    ).groupBy("boundary_id", "position").count().collect()
    n_pts = entities.count()
    assert {(r.boundary_id, r.position, r["count"]) for r in empty_rows} == {
        (i, INSIDE, n_pts) for i in empty_ids
    }


@pytest.mark.parametrize("many", [False, True], ids=["broadcast", "many"])
def test_spatial_join_creates_no_broadcast_variable(spark, entities, monkeypatch, many):
    """The refine reads its geometry from the cover join, not from a
    ``SparkContext.broadcast`` that nothing could release: building and
    running the join creates none, for a few polygons or for more than
    64."""
    def refuse(self, value):
        raise AssertionError("spatial_join created a broadcast variable")

    monkeypatch.setattr(type(spark.sparkContext), "broadcast", refuse)
    polys = synth.boundaries() + (synth.boundaries_many(70) if many else [])
    rows = spatial_join(spark, entities, polys).select("boundary_id").collect()
    assert {r.boundary_id for r in rows} >= {1, 5}


def test_empty_polygon_attach_with_distributed_cover(spark, entities):
    """The inline empty-attach also composes with a >64-polygon cover:
    on the same mixed set the join equals the scalar point-in-polygon
    oracle row for row, with every point matched to the empty polygon."""
    from osmgraft.geometry import Polygon

    polys = synth.boundaries_many(70) + [Polygon(999, "world", [])]
    got = spatial_join(spark, entities, polys).select(
        "doc_id", "ent_idx", "boundary_id"
    )
    got_rows = Counter(map(tuple, got.collect()))
    pts = entities.select("doc_id", "ent_idx", "lon_e7", "lat_e7").collect()
    assert sum(1 for _, _, b in got_rows.elements() if b == 999) == len(pts)
    xs = np.array([r.lon_e7 for r in pts], dtype=np.int64)
    ys = np.array([r.lat_e7 for r in pts], dtype=np.int64)
    want = Counter()
    for p in polys:
        for i in np.nonzero(pip_matches(xs, ys, p))[0]:
            want[(pts[int(i)].doc_id, pts[int(i)].ent_idx, p.boundary_id)] += 1
    assert got_rows == want


def test_only_empty_polygons_match_every_point(spark, entities):
    """A boundary set with no segments at all gives an empty cover; the
    join still matches every point to each empty polygon."""
    from osmgraft.geometry import Polygon

    polys = [Polygon(998, "world", []), Polygon(999, "world2", [])]
    got = spatial_join(spark, entities, polys).groupBy("boundary_id").count()
    n = entities.count()
    assert {(r.boundary_id, r["count"]) for r in got.collect()} == {(998, n), (999, n)}


def _knn_reference(P, Q, k):
    """Numpy brute-force kNN: {(qid, pid, rank, dist2)} over (id, x, y)
    rows, exact squared distance (Python ints), ties by pid."""
    P = np.asarray(P, dtype=np.int64).reshape(-1, 3)
    out = set()
    for qid, qx, qy in Q:
        d2 = (P[:, 1] - qx).astype(object) ** 2 + (P[:, 2] - qy).astype(object) ** 2
        order = sorted(zip(d2, P[:, 0].tolist()))[:k]
        out |= {(qid, pid, i + 1, int(d)) for i, (d, pid) in enumerate(order)}
    return out


def _knn_rows(df):
    return {(r.qid, r.pid, r.rank, int(r.dist2)) for r in df.collect()}


def test_knn_matches_bruteforce(spark, entities):
    pts = entities.select(
        (F.col("doc_id") * 10 + F.col("ent_idx")).alias("pid"), "lon_e7", "lat_e7"
    )
    qs = pts.filter(F.col("pid") < 300).select(
        F.col("pid").alias("qid"), "lon_e7", "lat_e7"
    )
    k = 5
    got = _knn_rows(knn(spark, qs, pts, k=k))
    # the cost-based brute route and the histogram path must agree
    # exactly (brute_max_pairs=0 forces the histogram path)
    assert _knn_rows(knn(spark, qs, pts, k=k, brute_max_pairs=0)) == got

    prows = pts.collect()
    P = [(r.pid, r.lon_e7, r.lat_e7) for r in prows]
    Q = [(r.pid, r.lon_e7, r.lat_e7) for r in prows if r.pid < 300]
    assert got == _knn_reference(P, Q, k)


_H = 1_800_000_000  # HALF_WORLD: the kNN grid spans [-_H, _H] on both axes
_W = 56_250_000  # kNN grid cell width: WORLD / 64; cell 32 starts at 0


def _knn_cases():
    rng = np.random.default_rng(3)
    blob = rng.normal(0, 2e7, (300, 2)).astype(np.int64) + [1_000_000_000, 400_000_000]
    spread = rng.integers(-_H, _H, (40, 2)) // [1, 2]
    xy = np.vstack([blob, spread])
    clustered = [(i, int(x), int(y)) for i, (x, y) in enumerate(xy)]
    lattice = [
        (i * 10 + j, i * 10_000_000, j * 10_000_000)
        for i in range(10) for j in range(10)
    ]
    edges = [
        (0, _H, 0), (1, -_H, 0), (2, 0, 900_000_000), (3, 0, -900_000_000),
        (4, _H, 900_000_000), (5, 1_700_000_000, 850_000_000),
        (6, -_H + 1, -899_999_999),
    ]
    return {
        "clustered": (
            clustered,
            clustered[::7] + [(1000, -1_700_000_000, -800_000_000)],
        ),
        # equal distances everywhere: the pid tie-break decides
        "ties": (
            lattice,
            [(0, 45_000_000, 45_000_000), (1, 5_000_000, 0), (2, 0, 0)],
        ),
        "k_gt_points": (clustered[:3], [(0, 0, 0), (1, _H, 900_000_000)]),
        "lon180_lat90": (
            edges,
            [(0, _H, 900_000_000), (1, -_H, -900_000_000), (2, 1_790_000_000, 0),
             (3, 0, 0)],
        ),
        # one counted point across the query's own cell (~sqrt(2) cell
        # widths away) certifies radius 0; the nearer point sits two
        # cells away, so the candidate disk must reach past sqrt(2)
        "radius_corner": (
            [(0, _W - 1, _W - 1), (1, -_W - 1, 1)],
            [(0, 1, 1)],
        ),
        # a point at lon 3.5e9 clamps into the last grid cell; counted
        # there, it would certify a one-cell radius for query 0, whose
        # nearest neighbor is the point at lon 1.0e9
        "out_of_grid": (
            [(0, 3_500_000_000, 0), (1, 1_000_000_000, 0),
             (2, -2_000_000_000, 10)],
            [(0, 1_750_000_000, 0), (1, 4_000_000_000, 0), (2, -_H, 0)],
        ),
    }


@pytest.mark.parametrize("case", sorted(_knn_cases()))
def test_knn_histogram_path_equals_brute_route_and_reference(spark, case):
    def frame(rows, id_col):
        cols = zip(*rows)
        return spark.createDataFrame(pa.table({
            c: pa.array(v, pa.int64())
            for c, v in zip((id_col, "lon_e7", "lat_e7"), cols)
        }))

    P, Q = _knn_cases()[case]
    pts, qs = frame(P, "pid"), frame(Q, "qid")
    for k in (1, 5, 10):
        want = _knn_reference(P, Q, k)
        assert _knn_rows(knn(spark, qs, pts, k=k)) == want, k
        assert _knn_rows(knn(spark, qs, pts, k=k, brute_max_pairs=0)) == want, k


def test_knn_null_coordinate_is_a_named_error(spark, tmp_path):
    """A NULL coordinate has no distance (a NULL dist2 would sort first
    in the top-k window) and no grid cell.  Both routes raise, for a
    point or a query."""

    path = str(tmp_path / "pts.parquet")
    pq.write_table(pa.table({
        "pid": pa.array([1, 2, 3, 4, 5], pa.int64()),
        "lon_e7": pa.array([100, 130, None, 150, 200], pa.int64()),
        "lat_e7": pa.array([100, 130, 110, 150, 200], pa.int64()),
    }), path)
    pts = spark.read.parquet(path)
    qs = spark.createDataFrame(pa.table({
        "qid": pa.array([1], pa.int64()), "lon_e7": pa.array([110], pa.int64()),
        "lat_e7": pa.array([110], pa.int64()),
    }))
    null_q = spark.createDataFrame(pa.table({
        "qid": pa.array([1], pa.int64()), "lon_e7": pa.array([110], pa.int64()),
        "lat_e7": pa.array([None], pa.int64()),
    }))
    good_pts = pts.filter(F.col("lon_e7").isNotNull())
    for brute_max_pairs in (64_000_000, 0):
        with pytest.raises(NullCoordinateError):
            knn(spark, qs, pts, k=2, brute_max_pairs=brute_max_pairs)
        with pytest.raises(NullCoordinateError):
            knn(spark, null_q, good_pts, k=2, brute_max_pairs=brute_max_pairs)
        got = knn(spark, qs, good_pts, k=2, brute_max_pairs=brute_max_pairs)
        assert sorted((r.rank, r.pid) for r in got.collect()) == [(1, 1), (2, 2)]


def test_knn_driver_frames_are_local_table_scans(spark):
    """knn's driver-built frames (the brute route's query set, the
    histogram path's cell pairs) come from Arrow tables: they plan as
    LocalTableScan, never as the ``Scan ExistingRDD`` of a Python-list
    frame, whose first action starts the Python worker pool.  The
    histogram path has no checkpoint either (that, too, would scan as
    an RDD)."""

    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    pts = spark.range(400).select(
        F.col("id").alias("pid"),
        (F.col("id") * 7919 % 1000 * 100_000).alias("lon_e7"),
        (F.col("id") * 104_729 % 1000 * 100_000).alias("lat_e7"),
    )
    qs = pts.filter("pid < 20").withColumnRenamed("pid", "qid")
    brute = knn(spark, qs, pts, k=3)
    hist = knn(spark, qs, pts, k=3, brute_max_pairs=0)
    for df in (brute, hist):
        assert "LocalTableScan" in plan(df)
        assert "ExistingRDD" not in plan(df)
    assert sorted(map(tuple, brute.collect())) == sorted(map(tuple, hist.collect()))
