"""Spatial joins: cell-prefiltered point-in-polygon join and kNN.

The flagship operator (reference: per-node loop over country polygons,
``osmc/obm.c:209-226``, ``osmc/olm.c:161-190``) re-expressed Spark-first
as a **two-phase join**:

1. **Cell prefilter** — every boundary polygon is expanded driver-side
   (one builder, :func:`cover_df`, whatever the polygon count: the
   reference, too, holds its polygons in one process's RAM) into an
   exact-superset cell cover on the integer lon/lat grid
   (``geometry.polygon_cover``); points compute their cell with pure
   JVM integer arithmetic (whole-stage codegen) and equi-join the
   broadcast cover.  No shuffle of the big side at all: scan ->
   project -> broadcast-hash-join runs in one stage, which is the
   100 TB-safe shape (the probe side streams; skewed hot cells are
   irrelevant to a broadcast join because there is no shuffle by key).
   This is the join's only physical shape: no salted sort-merge and no
   mixed-level cover, since the cover is held whole on the driver
   either way.
2. **Exact refine** — surviving (point, boundary) candidate pairs run
   the reference's ray-cast parity test (``osmc/CountryPolygon.c:59-126``)
   as a SQL expression over the candidate's cover entry: a cell that
   no segment meets is INSIDE outright, any other cell carries the few
   segments that can decide its points (``geometry.refine_cover``), and
   an ``aggregate`` over them gives TOUCHING -> BOUNDARY, else the
   crossing parity.  The whole join runs in the JVM: no Python worker,
   no broadcast variable.

Empty polygons (0 segments match everything, ``CountryPolygon.c:105-107``)
ride the same pass: the points left-join the cover and every point row
gains an INSIDE entry per empty boundary.

kNN (north_rule addition; no reference analog — the reference's kd-trees
``osmc/2DTree.c`` serve viewport lookups) runs in a fixed number of
passes: one aggregate gives the exact point count per occupied cell of
a 64 x 64 grid, numpy prefix sums on the driver turn the counts into a
certified search radius per query cell, and one join of the queries to
the points of the cells within that radius, with an exact integer
distance and a ``row_number() <= k`` top-k, gives the rows.  No loop,
no checkpoint.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema

from . import cells
from .geometry import OUTSIDE, Polygon, refine_cover, refine_sql

DEFAULT_COVER_LEVEL = 9  # ~0.7 deg cells: fine enough to hug boundaries,
# coarse enough to keep the broadcast cover small


_SEG_NAMES = ["x0", "y0", "x1", "y1"]
_COVER_SCHEMA = pa.schema([
    ("boundary_id", pa.int64()),
    ("cell", pa.int64()),
    ("inside", pa.bool_()),
    ("segs", pa.list_(pa.struct([(n, pa.int64()) for n in _SEG_NAMES]))),
])
# cover entry of one (cell, boundary): INSIDE outright, or the segments
# that decide the cell's points
_ENTRY = "struct<boundary_id:bigint,_inside:boolean,_segs:%s>" % (
    from_arrow_schema(_COVER_SCHEMA)["segs"].dataType.simpleString()
)


def cover_df(spark: SparkSession, polys: list[Polygon], level: int) -> DataFrame:
    """:data:`_COVER_SCHEMA` rows: the exact-superset cover of every
    non-empty polygon, one row per (boundary_id, cell) with its refine
    geometry (``geometry.refine_cover``).  Built on the driver for every
    polygon count, as one Arrow table, so creating it starts no Python
    worker."""
    batches = []
    for p in polys:
        if p.n_segments == 0:
            continue
        cell, inside, offsets, segs = refine_cover(p, level)
        seg_arr = pa.StructArray.from_arrays(list(segs), names=_SEG_NAMES)
        batches.append(pa.RecordBatch.from_arrays(
            [
                pa.repeat(pa.scalar(p.boundary_id, pa.int64()), cell.size),
                pa.array(cell),
                pa.array(inside),
                pa.ListArray.from_arrays(pa.array(offsets), seg_arr),
            ],
            schema=_COVER_SCHEMA,
        ))
    # no non-empty polygon: a zero-chunk table fails inside
    # createDataFrame, a one-empty-chunk table does not
    table = (pa.Table.from_batches(batches, schema=_COVER_SCHEMA)
             if batches else _COVER_SCHEMA.empty_table())
    return spark.createDataFrame(table)


# One cover builder.  The former executor-side builder's name stays as
# an alias only because the benchmark's traced runs patch it
# (``perfbench/workloads.py``, ``cover_spans``); without it every traced
# pass that joins would fail.
cover_df_distributed = cover_df


def spatial_join(
    spark: SparkSession,
    points: DataFrame,
    polys: list[Polygon],
    level: int = DEFAULT_COVER_LEVEL,
    keep_position: bool = False,
) -> DataFrame:
    """points(.. lon_e7, lat_e7 ..) x polygons -> one row per (point,
    boundary) match.  Multi-assign (a point can match several
    boundaries); BOUNDARY counts as a match (``osmc/obm.c:28-30``).

    One physical shape for every polygon count: :func:`cover_df` builds
    the cover on the driver and the points join it as a broadcast, so
    the big side never shuffles, key skew is irrelevant and the join
    runs no Python.  A cover too large to broadcast would already be
    too large to build: it is one local relation in driver memory
    before the join is planned.
    """
    pt = points.withColumn(
        "cell", cells.lonlat_cell_col(F.col("lon_e7"), F.col("lat_e7"), level)
    )
    # Join the points to the per-cell aggregated cover (cell -> array of
    # entries) and explode cover entries ++ empty (match-everything)
    # polygon entries in the same pass.  With empties the join is LEFT,
    # so every point row survives to pick them up; the points subtree
    # is evaluated once (a separate cross-join branch would be a Union,
    # and Spark does not share a subtree across union branches).
    empty_ids = [p.boundary_id for p in polys if p.n_segments == 0]
    cov_agg = cover_df(spark, polys, level).groupBy("cell").agg(
        F.collect_list(
            F.struct("boundary_id", F.col("inside").alias("_inside"),
                     F.col("segs").alias("_segs"))
        ).alias("_cov")
    )
    cand = pt.join(F.broadcast(cov_agg), "cell", "left" if empty_ids else "inner")

    entries = F.coalesce(F.col("_cov"), F.expr(f"CAST(array() AS array<{_ENTRY}>)"))
    if empty_ids:
        ids = ", ".join(f"struct({int(i)}L, true, array())" for i in empty_ids)
        entries = F.concat(entries, F.expr(f"CAST(array({ids}) AS array<{_ENTRY}>)"))
    cand = cand.select("*", F.inline(entries)).drop("_cov")

    position = F.expr(refine_sql("lon_e7", "lat_e7", "_inside", "_segs"))
    refined = (
        cand.withColumn("position", position)
        .filter(F.col("position") != OUTSIDE)
        .drop("cell", "_inside", "_segs")
    )
    return refined if keep_position else refined.drop("position")


# ---------------------------------------------------------------------------
# kNN: exact cell histogram -> certified radius per query cell -> one join
# (SURVEY.md J9)
# ---------------------------------------------------------------------------

KNN_LEVEL = 6  # a 64 x 64 grid; one WORLD scale on both axes, so cells are square
_KNN_SIDE = 1 << KNN_LEVEL
_KNN_PAIR_BLOCK = 1 << 20  # query-cell x occupied-cell distances per numpy block

# the brute route's query frame comes from an Arrow table, which plans
# as a LocalTableScan; a frame built from a Python list is an RDD scan
# whose first action starts the Python worker pool.
_KNN_QUERY_SCHEMA = pa.schema(
    [("qid", pa.int64()), ("qx", pa.int64()), ("qy", pa.int64())]
)


class NullCoordinateError(ValueError):
    """A kNN query or point row with a NULL ``lon_e7`` or ``lat_e7``."""


_NULL_COORD_MSG = "kNN query and point rows need non-NULL lon_e7 and lat_e7"


def _null_coord(x, y):
    return x.isNull() | y.isNull()


def _dist2_col():
    """Exact squared e7 distance between (px, py) and (qx, qy):
    DECIMAL(19,0) deltas, DECIMAL(38,0) sum (dx^2 overflows int64 at
    antipodal range)."""
    dx = (F.col("px") - F.col("qx")).cast("decimal(19,0)")
    dy = (F.col("py") - F.col("qy")).cast("decimal(19,0)")
    return (dx * dx + dy * dy).cast("decimal(38,0)").alias("dist2")


def _top_k(cand: DataFrame, k: int) -> DataFrame:
    """(qid, pid, px, py, qx, qy) candidate rows -> the k nearest per
    qid by exact ``dist2``, ties broken by pid."""
    w = Window.partitionBy("qid").orderBy(F.col("dist2").asc(), F.col("pid").asc())
    return (
        cand.select("qid", "pid", _dist2_col())
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "pid", "rank", "dist2")
    )


def _knn_cell_pairs(
    occupied: np.ndarray, counts: np.ndarray, qcells: np.ndarray, k: int
) -> pa.Table:
    """(qkey, key) rows: each query cell paired with every occupied cell
    within its certified Chebyshev radius.

    ``occupied`` are the point cells (``cx * 64 + cy``), ``counts`` their
    points with both coordinates in [-HALF_WORLD, HALF_WORLD], and
    ``qcells`` the distinct query cells (-1: a query outside that range).

    A grid coordinate v lies in its cell's CLOSED extent [c*w, (c+1)*w]
    (v + HALF_WORLD, cell width w; +HALF_WORLD clamps into the last cell,
    on its upper edge).  So with r the smallest Chebyshev radius whose
    disk holds k counted points, the k-th neighbor of an in-range query
    is within D = sqrt(2)*(r+1)*w, and a point m cells away on an axis is
    at least (m-1)*w away: every point within D lies within
    R = floor(sqrt(2)*(r+1)) + 1 cells.  A point outside the range clamps
    into an edge cell but is only farther from an in-range query than
    that cell; it is a candidate, never counted.  A query with fewer
    than k counted points, or outside the range, pairs with every
    occupied cell."""
    n = _KNN_SIDE
    grid = np.zeros(n * n, np.int64)
    grid[occupied] = counts
    prefix = np.zeros((n + 1, n + 1), np.int64)
    prefix[1:, 1:] = grid.reshape(n, n).cumsum(0).cumsum(1)
    qx, qy = np.divmod(qcells, n)
    r = np.arange(n)
    x0, x1 = (np.clip(qx[:, None] + d, 0, n) for d in (-r, r + 1))
    y0, y1 = (np.clip(qy[:, None] + d, 0, n) for d in (-r, r + 1))
    disk = prefix[x1, y1] - prefix[x0, y1] - prefix[x1, y0] + prefix[x0, y0]
    enough = disk >= k
    radius = np.where(
        enough.any(1) & (qcells >= 0),
        np.floor(np.sqrt(2.0) * (enough.argmax(1) + 1)).astype(np.int64) + 1,
        2 * n,
    )
    ox, oy = np.divmod(occupied, n)
    step = max(1, _KNN_PAIR_BLOCK // max(occupied.size, 1))
    qkey, key = [np.empty(0, np.int32)], [np.empty(0, np.int32)]
    for s in range(0, qcells.size, step):
        b = slice(s, s + step)
        cheb = np.maximum(np.abs(qx[b, None] - ox), np.abs(qy[b, None] - oy))
        i, j = np.nonzero(cheb <= radius[b, None])
        qkey.append(qcells[b][i].astype(np.int32))
        key.append(occupied[j].astype(np.int32))
    return pa.table({"qkey": np.concatenate(qkey), "key": np.concatenate(key)})


def knn(
    spark: SparkSession,
    queries: DataFrame,
    points: DataFrame,
    k: int,
    brute_max_pairs: int = 64_000_000,
    brute_max_queries: int = 8192,
) -> DataFrame:
    """For each query row (qid, lon_e7, lat_e7) the k nearest point rows
    (pid, lon_e7, lat_e7) by exact squared euclidean distance in e7 units
    (DECIMAL(38,0) — dx^2 overflows int64 at antipodal range), ties broken
    by pid.  A NULL coordinate on either side raises
    :class:`NullCoordinateError`.

    One aggregate counts the points per occupied cell of the
    :data:`KNN_LEVEL` grid (and lists the query cells); the driver turns
    the counts into a certified search radius per query cell
    (:func:`_knn_cell_pairs`); one join of queries -> (query cell,
    occupied cell) pairs -> points, the exact distance and a top-k window
    give the result.  Distances are exact and every point that can
    reach a query's top k is a candidate, so the rows equal the brute
    result by construction.

    Small-input route: when the query set is tiny and the estimated
    |Q| x |P| fits ``brute_max_pairs``, collect the queries (one limited
    pass), broadcast them, and stream the points through one
    exact-distance pass with the same top-k window.  |P| is estimated
    from optimizer plan statistics (no extra pass; a wrong estimate only
    changes which plan runs, never the rows).
    """
    try:
        est_bytes = int(
            points._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
    except Exception:
        est_bytes = None
    # |P| estimate = est_bytes / 8: plan stats carry COMPRESSED
    # file bytes through the width-scaled projections, and 8 B/row is
    # at/below the practical compressed floor for 3-long rows, so the
    # estimate errs high (toward the histogram path); on the in-repo
    # derivation shapes stats report ~87 B/row, i.e. ~11x
    # overestimation — still far under the bound for the bench-sized
    # inputs this route targets.  |Q| >= 1 in the bound below, so
    # when |P| alone exceeds it the query collect cannot change the
    # route and is skipped.
    if est_bytes is not None and est_bytes // 8 + 1 <= brute_max_pairs:
        q_rows = (
            queries.select("qid", "lon_e7", "lat_e7")
            .limit(brute_max_queries + 1)
            .toArrow()
        )
        if q_rows.num_rows <= brute_max_queries and (
            max(q_rows.num_rows, 1) * (est_bytes // 8 + 1) <= brute_max_pairs
        ):
            # a NULL distance would sort first in the top-k window
            if (
                q_rows["lon_e7"].null_count or q_rows["lat_e7"].null_count
                or not points.filter(
                    _null_coord(F.col("lon_e7"), F.col("lat_e7"))
                ).isEmpty()
            ):
                raise NullCoordinateError(_NULL_COORD_MSG)
            qs = spark.createDataFrame(
                q_rows.rename_columns(_KNN_QUERY_SCHEMA.names)
                .cast(_KNN_QUERY_SCHEMA)
            )
            ps = points.select(
                F.col("pid"), F.col("lon_e7").alias("px"),
                F.col("lat_e7").alias("py"),
            )
            # spread the streamed side: the local single-row-group scan
            # plans 1-2 partitions, and the per-point work here is heavy
            # (|Q| DECIMAL(38,0) distance evaluations per row), so one
            # narrow exchange buys |cores|-way parallelism.  The spread
            # decision reuses the plan-stats estimate that chose this
            # route: under one 128 MB scan split the scan plans ~1
            # partition, so spread (``rdd.getNumPartitions()`` would
            # cost a DataFrame->RDD conversion on the driver, ~0.1 s).
            # Larger inputs keep the scan's own parallelism.
            par = spark.sparkContext.defaultParallelism
            if est_bytes < (128 << 20):
                ps = ps.repartition(par)
            return _top_k(ps.crossJoin(F.broadcast(qs)), k)

    x, y = F.col("lon_e7"), F.col("lat_e7")
    # axis_tile_col alone clamps a NULL into the last cell (least and
    # greatest skip NULLs): the NULL test comes first
    null = _null_coord(x, y)
    key = (
        cells.axis_tile_col(x, KNN_LEVEL) * _KNN_SIDE
        + cells.axis_tile_col(y, KNN_LEVEL)
    ).cast("int")
    h = cells.HALF_WORLD
    in_range = x.between(-h, h) & y.between(-h, h)
    pt = points.select(
        "pid", x.alias("px"), y.alias("py"), F.when(~null, key).alias("key"),
        in_range.cast("int").alias("_in"),
    )
    qt = queries.select(
        "qid", x.alias("qx"), y.alias("qy"),
        F.when(null, None).when(in_range, key).otherwise(-1).alias("qkey"),
    )
    # the one driver read: in-range point count per occupied cell
    # (side 0) and the distinct query cells (side 1)
    hist = (
        pt.select(F.lit(0).alias("side"), "key", "_in")
        .unionByName(
            qt.select(F.lit(1).alias("side"), F.col("qkey").alias("key"),
                      F.lit(0).alias("_in"))
        )
        .groupBy("side", "key")
        .agg(F.sum("_in").alias("n"))
        .toArrow()
    )
    if hist["key"].null_count:
        raise NullCoordinateError(_NULL_COORD_MSG)
    side, cell, n = (hist[c].to_numpy() for c in ("side", "key", "n"))
    pairs = _knn_cell_pairs(cell[side == 0], n[side == 0], cell[side == 1], k)
    cand = (
        qt.join(F.broadcast(spark.createDataFrame(pairs)), "qkey")
        .join(pt, "key")
    )
    return _top_k(cand, k)

