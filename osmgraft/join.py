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
``osmc/2DTree.c`` serve viewport lookups): iterative k-ring expansion on
the same grid with an exact integer distance refine and a
``row_number() <= k`` top-k; ring radius doubles until the k-th
neighbor's distance is certified by the ring guarantee.
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
# coarse enough that planet-scale covers stay broadcastable


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


def cover_df(
    spark: SparkSession,
    polys: list[Polygon],
    level: int,
    compacted: bool = False,
) -> DataFrame:
    """:data:`_COVER_SCHEMA` rows: the exact-superset cover of every
    non-empty polygon, one row per (boundary_id, cell) with its refine
    geometry (``geometry.refine_cover``).  Built on the driver for every
    polygon count, as one Arrow table, so creating it starts no Python
    worker.

    ``compacted=True`` collapses complete sibling quartets into parents
    (mixed-level cover, H3-compact analog) — smaller broadcast for
    large boundaries; the point side then joins on every ancestor level
    present in the cover."""
    batches = []
    for p in polys:
        if p.n_segments == 0:
            continue
        cell, inside, offsets, segs = refine_cover(p, level, compacted=compacted)
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
    strategy: str = "broadcast",
    compact_cover: bool = False,
    salt_buckets: int = 8,
    hot_cell_threshold: int | None = None,
) -> DataFrame:
    """points(.. lon_e7, lat_e7 ..) x polygons -> one row per (point,
    boundary) match.  Multi-assign (a point can match several
    boundaries); BOUNDARY counts as a match (``osmc/obm.c:28-30``).
    Every strategy and polygon count builds the cover with
    :func:`cover_df` on the driver, so the join runs no Python.

    Physical strategies:
      * ``broadcast`` (default) — the cover broadcasts; the big side
        never shuffles and key skew is irrelevant.  Right whenever the
        (compacted) planet cover fits the broadcast threshold.
      * ``sortmerge`` — for covers too large to broadcast: shuffle both
        sides on cell with **explicit hot-cell salting** (dense urban
        cells are split into ``salt_buckets`` sub-keys on the point
        side; the cover side replicates into every bucket), plus AQE
        skew-join as the backstop.  Salting only re-keys the shuffle —
        join results are identical (verified in tests).

    ``compact_cover`` joins against a mixed-level compacted cover: the
    point side explodes into one ancestor cell per level present
    (<= level+1 rows, typically 3-5) — smaller build side for one extra
    narrow explode.
    """
    cov = cover_df(spark, polys, level, compacted=compact_cover)
    if compact_cover:
        # an empty cover (only empty polygons) still needs one level,
        # so every point row survives to pick up the empties
        levels = sorted(
            {r.cell >> 52 for r in cov.select("cell").distinct().collect()}
        ) or [level]
        anc = F.array(
            *[
                cells.lonlat_cell_col(F.col("lon_e7"), F.col("lat_e7"), lv)
                for lv in levels
            ]
        )
        pt = points.select("*", F.posexplode(anc).alias("_lvl", "cell"))
    else:
        pt = points.withColumn(
            "cell",
            cells.lonlat_cell_col(F.col("lon_e7"), F.col("lat_e7"), level),
        )

    # One candidate shape for every strategy: join the points to the
    # per-cell aggregated cover (cell -> array of entries) and explode
    # cover entries ++ empty (match-everything) polygon entries in the
    # same pass.  With empties the join is LEFT, so every point row
    # survives to pick them up; the points subtree is evaluated once (a
    # separate cross-join branch would be a Union, and Spark does not
    # share a subtree across union branches).
    empty_ids = [p.boundary_id for p in polys if p.n_segments == 0]
    cov_agg = cov.groupBy("cell").agg(
        F.collect_list(
            F.struct("boundary_id", F.col("inside").alias("_inside"),
                     F.col("segs").alias("_segs"))
        ).alias("_cov")
    )
    how = "left" if empty_ids else "inner"
    if strategy == "broadcast":
        cand = pt.join(F.broadcast(cov_agg), "cell", how)
    elif strategy == "sortmerge":
        cand = _salted_sortmerge(
            spark, pt, cov_agg, salt_buckets, hot_cell_threshold, how
        )
    else:
        raise ValueError(f"unknown strategy {strategy!r}")

    no_entries = F.expr(f"CAST(array() AS array<{_ENTRY}>)")
    entries = F.coalesce(F.col("_cov"), no_entries)
    if empty_ids:
        ids = ", ".join(f"struct({int(i)}L, true, array())" for i in empty_ids)
        empties = F.expr(f"CAST(array({ids}) AS array<{_ENTRY}>)")
        if compact_cover:
            # one row per ancestor level: attach the empties on the
            # first level's row only, so each point gets each id once
            empties = F.when(F.col("_lvl") == 0, empties).otherwise(no_entries)
        entries = F.concat(entries, empties)
    cand = cand.select("*", F.inline(entries)).drop("_cov", "_lvl")

    position = F.expr(refine_sql("lon_e7", "lat_e7", "_inside", "_segs"))
    refined = (
        cand.withColumn("position", position)
        .filter(F.col("position") != OUTSIDE)
        .drop("cell", "_inside", "_segs")
    )
    return refined if keep_position else refined.drop("position")


def _salted_sortmerge(
    spark: SparkSession,
    pt: DataFrame,
    cov: DataFrame,
    salt_buckets: int,
    hot_cell_threshold: int | None,
    how: str,
) -> DataFrame:
    """Sort-merge cell join (``how``: inner or left) of the points to
    the per-cell cover with explicit hot-cell salting.

    Hot cells (observed point count above threshold) get per-row salt on
    the probe side; the (small) cover side replicates each hot cell into
    every salt bucket.  Salting only changes the shuffle key — the join
    result set is exactly the broadcast join's (probe-side salting +
    build-side replication preserves the cross product per cell).

    The hot-cell list comes from a SAMPLED count (SURVEY §4): hotness
    is a heuristic, and salting is result-preserving by construction,
    so sampling can only change *which* cells get pre-salted — AQE
    skew-join remains the backstop for a hot cell the sample misses.
    At 100 TB a full ``groupBy(cell).count()`` ahead of the real join
    would itself be a full-scan shuffle; the 2% sample keeps the stats
    job proportional to skew detection, not to the corpus.
    """
    sample_fraction = 0.02
    stats = (
        pt.sample(fraction=sample_fraction, seed=42).groupBy("cell").count()
    )
    if hot_cell_threshold is None:
        # cells whose sampled count exceeds 4x the sampled mean (the
        # same heuristic as a full pass, evaluated in sample space)
        row = stats.agg(
            F.expr("percentile_approx(count, 0.999)").alias("p999"),
            F.avg("count").alias("mean"),
        ).collect()[0]
        if row["mean"] is None:
            # empty sample (stats has no rows): no cell is pre-salted;
            # AQE skew-join handles any residual skew
            hot_cell_threshold = 1
        else:
            hot_cell_threshold = max(int(row["mean"] * 4) + 1, int(row["p999"]))
    else:
        # caller threshold is in full-scan units — scale to sample space
        hot_cell_threshold = max(1, int(hot_cell_threshold * sample_fraction))
    # hot-cell set stays a broadcast-joined DataFrame, never a driver
    # literal — an F.array literal in the plan degenerates when a dense
    # planet has millions of hot cells
    hot_df = (
        stats.filter(F.col("count") >= hot_cell_threshold)
        .select("cell", F.lit(True).alias("is_hot"))
    )
    is_hot = F.coalesce(F.col("is_hot"), F.lit(False))

    salted_pt = (
        pt.join(F.broadcast(hot_df), "cell", "left")
        .withColumn(
            "salt",
            F.when(is_hot, F.pmod(F.xxhash64("lon_e7", "lat_e7"), salt_buckets))
            .otherwise(F.lit(0))
            .cast("int"),
        )
        .drop("is_hot")
    )
    buckets = spark.range(salt_buckets).select(F.col("id").cast("int").alias("salt"))
    salted_cov = (
        cov.join(F.broadcast(hot_df), "cell", "left")
        .crossJoin(F.broadcast(buckets))
        .filter((F.col("salt") == 0) | is_hot)
        .drop("is_hot")
    )

    return (
        salted_pt.hint("merge").join(salted_cov, ["cell", "salt"], how).drop("salt")
    )


# ---------------------------------------------------------------------------
# kNN via k-ring expansion + exact integer distance refine (SURVEY.md J9)
# ---------------------------------------------------------------------------


def _annulus_offsets_df(spark: SparkSession, r_lo: int, r_hi: int) -> DataFrame:
    """Chebyshev annulus offsets r_lo < max(|dx|,|dy|) <= r_hi (no wrap:
    kNN runs in flat e7 space, matching the reference kd-tree's
    geometry).  Pass r_lo=-1 to include the center cell — the annulus
    delta means each disk cell is visited exactly once across rounds."""
    span = np.arange(-r_hi, r_hi + 1, dtype=np.int64)
    dx, dy = (a.ravel() for a in np.meshgrid(span, span, indexing="ij"))
    ring = np.maximum(np.abs(dx), np.abs(dy))
    keep = (r_lo < ring) & (ring <= r_hi)
    return spark.createDataFrame(pa.table({"dx": dx[keep], "dy": dy[keep]}))


# knn's driver-built frames come from Arrow tables, which plan as a
# LocalTableScan; a frame built from a Python list is an RDD scan whose
# first action starts the Python worker pool.
_KNN_QUERY_SCHEMA = pa.schema(
    [("qid", pa.int64()), ("qx", pa.int64()), ("qy", pa.int64())]
)
# the ring loop's running top-k rows (carry); results add the rank
_KNN_CARRY_SCHEMA = pa.schema(
    [(c, pa.int64()) for c in ("qid", "qcx", "qcy", "qx", "qy", "pid")]
    + [("dist2", pa.decimal128(38, 0))]
)


def _dist2_col():
    """Exact squared e7 distance between (px, py) and (qx, qy):
    DECIMAL(19,0) deltas, DECIMAL(38,0) sum (dx^2 overflows int64 at
    antipodal range)."""
    dx = (F.col("px") - F.col("qx")).cast("decimal(19,0)")
    dy = (F.col("py") - F.col("qy")).cast("decimal(19,0)")
    return (dx * dx + dy * dy).cast("decimal(38,0)").alias("dist2")


def knn(
    spark: SparkSession,
    queries: DataFrame,
    points: DataFrame,
    k: int,
    level: int = 6,
    max_rounds: int = 8,
    r0: int | None = None,
    brute_max_pairs: int = 64_000_000,
    brute_max_queries: int = 8192,
) -> DataFrame:
    """For each query row (qid, lon_e7, lat_e7) the k nearest point rows
    (pid, lon_e7, lat_e7) by exact squared euclidean distance in e7 units
    (DECIMAL(38,0) — dx^2 overflows int64 at antipodal range), ties broken
    by pid.  Iteratively widens the candidate ring; a query is finished
    once its k-th distance is certified by the ring guarantee
    (any point beyond ring r is at distance > r * cell_extent).

    Cost-based small-input branch (r6, guide §1.2 "the distributed
    algorithm"): when the query set is tiny and the estimated
    |Q| x |P| fits ``brute_max_pairs``, the ring loop's per-round
    driver-synchronized jobs (checkpoint + anti-join + count, x N
    rounds) cost more than simply scoring every pair once — so
    collect the queries (ONE early-terminating limited pass; the
    limit bounds driver residency), broadcast them, and stream the
    points through ONE exact-distance pass with a window top-k (the
    same computation as the ring path's certified result and the
    uncertified-remainder fallback below; results are identical by
    construction — exact kNN is exact either way, same tie-break).
    |P| is estimated from optimizer plan statistics (no extra pass;
    a wrong estimate only changes which plan runs, never the rows);
    at corpus scale the estimate overflows the bound and the ring
    path (which never materializes all pairs) takes over.
    """
    cell_w = cells.WORLD // (1 << level)  # lon cell extent in e7 units

    try:
        est_bytes = int(
            points._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
    except Exception:
        est_bytes = None
    # |P| estimate = est_bytes / 8: plan stats carry COMPRESSED
    # file bytes through the width-scaled projections (r6 review
    # fix — a 24 B/row divisor could UNDERcount rows on a
    # dictionary/RLE-compressed source and mis-route a large input
    # to brute).  8 B/row is at/below the practical compressed
    # floor for 3-long rows, so the estimate errs high (toward the
    # ring path); on the in-repo derivation shapes stats report
    # ~87 B/row, i.e. ~11x overestimation — still far under the
    # bound for the bench-sized inputs this branch targets.
    # |Q| >= 1 in the bound below, so when |P| alone exceeds it the
    # query collect cannot change the route and is skipped.
    if est_bytes is not None and est_bytes // 8 + 1 <= brute_max_pairs:
        q_rows = (
            queries.select("qid", "lon_e7", "lat_e7")
            .limit(brute_max_queries + 1)
            .toArrow()
        )
        if q_rows.num_rows <= brute_max_queries and (
            max(q_rows.num_rows, 1) * (est_bytes // 8 + 1) <= brute_max_pairs
        ):
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
            # decision reuses the plan-stats estimate that routed us
            # into this branch (late r6): under one 128 MB scan split
            # the scan plans ~1 partition, so spread; the former
            # ``ps.rdd.getNumPartitions()`` probe forced a
            # DataFrame->RDD conversion on the driver (~0.1 s per
            # call).  Larger inputs skip the exchange and keep the
            # scan's own parallelism (production behavior unchanged).
            par = spark.sparkContext.defaultParallelism
            if est_bytes < (128 << 20):
                ps = ps.repartition(par)
            w_rank = Window.partitionBy("qid").orderBy(
                F.col("dist2").asc(), F.col("pid").asc()
            )
            return (
                ps.crossJoin(F.broadcast(qs))
                .select("qid", "pid", _dist2_col())
                .withColumn("rank", F.row_number().over(w_rank))
                .filter(F.col("rank") <= k)
                .select("qid", "pid", "rank", "dist2")
            )

    pt = points.select(
        F.col("pid"),
        F.col("lon_e7").alias("px"),
        F.col("lat_e7").alias("py"),
        cells.axis_tile_col(F.col("lon_e7"), level).alias("cx"),
        cells.axis_tile_col(F.col("lat_e7"), level).alias("cy"),
    )
    # NOT cached: consumed exactly once, by the initial `pending`
    # localCheckpoint (r6 — the r5 cache added a storage entry and an
    # unpersist for zero reuse).
    qt = queries.select(
        F.col("qid"),
        F.col("lon_e7").alias("qx"),
        F.col("lat_e7").alias("qy"),
        cells.axis_tile_col(F.col("lon_e7"), level).alias("qcx"),
        cells.axis_tile_col(F.col("lat_e7"), level).alias("qcy"),
    )

    results = spark.createDataFrame(
        _KNN_CARRY_SCHEMA.append(pa.field("rank", pa.int32())).empty_table()
    )
    pt = pt.cache()
    # localCheckpoint truncates the lineage each round — without it the
    # anti-join chain re-derives every prior round's plan (exponential
    # driver/plan cost across iterations)
    pending = qt.localCheckpoint(eager=True)
    n_pending = pending.count()
    # density-derived initial radius: every ring round costs ~3
    # driver-synchronized jobs, so starting at r=1 wastes 2-3 rounds
    # whenever k neighbors need a wider disk.  Expected points in the
    # (2r+1)^2 disk = lam * (2r+1)^2 with lam = points per occupied
    # cell; aim for ~36k candidates.  Certification needs the k-th
    # neighbor inside the ring's INSCRIBED euclidean radius (area
    # ratio pi/4) and clustered data concentrates candidates away
    # from sparse queries, so a tight aim (4k) routinely fails to
    # certify round one; measured on the sf0.1 corpus (3000 queries,
    # k=5): aim 4k -> 3.56 s, 36k -> 1.75 s, 144k -> 1.80 s, 400k ->
    # 1.98 s — a wide flat optimum past ~36k, so the extra candidate
    # compute is cheap next to a wasted driver-synchronized round.
    # Correctness is radius-based certification — r0 only changes how
    # much of the disk the first annulus covers, never the guarantee —
    # so repeated callers can pass a precomputed r0 and skip the stats
    # job entirely, and the stats job itself uses an HLL sketch for the
    # occupied-cell count (single partial-agg pass over the cached pt,
    # no distinct expand/shuffle; the estimate feeds a heuristic).
    if r0 is None:
        stats = pt.agg(
            F.count("*").alias("n"),
            F.approx_count_distinct(
                F.concat_ws(",", "cx", "cy"), rsd=0.05
            ).alias("cells"),
        ).collect()[0]
        lam = max(float(stats["n"]) / max(int(stats["cells"]), 1), 1e-9)
        r0 = int(((36.0 * k / lam) ** 0.5 - 1.0) / 2.0) + 1
    r_prev, r = -1, min(max(int(r0), 1), 64)
    w = Window.partitionBy("qid").orderBy(F.col("dist2").asc(), F.col("pid").asc())
    # carry = running top-k per still-pending query; each round joins
    # ONLY the new annulus cells (r_prev, r] — the inner disk was already
    # scanned, its survivors live in carry.  Disk cells are therefore
    # visited once each instead of once per round (at r=128 the full
    # rescan was 66k offsets per pending query per round).
    carry = spark.createDataFrame(_KNN_CARRY_SCHEMA.empty_table())
    for _ in range(max_rounds):
        if n_pending == 0:
            break
        offs = _annulus_offsets_df(spark, r_prev, r)
        cand = (
            pending.crossJoin(F.broadcast(offs))
            .withColumn("cx", F.col("qcx") + F.col("dx"))
            .withColumn("cy", F.col("qcy") + F.col("dy"))
            .join(pt, ["cx", "cy"])
        )
        cand = cand.select(
            "qid", "qcx", "qcy", "qx", "qy", "pid", _dist2_col()
        )
        # certification: k-th distance within the ring guarantee radius
        # (any non-candidate point is > r * cell_w away on some axis).
        # The guarantee literal is shipped as a decimal STRING: at
        # r >= 64 the squared radius exceeds int64 and a plain lit()
        # cannot cross py4j as a long.
        g2 = (int(r) * int(cell_w)) ** 2
        g2_lit = F.lit(str(g2)).cast("decimal(38,0)")
        wq = Window.partitionBy("qid")
        # a point lies in exactly one cell and each cell is visited once,
        # so carry ∪ cand has no duplicate (qid, pid).  The certification
        # aggregate (per-qid survivor count + k-th distance) is FUSED
        # into this same pass as a second window over the identical
        # partitioning — the rows are already qid-partitioned for the
        # rank window, so no extra exchange and no separate
        # groupBy-agg job per round (the former done_ids plan).
        ranked = (
            carry.unionByName(cand)
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .withColumn(
                "done",
                (F.count("*").over(wq) >= k)
                & (F.max("dist2").over(wq) <= g2_lit),
            )
            .localCheckpoint(eager=True)
        )
        results = results.unionByName(ranked.filter("done").drop("done"))
        done_ids = ranked.filter("done").select("qid").distinct()
        # pending is NOT re-checkpointed per round (r6): each round adds
        # one broadcast anti-join against ids derived from the round's
        # CHECKPOINTED `ranked`, so the plan stays shallow across the
        # <= max_rounds iterations and re-evaluation is a cheap hash
        # probe.  The per-round eager checkpoint + count were two extra
        # driver-synchronized jobs per round; the pending count is now
        # derived from the same `ranked` scan that builds done_ids.
        pending = pending.join(F.broadcast(done_ids), "qid", "left_anti")
        carry = ranked.filter(~F.col("done")).drop("rank", "done")
        n_pending -= done_ids.count()
        r_prev, r = r, r * 2

    if n_pending > 0:
        # brute-force fallback for queries the ring search never certified
        # (e.g. k > points in a huge radius) — exact, small remainder
        rest = pending.crossJoin(pt).select(
            "qid", "qcx", "qcy", "qx", "qy", "pid", _dist2_col()
        )
        rest = rest.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)
        results = results.unionByName(rest)

    # cache lifecycle ends HERE, not at session end: the ring loop (the
    # cache's only repeated consumer) has executed, and every returned
    # row derives from localCheckpoint blocks (or, for the rare brute
    # fallback, recomputes the narrow pt scan once).  Leaving pt cached
    # leaked a storage entry per call into the session — on a
    # long-lived executor that is memory a 100 TB job never gets back,
    # and in the bench it left GC debris for whatever query ran next.
    pt.unpersist()
    return results.select("qid", "pid", "rank", "dist2")
