"""Deterministic synthetic geo corpus derived from the driver testdata.

The engine's real input shape is the BASELINE.json ``input_hint`` table
``pages(url, warc_ts, html, text, lang)``.  We derive it *deterministically*
from the driver's read-only ``documents`` parquet (TESTDATA.md, seed=42) —
no external data, no RNG at runtime — via pure int64 arithmetic that is
expressible identically in Spark SQL and DuckDB SQL.  That makes every
geo operator DuckDB-oracle-checkable: the oracle recomputes the same
points from ``doc_id`` and runs the same decision procedure in SQL.

Point derivation (all BIGINT, exact in both engines):

* 80% of docs cluster around 3 "urban" centers with ±0.1 deg jitter —
  the skew / hot-cell distribution (FIXTURES.md §1);
* ~1% pin exactly onto a boundary vertex or edge — exercises the
  reference's TOUCHING -> BOUNDARY semantics
  (``osmc/CountryPolygon.c:94-100``);
* the rest are uniform over the mercator-safe lat range (±85 deg).

Boundaries mirror the reference's CountryPolygon shapes
(``osmc/CountryPolygon.h:16-26``): a rectangle, an overlapping triangle
(multi-assign, ``osmc/obm.c:211-223``), a concave L, a square with a
hole ring (``!``-prefixed rings, ``osmc/CountryPolygon.c:190-194``), and
the empty FULL polygon that matches everything
(``osmc/CountryPolygon.c:105-107``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .geometry import Polygon, Ring

E7 = 10_000_000

# urban cluster centers (lon_e7, lat_e7): NYC, London, Tokyo
CENTERS = [
    (-740_060_000, 407_128_000),
    (-1_278_000, 515_074_000),
    (1_396_503_000, 356_762_000),
]

# exact pins: a vertex of nyc_box and a point on its south edge
PIN_VERTEX = (-742_000_000, 405_000_000)
PIN_EDGE = (-740_000_000, 405_000_000)


def boundaries() -> list[Polygon]:
    """The deterministic boundary set (ids stable, used by oracles)."""
    return [
        Polygon(1, "nyc_box", [
            Ring([-742_000_000, -738_000_000, -738_000_000, -742_000_000],
                 [405_000_000, 405_000_000, 409_000_000, 409_000_000]),
        ]),
        Polygon(2, "nyc_tri", [
            Ring([-743_000_000, -737_000_000, -740_000_000],
                 [404_000_000, 404_000_000, 410_000_000]),
        ]),
        Polygon(3, "london_l", [
            Ring([-4_000_000, 2_000_000, 2_000_000, -1_000_000, -1_000_000, -4_000_000],
                 [512_000_000, 512_000_000, 514_500_000, 514_500_000, 517_000_000, 517_000_000]),
        ]),
        Polygon(4, "tokyo_hole", [
            Ring([1_393_000_000, 1_400_000_000, 1_400_000_000, 1_393_000_000],
                 [353_000_000, 353_000_000, 360_000_000, 360_000_000]),
            Ring([1_395_500_000, 1_397_500_000, 1_397_500_000, 1_395_500_000],
                 [355_500_000, 355_500_000, 357_500_000, 357_500_000], hole=True),
        ]),
        Polygon(5, "world", []),  # 0 segments -> INSIDE for everything
    ]


# --- point derivation -------------------------------------------------------
# The SAME SQL text runs under Spark SQL and DuckDB (pure int64 ops only).

_URBAN_LON = (
    "CASE doc_id % 3 "
    f"WHEN 0 THEN {CENTERS[0][0]} WHEN 1 THEN {CENTERS[1][0]} "
    f"ELSE {CENTERS[2][0]} END + ((doc_id * 48271) % 2000000) - 1000000"
)
_URBAN_LAT = (
    "CASE doc_id % 3 "
    f"WHEN 0 THEN {CENTERS[0][1]} WHEN 1 THEN {CENTERS[1][1]} "
    f"ELSE {CENTERS[2][1]} END + ((doc_id * 69621) % 2000000) - 1000000"
)
_UNIFORM_LON = "((doc_id * 2654435761 + 12345) % 3600000000) - 1800000000"
_UNIFORM_LAT = "((doc_id * 2246822519 + 54321) % 1700000000) - 850000000"
# second (alternate) entity for docs with two mentions
ALT_LON = "((doc_id * 1779033703 + 7919) % 3600000000) - 1800000000"
ALT_LAT = "((doc_id * 3144134277 + 104729) % 1700000000) - 850000000"

LON_EXPR = (
    f"CAST(CASE WHEN doc_id % 101 = 0 THEN {PIN_VERTEX[0]} "
    f"WHEN doc_id % 103 = 0 THEN {PIN_EDGE[0]} "
    f"WHEN doc_id % 10 < 8 THEN {_URBAN_LON} "
    f"ELSE {_UNIFORM_LON} END AS BIGINT)"
)
LAT_EXPR = (
    f"CAST(CASE WHEN doc_id % 101 = 0 THEN {PIN_VERTEX[1]} "
    f"WHEN doc_id % 103 = 0 THEN {PIN_EDGE[1]} "
    f"WHEN doc_id % 10 < 8 THEN {_URBAN_LAT} "
    f"ELSE {_UNIFORM_LAT} END AS BIGINT)"
)

# entity display name; doc_id%13==0 gets a multi-byte UTF-8 name
NAME_EXPR = (
    "CASE WHEN doc_id % 13 = 0 THEN concat('café_зона_', CAST(doc_id % 50 AS STRING)) "
    "ELSE concat('loc_', CAST(doc_id % 50 AS STRING)) END"
)

HAS_MAIN = "doc_id % 7 <> 0"  # docs with no geo mention at all
HAS_ALT = "doc_id % 5 = 0 AND doc_id % 7 <> 0"  # docs with a 2nd mention


def points_sql(doc_table: str = "documents") -> str:
    """(doc_id, ent_idx, name, lon_e7, lat_e7) of every derived geo entity.

    Valid in both Spark SQL and DuckDB over a ``documents`` view.
    """
    return f"""
        SELECT doc_id, 0 AS ent_idx, {NAME_EXPR} AS name,
               {LON_EXPR} AS lon_e7, {LAT_EXPR} AS lat_e7
        FROM {doc_table} WHERE {HAS_MAIN}
        UNION ALL
        SELECT doc_id, 1 AS ent_idx,
               concat('alt_', CAST(doc_id % 50 AS STRING)) AS name,
               CAST({ALT_LON} AS BIGINT) AS lon_e7,
               CAST({ALT_LAT} AS BIGINT) AS lat_e7
        FROM {doc_table} WHERE {HAS_ALT}
    """


def boundaries_many(n: int = 100) -> list[Polygon]:
    """A deterministic ``n``-polygon boundary set (ids 101..100+n): the
    many-boundary input of :func:`osmgraft.join.spatial_join`.  Small
    axis-aligned boxes jittered around the three urban centers (so the
    skewed 80% of points actually hit them), box size varying so covers
    span 1..many cells.  Pure int64 arithmetic; no RNG."""
    polys = []
    for i in range(n):
        cx, cy = CENTERS[i % 3]
        cx += ((i * 48271) % 41 - 20) * 500_000
        cy += ((i * 69621) % 41 - 20) * 500_000
        hw = 200_000 + (i % 7) * 150_000
        hh = 200_000 + (i % 5) * 150_000
        polys.append(
            Polygon(101 + i, f"box_{i}", [
                Ring([cx - hw, cx + hw, cx + hw, cx - hw],
                     [cy - hh, cy - hh, cy + hh, cy + hh]),
            ])
        )
    return polys


def segments_sql_values(polys: list[Polygon] | None = None) -> str:
    """VALUES list of every boundary segment (non-empty polygons) as
    (boundary_id, p0x, p0y, p1x, p1y) — shared by oracles."""
    rows = []
    for poly in (boundaries() if polys is None else polys):
        for (p0x, p0y, p1x, p1y) in poly.segment_rows():
            rows.append(f"({poly.boundary_id}, {p0x}, {p0y}, {p1x}, {p1y})")
    return ",\n".join(rows)


def empty_boundary_ids(polys: list[Polygon] | None = None) -> list[int]:
    return [
        p.boundary_id
        for p in (boundaries() if polys is None else polys)
        if p.n_segments == 0
    ]


def load_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def register_documents(spark: SparkSession, sf_dir: str) -> None:
    load_documents(spark, sf_dir).createOrReplaceTempView("documents")


def geo_entities_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derived entity points as a DataFrame (arithmetic path, no text).

    Deliberately NOT spread (`session.spread_scan`): measured r6, the
    point set is narrow and its per-row work (int arithmetic, broadcast
    join probes) is cheap, so the extra exchange's fixed cost (~0.25 s
    at bench scale) exceeds the parallelism gain for every consumer
    (tile_assign 0.21->0.26, tile_rollup 0.58->0.88, pip/knn also
    slightly worse).
    """
    register_documents(spark, sf_dir)
    return spark.sql(points_sql("documents"))


def pages_df(spark: SparkSession, sf_dir: str, replicate: int = 1) -> DataFrame:
    """The input_hint table: pages(url, warc_ts, html, text, lang).

    Geo mentions are embedded into the text as ``@place{name|lat_e7|lon_e7}``
    markers (ints, lossless). ``replicate > 1`` scales the corpus
    deterministically for benchmarks (doc_id' = doc_id * replicate + r).
    """
    docs = load_documents(spark, sf_dir)
    if replicate > 1:
        # drive the replication from the partitioned range side: the
        # source parquet is a single file (1 partition), so replicating
        # FROM it would leave the whole corpus in one task regardless of
        # cores; range(replicate) spreads across defaultParallelism
        # fixed partition count: enough waves at every parallelism level
        # (2 waves of huge tasks create straggler tails; a level-dependent
        # count also skews N-vs-4N comparisons)
        n_parts = max(spark.sparkContext.defaultParallelism * 2, 64)
        reps = spark.range(0, replicate, 1, n_parts).withColumnRenamed("id", "r")
        docs = (
            reps.crossJoin(F.broadcast(docs))
            .withColumn("doc_id", F.col("doc_id") * replicate + F.col("r"))
            .drop("r")
        )
    docs.createOrReplaceTempView("_synth_docs")
    return spark.sql(f"""
        SELECT
          concat('https://example.test/', source, '/', CAST(doc_id AS STRING)) AS url,
          timestamp'2024-01-01 00:00:00' + make_interval(0,0,0,0,0,CAST(doc_id % 525600 AS INT),0) AS warc_ts,
          CAST(concat('<html><body>', page_text, '</body></html>') AS BINARY) AS html,
          page_text AS text,
          lang,
          doc_id
        FROM (
          SELECT *,
            concat(
              text,
              CASE WHEN {HAS_MAIN} THEN concat(
                ' @place{{', {NAME_EXPR}, '|', CAST({LAT_EXPR} AS STRING),
                '|', CAST({LON_EXPR} AS STRING), '}}')
              ELSE '' END,
              CASE WHEN {HAS_ALT} THEN concat(
                ' @place{{', concat('alt_', CAST(doc_id % 50 AS STRING)),
                '|', CAST(CAST({ALT_LAT} AS BIGINT) AS STRING),
                '|', CAST(CAST({ALT_LON} AS BIGINT) AS STRING), '}}')
              ELSE '' END
            ) AS page_text
          FROM _synth_docs
        )
    """)
