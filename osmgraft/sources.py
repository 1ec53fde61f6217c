"""Sources and sinks: OSM XML / OsmChange readers, .poly polygon files,
and the partitioned tile-store sink.

* **OSM XML scan (S1)** — the reference streams planet XML through a
  SAX state machine (``osmc/osm.c:205-398``), gzip-transparent
  (``osm.c:431-442``).  Spark-side: one task per input file (files are
  the natural split for .osm.gz — gzip is not splittable), each task
  iterparse-streaming its file into typed rows via ``mapInPandas`` over
  a DataFrame of file paths.  Planet-scale inputs arrive as many PBF /
  chunked-XML files, so file-granular parallelism is the idiomatic
  shape; within a file the parser is streaming (constant memory).
* **OsmChange scan (S2/T1)** — same reader; ``<create>/<modify>/
  <delete>`` group membership becomes an ``op`` column routing the
  MERGE apply (``osm.c:324-349``).
* **.poly scan (S3)** — the reference's polygon-file format
  (``osmc/CountryPolygon.c:128-245``): name line, rings terminated by
  END, ``!``-prefixed ring names = holes, empty dir -> one FULL
  polygon matching everything.
* **Tile sink (K4)** — features + tile pyramid written as parquet
  partitioned by ``z`` and sorted by (tile_y, tile_x) within
  partitions: Parquet min/max pruning replaces the reference's
  kd-tree + Tree16 offset indexes.
"""

from __future__ import annotations

import glob
import gzip
import os
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .cells import axis_tile_col, viewport_tiles
from .geometry import Polygon, Ring

E7 = 10_000_000

OSM_ELEMENT_SCHEMA = T.StructType([
    T.StructField("op", T.StringType()),  # create|modify|delete (None=plain)
    T.StructField("entity", T.StringType()),  # node|way|relation
    T.StructField("id", T.LongType()),
    T.StructField("lat_e7", T.LongType()),
    T.StructField("lon_e7", T.LongType()),
    T.StructField("ts", T.StringType()),
    T.StructField("tags", T.MapType(T.StringType(), T.StringType())),
    T.StructField("nodes", T.ArrayType(T.LongType())),
    T.StructField(
        "members",
        T.ArrayType(
            T.StructType([
                T.StructField("ref", T.LongType()),
                T.StructField("type", T.StringType()),
                T.StructField("role", T.StringType()),
            ])
        ),
    ),
])

_CHANGE_OPS = {"create", "modify", "delete"}

# The 4-D feature store's deepest quadtree level.  Its writer and its
# reader must agree: a reader stopping short of the writer's deepest
# level would silently drop the features stored below it.
FEATURE_MAX_LEVEL = 12


def _e7(v: str) -> int:
    # exact decimal-string scaling (no float round-trip): the reference
    # parses with round(deg * 1e7); OSM files carry <= 7 decimals so
    # string math is lossless and matches round-half-away
    neg = v.startswith("-")
    if neg:
        v = v[1:]
    whole, _, frac = v.partition(".")
    frac = (frac + "0000000")[:7]
    extra = v.partition(".")[2][7:8]
    out = int(whole or "0") * E7 + int(frac or "0")
    if extra and int(extra) >= 5:
        out += 1
    return -out if neg else out


def _parse_osm_stream(fobj):
    """iterparse one OSM/OsmChange XML stream into element dicts.

    Constant-memory: processed <node>/<way>/<relation> subtrees are
    cleared AND detached from their parent (iterparse alone leaves
    cleared children attached to the root, growing with element count).
    """
    import xml.etree.ElementTree as ET

    op_stack = [None]
    el_stack = []
    for event, el in ET.iterparse(fobj, events=("start", "end")):
        tag = el.tag
        if event == "start":
            if tag in _CHANGE_OPS:
                op_stack.append(tag)
            el_stack.append(el)
            continue
        el_stack.pop()
        parent = el_stack[-1] if el_stack else None
        if tag in _CHANGE_OPS:
            op_stack.pop()
            el.clear()
            if parent is not None:
                parent.remove(el)
            continue
        if tag not in ("node", "way", "relation"):
            continue
        tags = {
            t.get("k"): t.get("v", "") for t in el.findall("tag")
        }
        row = {
            "op": op_stack[-1],
            "entity": tag,
            "id": int(el.get("id")),
            "lat_e7": _e7(el.get("lat")) if el.get("lat") is not None else None,
            "lon_e7": _e7(el.get("lon")) if el.get("lon") is not None else None,
            "ts": el.get("timestamp"),
            "tags": tags,
            "nodes": [int(n.get("ref")) for n in el.findall("nd")] or None,
            "members": [
                {
                    "ref": int(m.get("ref")),
                    "type": m.get("type", ""),
                    "role": m.get("role", ""),
                }
                for m in el.findall("member")
            ]
            or None,
        }
        el.clear()
        if parent is not None:
            parent.remove(el)
        yield row


_XML_CHUNK_ROWS = 50_000


def read_osm_xml(spark: SparkSession, path_glob: str) -> DataFrame:
    """Distributed OSM XML / OsmChange scan: one task per file,
    streaming iterparse inside (gzip-transparent by extension)."""
    paths = sorted(glob.glob(path_glob))
    if not paths:
        raise FileNotFoundError(path_glob)
    pdf = spark.createDataFrame(
        [(p,) for p in paths], schema="path STRING"
    ).repartition(len(paths))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            for path in b["path"]:
                opener = gzip.open if path.endswith(".gz") else open
                with opener(path, "rb") as f:
                    # bounded-size chunks: never materialize a whole
                    # planet-scale file's rows in one Python list
                    rows = []
                    for row in _parse_osm_stream(f):
                        rows.append(row)
                        if len(rows) >= _XML_CHUNK_ROWS:
                            yield pd.DataFrame(rows)
                            rows = []
                    if rows:
                        yield pd.DataFrame(rows)

    return pdf.mapInPandas(run, OSM_ELEMENT_SCHEMA)


def read_poly_file(path: str, boundary_id: int = 0) -> Polygon:
    """Parse one .poly file (CountryPolygon.c:128-208 format)."""
    opener = gzip.open if path.endswith(".gz") else open
    with opener(path, "rt") as f:
        lines = [ln.rstrip("\n") for ln in f]
    name = lines[0].strip()
    rings: list[Ring] = []
    i = 1
    while i < len(lines):
        header = lines[i].strip()
        if header == "END" or not header:
            i += 1
            continue
        hole = header.startswith("!")
        xs, ys = [], []
        i += 1
        while i < len(lines) and lines[i].strip() != "END":
            parts = lines[i].split()
            if len(parts) >= 2:
                xs.append(_e7(parts[0]))
                ys.append(_e7(parts[1]))
            i += 1
        i += 1  # consume END
        # the format closes rings by repeating the first vertex; our
        # Ring closes implicitly — drop an explicit closing vertex
        if len(xs) >= 2 and xs[0] == xs[-1] and ys[0] == ys[-1]:
            xs, ys = xs[:-1], ys[:-1]
        if xs:
            rings.append(Ring(xs, ys, hole=hole))
    return Polygon(boundary_id, name, rings)


def read_polygons(directory: str) -> list[Polygon]:
    """readPolygons analog: every .poly in the dir; an empty dir yields
    one 0-segment FULL polygon that matches everything
    (CountryPolygon.c:238-243)."""
    paths = sorted(glob.glob(os.path.join(directory, "*.poly")))
    if not paths:
        return [Polygon(0, "FULL", [])]
    return [read_poly_file(p, i + 1) for i, p in enumerate(paths)]


def viewport_query(
    spark: SparkSession,
    store_path: str,
    z: int,
    min_lon_e7: int,
    min_lat_e7: int,
    max_lon_e7: int,
    max_lat_e7: int,
) -> DataFrame:
    """Read-side of the tile store: features visible in a lon/lat
    viewport at zoom z — the query the reference answers with its 2-D/
    4-D kd-trees (``osmc/2DTree.c``).  Here it is a z-partition prune +
    a tile-range predicate that Parquet row-group min/max stats satisfy
    because partitions are sorted by (tile_y, tile_x)."""
    tx0, tx1, ty0, ty1 = viewport_tiles(
        min_lon_e7, min_lat_e7, max_lon_e7, max_lat_e7, z
    )
    return (
        spark.read.parquet(store_path)
        .filter(F.col("z") == z)
        .filter(F.col("tile_x").between(tx0, tx1))
        .filter(F.col("tile_y").between(ty0, ty1))
    )


def write_feature_store_4d(features: DataFrame, path: str) -> None:
    """J8 extended-feature sink: bbox features stored quadtree-style —
    the distributed stand-in for the reference's 4-D bbox kd-tree
    (``osmc/4DTree.c:63-154``), which serves features whose bbox
    *intersects* a viewport (a point-tile predicate cannot answer that
    for features spanning tiles).

    Each feature (id, minx, miny, maxx, maxy, ...payload) is assigned
    the DEEPEST level in 0..FEATURE_MAX_LEVEL at which one tile fully
    contains its bbox, then stored partitioned by that level and sorted by
    (tile_y, tile_x) within partitions: a viewport query prunes level
    directories + Parquet row groups per level.  Indexing is in raw
    e7 lon/lat space, like the reference tree's raw int coords; the
    exact intersect predicate runs on the stored bbox ints."""
    minx, miny, maxx, maxy = (F.col(c) for c in ("minx", "miny", "maxx", "maxy"))
    chain = None
    for lvl in range(FEATURE_MAX_LEVEL, -1, -1):
        fits = (
            (axis_tile_col(minx, lvl) == axis_tile_col(maxx, lvl))
            & (axis_tile_col(miny, lvl) == axis_tile_col(maxy, lvl))
        )
        chain = F.when(fits, lvl) if chain is None else chain.when(fits, lvl)
    staged = features.withColumn("level", chain.otherwise(0).cast("int"))
    # containing tile at the fit level (JVM-only CASE; level 0 is the
    # single world tile -> index 0)
    tx = F.lit(0).cast("long")
    ty = F.lit(0).cast("long")
    for lvl in range(FEATURE_MAX_LEVEL, 0, -1):
        tx = F.when(F.col("level") == lvl, axis_tile_col(minx, lvl)).otherwise(tx)
        ty = F.when(F.col("level") == lvl, axis_tile_col(miny, lvl)).otherwise(ty)
    staged = staged.withColumn("tile_x", tx).withColumn("tile_y", ty)
    (
        staged.repartition("level")
        .sortWithinPartitions("tile_y", "tile_x")
        .write.mode("overwrite")
        .option("compression", "zstd")
        .partitionBy("level")
        .parquet(path)
    )


def viewport_query_4d(
    spark: SparkSession,
    store_path: str,
    min_lon_e7: int,
    min_lat_e7: int,
    max_lon_e7: int,
    max_lat_e7: int,
) -> DataFrame:
    """Features whose bbox INTERSECTS the viewport (4DTree.c query
    semantics).  One pruned scan per level (partition-directory prune on
    ``level`` + row-group min/max prune on the sorted tile columns),
    unioned, then the exact e7 bbox-overlap predicate."""
    from functools import reduce

    import numpy as np

    from . import cells as C

    parts = []
    for lvl in range(0, FEATURE_MAX_LEVEL + 1):
        tx0 = int(C._axis_to_tile(np.int64(min_lon_e7), lvl))
        tx1 = int(C._axis_to_tile(np.int64(max_lon_e7), lvl))
        ty0 = int(C._axis_to_tile(np.int64(min_lat_e7), lvl))
        ty1 = int(C._axis_to_tile(np.int64(max_lat_e7), lvl))
        parts.append(
            spark.read.parquet(store_path)
            .filter(F.col("level") == lvl)
            .filter(F.col("tile_x").between(tx0, tx1))
            .filter(F.col("tile_y").between(ty0, ty1))
        )
    exact = (
        (F.col("maxx") >= F.lit(int(min_lon_e7)))
        & (F.col("minx") <= F.lit(int(max_lon_e7)))
        & (F.col("maxy") >= F.lit(int(min_lat_e7)))
        & (F.col("miny") <= F.lit(int(max_lat_e7)))
    )
    return reduce(DataFrame.unionByName, parts).filter(exact)


def write_tile_store(tiles: DataFrame, path: str) -> None:
    """K4 sink: the tile pyramid partitioned by z, sorted by
    (tile_y, tile_x) within partitions — z-partition pruning + Parquet
    row-group min/max stats stand in for the reference's kd-trees."""
    (
        tiles.repartition("z")
        .sortWithinPartitions("tile_y", "tile_x")
        .write.mode("overwrite")
        .option("compression", "zstd")
        .partitionBy("z")
        .parquet(path)
    )
