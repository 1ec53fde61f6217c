"""End-to-end jobs — the reference's CLI verbs as composable pipelines.

* ``run_cut`` — EP1 (``s2l``/``s2b``/``s2m``, osmc.c:51-77): pages ->
  extract -> spatial join -> per-region match table, committed as one
  snapshot with per-partition lineage and a warc_ts watermark.
* ``run_tile`` — EP2 (``l2m``/``b2m``, mapper.c:770-775): classified
  features -> zoom ranges -> exploded tile pyramid, written partitioned
  by z / sorted by cell, plus the zoom histogram as the job's sanity
  metric (the reference prints it, mapper.c:759-767 — we persist it).
* EP3 (``update run``) is ``store.apply_geo_changes`` /
  ``streaming.stream_changes_into_store``.
"""

from __future__ import annotations

import os

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import cells, tiles
from .extract import extract_entities
from .geometry import Polygon
from .join import spatial_join
from .sources import write_tile_store
from .store import SnapshotStore


def run_cut(
    spark: SparkSession,
    pages: DataFrame,
    polys: list[Polygon],
    store: SnapshotStore,
) -> int:
    """pages -> geo entities -> region matches; one snapshot commit.

    The watermark is MAX(warc_ts) of the processed pages (the A2
    checkpoint-init rule), advanced only on successful commit (T6).
    """
    ents = extract_entities(pages).persist(StorageLevel.MEMORY_AND_DISK)
    matches = spatial_join(spark, ents, polys).select(
        "url", "doc_id", "ent_idx", "name", "lat_e7", "lon_e7", "boundary_id"
    )
    wm_row = pages.agg(F.max("warc_ts").alias("wm")).collect()[0]
    version = store.commit(
        {
            "entities": ents.drop("mention"),
            "matches": matches,
        },
        watermark=str(wm_row["wm"]),
        note="cut",
    )
    ents.unpersist()
    return version


def run_tile(
    spark: SparkSession,
    features: DataFrame,
    out_dir: str,
    store: SnapshotStore | None = None,
) -> DataFrame:
    """Classified, zoom-ranged features -> tile pyramid on disk.

    features must carry (id, lon_e7, lat_e7, minz, maxz[, class]).
    Returns the zoom histogram (and commits it as a metrics table when
    a store is given) — the job-level sanity metric.
    """
    pyramid = tiles.explode_pyramid(features).select(
        "id", "z", "tile_x", "tile_y",
        *(["class"] if "class" in features.columns else []),
    )
    write_tile_store(pyramid, out_dir)
    hist = tiles.zoom_histogram(features)
    if store is not None:
        store.commit(
            {"zoom_histogram": hist},
            watermark=store.watermark(),  # carry the cut watermark forward
            note=f"tile:{os.path.basename(out_dir)}",
        )
    return hist


def run_cut_and_tile(
    spark: SparkSession,
    pages: DataFrame,
    polys: list[Polygon],
    root: str,
) -> dict:
    """The full EP1+EP2 pipeline with one store at ``root``; returns
    job metrics (row counts, watermark, zoom histogram rows)."""
    store = SnapshotStore(spark, root)
    run_cut(spark, pages, polys, store)
    matched = store.read("matches")
    # every matched entity becomes a Place-like point feature
    feats = (
        matched.select("doc_id", "ent_idx", "lon_e7", "lat_e7")
        .distinct()
        .withColumn("id", F.col("doc_id") * 10 + F.col("ent_idx"))
        .withColumn("minz", F.lit(12))
        .withColumn("maxz", F.lit(tiles.MAX_ZOOM))
    )
    hist = run_tile(spark, feats, os.path.join(root, "tiles"), store)
    m = store.manifest()
    return {
        "version": m["version"],
        "watermark": store.watermark(),
        "tables": {k: v["row_count"] for k, v in m["tables"].items()},
        "zoom_histogram": {r["z"]: r["n_features"] for r in hist.collect()},
    }
