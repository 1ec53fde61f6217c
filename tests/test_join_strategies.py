"""Physical-strategy equivalence: broadcast vs salted sort-merge vs
compacted-cover joins must produce identical match sets (the skew /
salting test of SURVEY §5.5 — the fixture is 80% clustered in 3 cells).
"""

from collections import Counter

import pytest
from pyspark.sql import functions as F

from osmgraft import synth
from osmgraft.join import spatial_join

pytestmark = pytest.mark.spark


@pytest.fixture(scope="module")
def entities(spark, sf_dir):
    return synth.geo_entities_df(spark, sf_dir).cache()


def _matches(df):
    # a multiset: a strategy that emits a match twice must not pass
    return Counter((r.doc_id, r.ent_idx, r.boundary_id) for r in df.collect())


def test_skew_distribution_is_real(spark, entities):
    """The synthetic corpus actually has hot cells (80/3-cluster rule)."""
    from osmgraft import cells

    counts = (
        entities.withColumn(
            "cell", cells.lonlat_cell_col(F.col("lon_e7"), F.col("lat_e7"), 9)
        )
        .groupBy("cell")
        .count()
        .orderBy(F.col("count").desc())
        .collect()
    )
    total = sum(r["count"] for r in counts)
    top3 = sum(r["count"] for r in counts[:3])
    assert top3 > 0.5 * total, "fixture lost its hot-cell skew"


def test_sortmerge_salted_equals_broadcast(spark, entities):
    polys = synth.boundaries()
    base = _matches(
        spatial_join(spark, entities, polys).select(
            "doc_id", "ent_idx", "boundary_id"
        )
    )
    salted = _matches(
        spatial_join(
            spark, entities, polys, strategy="sortmerge", salt_buckets=4
        ).select("doc_id", "ent_idx", "boundary_id")
    )
    assert salted == base
    # forced-threshold variant: every cluster cell is hot
    salted2 = _matches(
        spatial_join(
            spark, entities, polys, strategy="sortmerge",
            salt_buckets=8, hot_cell_threshold=5,
        ).select("doc_id", "ent_idx", "boundary_id")
    )
    assert salted2 == base


def test_compacted_cover_equals_full(spark, entities):
    polys = synth.boundaries()
    base = _matches(
        spatial_join(spark, entities, polys).select(
            "doc_id", "ent_idx", "boundary_id"
        )
    )
    comp = _matches(
        spatial_join(spark, entities, polys, compact_cover=True).select(
            "doc_id", "ent_idx", "boundary_id"
        )
    )
    assert comp == base


def test_repartition_invariance(spark, entities):
    """Deterministic output under repartition (SURVEY §5.4)."""
    polys = synth.boundaries()
    base = _matches(
        spatial_join(spark, entities, polys).select(
            "doc_id", "ent_idx", "boundary_id"
        )
    )
    shuffled = _matches(
        spatial_join(spark, entities.repartition(7), polys).select(
            "doc_id", "ent_idx", "boundary_id"
        )
    )
    assert shuffled == base


def test_cover_df_emits_inside_and_segment_rows(spark):
    """A box wide enough to have cells no segment meets yields INSIDE
    rows (no segments) next to segment rows, compacted or not."""
    from osmgraft.geometry import Polygon, Ring
    from osmgraft.join import DEFAULT_COVER_LEVEL, cover_df

    polys = synth.boundaries() + [
        Polygon(50, "wide", [Ring([0, 10**8, 10**8, 0], [0, 0, 10**8, 10**8])])
    ]
    for compacted in (False, True):
        rows = cover_df(
            spark, polys, DEFAULT_COVER_LEVEL, compacted=compacted
        ).collect()
        assert any(r.inside for r in rows) and any(not r.inside for r in rows)
        assert all(bool(r.segs) != r.inside for r in rows)


def test_knn_certification_fused_job_count(spark, sf_dir):
    """r3 verdict item 3: the per-round certification aggregate
    (per-qid survivor count + k-th distance) is fused into the ranking
    window pass as a second window over the same qid partitioning —
    no separate groupBy-certify plan per ring round.  Measured on this
    exact call (sf0.001, 150 queries, k=5): 32 driver-synchronized
    jobs before the fusion, 26 after.  Bound at 28 so a reintroduced
    per-round certification job fails loudly without being brittle to
    minor Spark job accounting changes."""
    from osmgraft.join import knn

    sc = spark.sparkContext
    sc.setJobGroup("knn-fused-probe", "kNN job-count regression probe")
    try:
        pts = synth.geo_entities_df(spark, sf_dir).select(
            (F.col("doc_id") * 10 + F.col("ent_idx")).alias("pid"),
            "lon_e7",
            "lat_e7",
        )
        qs = pts.filter(F.col("pid") < 300).select(
            F.col("pid").alias("qid"), "lon_e7", "lat_e7"
        )
        # brute_max_pairs=0 forces the ring loop: this probe guards the
        # RING path's certification fusion (the r6 default for inputs
        # this small is the single-pass brute branch, which runs far
        # fewer jobs and has no certification stage to regress)
        out = knn(spark, qs, pts, k=5, brute_max_pairs=0)
        assert out.count() == 150
        jobs = sc.statusTracker().getJobIdsForGroup("knn-fused-probe")
        # PINNED TO SPARK 4.1.2 job accounting: the <=28 budget depends
        # on this version's AQE stage->job mapping and the r0 stats job.
        # If this fails right after a Spark upgrade, recalibrate the
        # budget (count jobs of a known-good run) before suspecting a
        # certification-fusion regression.
        assert len(jobs) <= 28, (
            f"kNN ran {len(jobs)} jobs — certification fusion regressed "
            f"(or Spark-version job accounting changed; budget pinned to 4.1.2)?"
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
