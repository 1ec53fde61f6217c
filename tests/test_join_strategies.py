"""Spatial-join invariants on skewed input: the fixture really is
skewed (80% of points in 3 cells, SURVEY §5.5), the match multiset does
not depend on how the points are partitioned, and the cover carries
both INSIDE and segment rows.  The join has one physical shape (a
broadcast cover, so hot cells never meet a shuffle by key); the kNN
job-count probe lives here too.
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
    # a multiset: a join that emits a match twice must not pass
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
    rows (no segments) next to segment rows."""
    from osmgraft.geometry import Polygon, Ring
    from osmgraft.join import DEFAULT_COVER_LEVEL, cover_df

    polys = synth.boundaries() + [
        Polygon(50, "wide", [Ring([0, 10**8, 10**8, 0], [0, 0, 10**8, 10**8])])
    ]
    rows = [e for r in cover_df(spark, polys, DEFAULT_COVER_LEVEL).collect()
            for e in r._cov]
    assert any(r._inside for r in rows) and any(not r._inside for r in rows)
    assert all(bool(r._segs) != r._inside for r in rows)


def test_knn_certification_fused_job_count(spark, sf_dir):
    """The histogram path certifies every query's search radius from one
    driver read of exact per-cell point counts, then runs one join: a
    fixed number of jobs whatever the density, no round loop.  Measured
    on this exact call (sf0.001, 150 queries, k=5, plus the count): 8
    jobs.  Bound at 10 so a reintroduced loop round or stats job fails
    loudly without being brittle to minor Spark job accounting
    changes."""
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
        # brute_max_pairs=0 forces the histogram path (the default for
        # inputs this small is the single-pass brute route)
        out = knn(spark, qs, pts, k=5, brute_max_pairs=0)
        assert out.count() == 150
        jobs = sc.statusTracker().getJobIdsForGroup("knn-fused-probe")
        # PINNED TO SPARK 4.1.2 job accounting: the <=10 budget depends
        # on this version's AQE stage->job mapping.  If this fails right
        # after a Spark upgrade, recalibrate the budget (count jobs of a
        # known-good run) before suspecting a fixed-pass regression.
        assert len(jobs) <= 10, (
            f"kNN ran {len(jobs)} jobs — a loop round or stats job came back "
            f"(or Spark-version job accounting changed; budget pinned to 4.1.2)?"
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
