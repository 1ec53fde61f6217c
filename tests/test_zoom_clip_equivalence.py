"""Focused equivalence tests for the two late-r6 operator reshapes
(brief rule: an optimization that changes an operator's internals gets a
dedicated test, beyond the oracle-parity rows that also cover them):

* zoom histograms now pre-aggregate by the (minz, maxz[, kind]) range
  and explode only the grouped table — must equal the naive
  explode-per-row shape on edge cases (NULL bounds, inverted ranges,
  duplicate ranges, excluded 'drop' kind).
* way_clip_resequence can order its clip window on a raw key pair
  instead of a dense rank over that pair — identical output multiset,
  including rank ties on duplicate pairs.
"""

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from osmgraft import tiles
from osmgraft.closure import way_clip_resequence

pytestmark = pytest.mark.spark


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture(scope="module")
def ranged(arrow_frame):
    # (minz, maxz, kind): duplicates, single-level ranges, an inverted
    # range (sequence() walks it DESCENDING — semantics must carry
    # over), and NULL bounds (sequence -> NULL -> explode drops).
    data = [
        (12, 18, "point"), (12, 18, "point"), (14, 14, "point"),
        (12, 15, "way"), (13, 18, "area"), (13, 18, "area"),
        (16, 13, "way"),          # inverted: z 16,15,14,13
        (None, 18, "point"), (12, None, "way"),   # NULL bounds drop
        (12, 18, "drop"), (0, 5, "drop"),         # excluded kind
    ]
    return arrow_frame(data, "minz INT, maxz INT, kind STRING").cache()


def test_zoom_histogram_matches_naive_explode(spark, ranged):
    feats = ranged.filter(F.col("kind") != "drop").select("minz", "maxz")
    naive = (
        feats.withColumn("z", F.explode(F.sequence("minz", "maxz")))
        .groupBy("z")
        .agg(F.count("*").alias("n_features"))
    )
    got = tiles.zoom_histogram(feats)
    assert got.columns == naive.columns
    assert _rows(got) == _rows(naive)
    assert got.schema["n_features"].dataType.simpleString() == "bigint"


def test_zoom_histogram_by_kind_matches_naive_explode(spark, ranged):
    points = ranged.filter(F.col("kind") == "point").select("minz", "maxz")
    routed = ranged.filter(F.col("kind") != "point")
    p = points.select(
        F.explode(F.sequence("minz", "maxz")).alias("z"),
        F.lit("point").alias("kind"),
    )
    w = routed.filter(F.col("kind") != "drop").select(
        F.explode(F.sequence("minz", "maxz")).alias("z"), "kind"
    )
    u = p.unionByName(w)
    cnt = lambda k: F.sum(  # noqa: E731
        F.when(F.col("kind") == k, 1).otherwise(0)
    )
    naive = u.groupBy(F.col("z").cast("int").alias("z")).agg(
        cnt("point").alias("n_points"),
        cnt("way").alias("n_ways"),
        cnt("area").alias("n_areas"),
        F.count("*").alias("n_total"),
    )
    got = tiles.zoom_histogram_by_kind(points, routed)
    assert got.columns == naive.columns
    assert _rows(got) == _rows(naive)
    # 'drop' rows must not leak into any bucket
    assert all(r.n_points + r.n_ways + r.n_areas == r.n_total
               for r in got.collect())


def test_clip_window_raw_pair_equals_seq_rank(arrow_frame):
    # way 1: duplicate (lnum, node_id) pairs -> rank tie-break must not
    # change the output multiset (tied rows are identical rows).
    wn_raw = arrow_frame(
        [
            (1, 5, 100), (1, 5, 100), (1, 5, 101), (1, 2, 300),
            (2, 1, 100), (2, 1, 99), (2, 3, 300),
            (3, 7, 400),
        ],
        "way_id LONG, lnum INT, node_id LONG",
    )
    regions = arrow_frame(
        [(100, 10), (101, 10), (300, 10), (300, 20), (99, 20), (400, 30)],
        "node_id LONG, boundary_id INT",
    )
    ranked = wn_raw.withColumn(
        "seq",
        F.row_number().over(
            Window.partitionBy("way_id").orderBy("lnum", "node_id")
        ) - 1,
    )
    via_rank = way_clip_resequence(ranked, regions)
    via_pair = way_clip_resequence(
        wn_raw, regions, order_cols=("lnum", "node_id")
    )
    assert via_pair.columns == via_rank.columns
    assert _rows(via_pair) == _rows(via_rank)
    # dense from 0 within every (way, region) group
    for (wid, bid), seqs in {
        (r.way_id, r.boundary_id): None for r in via_pair.collect()
    }.items():
        got = sorted(
            r.new_seq for r in via_pair.collect()
            if r.way_id == wid and r.boundary_id == bid
        )
        assert got == list(range(len(got)))
