"""Unit tests for the cell index kernels (pure numpy, no Spark)."""

import math

import numpy as np
import pytest

from osmgraft import cells


def test_e7_round_half_away():
    # reference contract: round-half-away (osmc/MapperTypes.h:28)
    assert cells.e7_encode(0.00000005) == 1  # 0.5 -> 1
    assert cells.e7_encode(-0.00000005) == -1
    assert cells.e7_encode(1.0) == 10_000_000
    assert cells.e7_encode(-179.99999995) == -1_800_000_000 + 0  # -.5 away


def test_mercator_y_matches_reference_formula():
    lat = np.array([0, 450_000_000, -450_000_000, 850_000_000], dtype=np.int64)
    y = cells.mercator_y_e7(lat)
    assert y[0] == 0
    # reference: 180/pi * ln(tan(pi/4 + lat*pi/360))
    expect = round(1e7 * 180 / math.pi * math.log(math.tan(math.pi / 4 + 45.0 * math.pi / 360)))
    assert y[1] == expect
    assert y[2] == -y[1]  # symmetry
    assert abs(y[3]) < cells.HALF_WORLD  # 85 deg stays in the square world


def test_axis_tile_bounds_roundtrip():
    rng = np.random.RandomState(42)
    for level in (0, 1, 5, 12, 18):
        v = rng.randint(-cells.HALF_WORLD, cells.HALF_WORLD, size=200).astype(np.int64)
        t = cells._axis_to_tile(v, level)
        c = cells.cell_id(t, np.zeros_like(t), level)
        xmin, xmax, _, _ = cells.cell_bounds_e7(c)
        assert np.all(v >= xmin) and np.all(v <= xmax)
        # bounds are tight: one past either end is a different tile
        assert np.all(cells._axis_to_tile(xmin - 1, level) != t | (xmin == -cells.HALF_WORLD))


def test_cell_pack_decode_roundtrip():
    rng = np.random.RandomState(7)
    for level in (0, 3, 9, 18):
        n = 1 << level
        x = rng.randint(0, n, size=100).astype(np.int64)
        y = rng.randint(0, n, size=100).astype(np.int64)
        c = cells.cell_id(x, y, level)
        lv, yy, xx = cells.cell_decode(c)
        assert np.all(lv == level) and np.all(xx == x) and np.all(yy == y)


def test_parent_children_inverse():
    rng = np.random.RandomState(3)
    level = 10
    n = 1 << level
    x = rng.randint(0, n, size=50).astype(np.int64)
    y = rng.randint(0, n, size=50).astype(np.int64)
    c = cells.cell_id(x, y, level)
    p = cells.parent(c)
    kids = cells.children(p)
    # each cell appears among its parent's children
    assert all(c[i] in kids[i] for i in range(c.size))
    # parent(point cell at z) == point cell at z-1
    lon = rng.randint(-cells.HALF_WORLD, cells.HALF_WORLD, 100).astype(np.int64)
    lat = rng.randint(-850_000_000, 850_000_000, 100).astype(np.int64)
    assert np.array_equal(
        cells.parent(cells.lonlat_cell(lon, lat, 12)),
        cells.lonlat_cell(lon, lat, 11),
    )


def test_k_ring_size_and_symmetry():
    c = cells.lonlat_cell(np.int64(0), np.int64(0), 6)
    ring1 = cells.k_ring(int(c), 1)
    assert len(ring1) == 9
    ring2 = cells.k_ring(int(c), 2)
    assert len(ring2) == 25
    assert set(ring1) <= set(ring2)
    # wrap at the antimeridian: full row preserved
    edge = cells.cell_id(0, 10, 6)
    ringe = cells.k_ring(int(edge), 1)
    assert len(ringe) == 9


def test_compact_uncompact_roundtrip():
    level = 4
    # a full parent quartet plus a loner
    kids = cells.children(cells.cell_id(2, 3, 3)).reshape(-1)
    loner = cells.cell_id(9, 9, level)
    cover = np.concatenate([kids, [loner]])
    comp = cells.compact(cover)
    assert comp.size == 2  # parent + loner
    back = cells.uncompact(comp, level)
    assert set(back.tolist()) == set(cover.tolist())


def test_quadkey_interleave():
    c = cells.cell_id(0b101, 0b011, 3)
    q = cells.quadkey(c)
    # interleaved (y,x) bits: x=101, y=011 -> q = 011011 reading y_b x_b
    assert int(q) & ((1 << 52) - 1) == 0b011011


@pytest.mark.spark
def test_spark_cell_cols_match_numpy(spark):
    import pandas as pd
    from pyspark.sql import functions as F

    rng = np.random.RandomState(11)
    lon = rng.randint(-cells.HALF_WORLD, cells.HALF_WORLD, 500).astype(np.int64)
    lat = rng.randint(-850_000_000, 850_000_000, 500).astype(np.int64)
    pdf = pd.DataFrame({"lon_e7": lon, "lat_e7": lat})
    df = spark.createDataFrame(pdf)
    got = (
        df.select(
            cells.lonlat_cell_col(F.col("lon_e7"), F.col("lat_e7"), 9).alias("cell"),
            cells.mercator_y_col(F.col("lat_e7")).alias("my"),
            cells.mercator_tile_cols(F.col("lon_e7"), F.col("lat_e7"), 12)[0].alias("tx"),
            cells.mercator_tile_cols(F.col("lon_e7"), F.col("lat_e7"), 12)[1].alias("ty"),
        )
        .toPandas()
    )
    assert np.array_equal(got["cell"].to_numpy(), cells.lonlat_cell(lon, lat, 9))
    assert np.array_equal(got["my"].to_numpy(), cells.mercator_y_e7(lat))
    tx, ty = cells.mercator_tile(lon, lat, 12)
    assert np.array_equal(got["tx"].to_numpy(), tx)
    assert np.array_equal(got["ty"].to_numpy(), ty)


def test_rasterize_vectorize_fixpoint(spark):
    """Invariant: a vectorized pixel-center feature re-rasterizes into
    exactly the pixel it came from (the integer inverse is exact)."""
    from pyspark.sql import functions as F

    from osmgraft import synth, tiles

    pts = synth.geo_entities_df(spark, "/root/testdata/sf0.001")
    raster = tiles.rasterize_points(pts, z=6)
    vec = tiles.vectorize_raster(raster, z=6, threshold=1)
    # re-rasterize the vector features in LINEAR grid space on both
    # axes: lon_e7 is linear, and my_e7 is already projected, so the
    # pixel index must come straight back out of axis binning
    from osmgraft import cells as C

    back = vec.select(
        "tile_x", "tile_y", "px", "py",
        C.axis_tile_col(F.col("lon_e7"), 10).alias("gx"),
        C.axis_tile_col(F.col("my_e7"), 10).alias("gy"),
    )
    bad = back.filter(
        (F.shiftright("gx", 4) != F.col("tile_x"))
        | (F.shiftright("gy", 4) != F.col("tile_y"))
        | (F.col("gx").bitwiseAND(F.lit(15)) != F.col("px"))
        | (F.col("gy").bitwiseAND(F.lit(15)) != F.col("py"))
    ).count()
    assert bad == 0
    assert vec.count() > 0
    # conservation: total raster counts == total points
    tot = raster.agg(F.sum("n_points")).collect()[0][0]
    assert tot == pts.count()


def test_raster_pyramid_conservation_and_dense_reshape(spark):
    from pyspark.sql import functions as F

    from osmgraft import synth, tiles

    pts = synth.geo_entities_df(spark, "/root/testdata/sf0.001")
    n = pts.count()
    raster = tiles.rasterize_points(pts, z=6)
    pyr = tiles.rollup_raster(raster, from_z=6, to_z=4)
    # every level conserves the total count
    per_z = {r.z: r.s for r in pyr.groupBy("z").agg(F.sum("n_points").alias("s")).collect()}
    assert per_z == {4: n, 5: n, 6: n}
    # z6 of the pyramid is identical to the base raster
    base = {(r.tile_x, r.tile_y, r.px, r.py, r.n_points) for r in raster.collect()}
    z6 = {(r.tile_x, r.tile_y, r.px, r.py, r.n_points)
          for r in pyr.filter(F.col("z") == 6).collect()}
    assert base == z6
    # dense reshape: array sums match sparse sums per tile
    dense = tiles.dense_tile_raster(raster)
    row = dense.select(
        F.sum(F.aggregate("pixels", F.lit(0).cast("long"), lambda a, x: a + x)).alias("s")
    ).collect()[0]
    assert row.s == n
