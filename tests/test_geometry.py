"""PIP parity tests: exact reference semantics (osmc/CountryPolygon.c).

A direct, scalar transcription of the reference's decision procedure is
used as the oracle; the vectorized kernel must agree everywhere,
including BOUNDARY / collinear / endpoint / empty-polygon cases.
"""

import math

import numpy as np
import pytest

from osmgraft import cells
from osmgraft.geometry import (
    BOUNDARY,
    INSIDE,
    MAX_LAT_E7,
    OUTSIDE,
    CoordinateRangeError,
    Polygon,
    Ring,
    pip_batch,
    pip_polygon,
    polygon_cover,
)

H = cells.HALF_WORLD


def oracle_pip(x, y, poly: Polygon) -> int:
    """Scalar re-statement of osmc/CountryPolygon.c:59-126 (int math)."""
    if poly.n_segments == 0:
        return INSIDE
    minx, miny, maxx, maxy = poly.bbox
    if x < minx or y < miny or x > maxx or y > maxy:
        return OUTSIDE
    parity = 0
    for p0x, p0y, p1x, p1y in poly.segment_rows():
        if (x, y) == (p0x, p0y) or (x, y) == (p1x, p1y):
            return BOUNDARY
        ax_, ay_ = p1x - p0x, p1y - p0y
        bx_, by_ = x - p0x, y - p0y
        sa = ax_ * by_ - bx_ * ay_
        if sa > 0:
            if p0y < y <= p1y:
                parity = 1 - parity
        elif sa < 0:
            if p1y < y <= p0y:
                parity = 1 - parity
        else:
            if (ax_ * bx_ < 0) or (ay_ * by_ < 0):
                pass  # BEHIND
            elif math.sqrt(ax_ * ax_ + ay_ * ay_) < math.sqrt(bx_ * bx_ + by_ * by_):
                pass  # BEYOND
            else:
                return BOUNDARY  # BETWEEN
    return INSIDE if parity else OUTSIDE


def square(cx, cy, half):
    return Ring(
        [cx - half, cx + half, cx + half, cx - half],
        [cy - half, cy - half, cy + half, cy + half],
    )


def test_empty_polygon_matches_everything():
    p = Polygon(1, "full", [])
    res = pip_polygon([0, 10**9, -(10**9)], [0, 5, -5], p)
    assert np.all(res == INSIDE)


def test_square_inside_outside_boundary():
    p = Polygon(1, "sq", [square(0, 0, 100)])
    pts = [
        (0, 0, INSIDE),
        (99, 99, INSIDE),
        (100, 0, BOUNDARY),  # on edge
        (100, 100, BOUNDARY),  # vertex
        (101, 0, OUTSIDE),
        (-100, -100, BOUNDARY),
        (0, -101, OUTSIDE),
        (0, 100, BOUNDARY),
    ]
    xs = [t[0] for t in pts]
    ys = [t[1] for t in pts]
    got = pip_polygon(xs, ys, p)
    assert got.tolist() == [t[2] for t in pts]


def test_hole_ring_parity():
    outer = square(0, 0, 1000)
    hole = square(0, 0, 100, )
    p = Polygon(1, "donut", [outer, Ring(hole.xs, hole.ys, hole=True)])
    got = pip_polygon([0, 500, 1500, 100], [0, 0, 0, 0], p)
    # center is in the hole -> OUTSIDE; mid-ring INSIDE; far OUTSIDE;
    # on hole edge -> BOUNDARY
    assert got.tolist() == [OUTSIDE, INSIDE, OUTSIDE, BOUNDARY]


def test_concave_polygon():
    # L-shape
    ring = Ring(
        [0, 400, 400, 200, 200, 0],
        [0, 0, 100, 100, 300, 300],
    )
    p = Polygon(1, "L", [ring])
    got = pip_polygon([100, 300, 300, 100], [200, 200, 50, 50], p)
    assert got.tolist() == [INSIDE, OUTSIDE, INSIDE, INSIDE]


def test_vectorized_matches_scalar_oracle_random():
    rng = np.random.RandomState(42)
    for trial in range(8):
        nvert = rng.randint(3, 12)
        # random simple-ish polygon: points on a jittered circle (no
        # self-intersection needed for parity agreement — both sides
        # implement the same procedure)
        ang = np.sort(rng.uniform(0, 2 * math.pi, nvert))
        rad = rng.randint(50, 500, nvert)
        xs = (np.cos(ang) * rad).astype(np.int64)
        ys = (np.sin(ang) * rad).astype(np.int64)
        p = Polygon(1, f"r{trial}", [Ring(xs, ys)])
        px = rng.randint(-600, 600, 300).astype(np.int64)
        py = rng.randint(-600, 600, 300).astype(np.int64)
        # include exact vertices and edge midpoints
        px = np.concatenate([px, xs, (xs + np.roll(xs, -1)) // 2])
        py = np.concatenate([py, ys, (ys + np.roll(ys, -1)) // 2])
        got = pip_polygon(px, py, p)
        want = np.array([oracle_pip(int(x), int(y), p) for x, y in zip(px, py)])
        assert np.array_equal(got, want)


def test_cover_is_exact_superset():
    rng = np.random.RandomState(1)
    for trial in range(5):
        nvert = rng.randint(3, 10)
        ang = np.sort(rng.uniform(0, 2 * math.pi, nvert))
        rad = rng.randint(10**7, 10**8, nvert)
        cx, cy = rng.randint(-10**9, 10**9), rng.randint(-7 * 10**8, 7 * 10**8)
        xs = (cx + np.cos(ang) * rad).astype(np.int64)
        ys = (cy + np.sin(ang) * rad).astype(np.int64)
        p = Polygon(1, f"c{trial}", [Ring(xs, ys)])
        level = 9
        cover = set(polygon_cover(p, level).tolist())
        # every matching random point's cell must be in the cover
        px = rng.randint(cx - 2 * 10**8, cx + 2 * 10**8, 2000).astype(np.int64)
        py = rng.randint(cy - 2 * 10**8, cy + 2 * 10**8, 2000).astype(np.int64)
        match = pip_polygon(px, py, p) != OUTSIDE
        pc = cells.lonlat_cell(px[match], py[match], level)
        assert set(pc.tolist()) <= cover


def test_cover_compact_preserves_coverage():
    p = Polygon(1, "sq", [square(0, 0, 50_000_000)])
    level = 8
    cov = polygon_cover(p, level)
    comp = polygon_cover(p, level, compacted=True)
    assert set(cells.uncompact(comp, level).tolist()) == set(cov.tolist())
    assert comp.size <= cov.size


def test_vertices_outside_lon_lat_range_raise():
    """Vertices beyond lon ±180 / lat ±90 would let the int64 cross
    product wrap (e.g. this segment and point misclassify silently), so
    every polygon constructor and ``pip_batch`` reject them by name."""
    p0x, p0y, p1x, p1y = [-H], [H], [543_486_409], [-H]
    with pytest.raises(CoordinateRangeError):
        pip_batch([H], [362_372_165], *map(np.array, (p0x, p0y, p1x, p1y)))
    with pytest.raises(CoordinateRangeError):
        Polygon(1, "x", [Ring([0, 10, 10], [0, 0, MAX_LAT_E7 + 1])])
    with pytest.raises(CoordinateRangeError):
        Polygon(1, "x", [Ring([0, H + 1, 10], [0, 0, 10])])
    assert issubclass(CoordinateRangeError, ValueError)
    # the range itself is accepted
    Polygon(1, "x", [Ring([-H, H, H, -H], [-MAX_LAT_E7, -MAX_LAT_E7, MAX_LAT_E7, MAX_LAT_E7])])


def _world_band():
    """Vertices on lon ±180 / lat ±90, a segment spanning the full
    longitude range, and a diagonal across the whole lon/lat box."""
    return Polygon(7, "band", [
        Ring([-H, H, H, 0, -H], [-MAX_LAT_E7, -MAX_LAT_E7, MAX_LAT_E7, 0, MAX_LAT_E7]),
    ])


def test_pip_batch_exact_on_the_whole_grid():
    """Against the widest segments the guard allows, every point of the
    square cell grid (lat up to ±1.8e9, beyond the ±90 box) classifies
    as the exact scalar oracle does: no product is formed outside a
    segment's bbox."""
    rng = np.random.RandomState(7)
    p = _world_band()
    px = rng.randint(-H, H + 1, 3000).astype(np.int64)
    py = rng.randint(-H, H + 1, 3000).astype(np.int64)
    px = np.concatenate([px, [H, -H, H, 0, 0, 1, -1, H]])
    py = np.concatenate([py, [MAX_LAT_E7, 0, -H, 0, 1, 0, MAX_LAT_E7, H]])
    got = pip_batch(px, py, p.p0x, p.p0y, p.p1x, p.p1y)
    want = [oracle_pip(int(x), int(y), p) for x, y in zip(px, py)]
    assert got.tolist() == want
    assert {INSIDE, OUTSIDE, BOUNDARY} <= set(want)


# ---------------------------------------------------------------------------
# The spatial join's SQL refine against the scalar oracle
# ---------------------------------------------------------------------------


def _refine_polys():
    hole = square(-600_000_000, 200_000_000, 10_000_000)
    sq = square(100_000_000, -50_000_000, 20_000_000)
    return [
        # clockwise from the left edge: a point on it touches before the
        # right edge crosses, so BOUNDARY must stay sticky
        Polygon(1, "sq", [Ring(sq.xs[::-1], sq.ys[::-1])]),
        Polygon(2, "donut", [
            square(-600_000_000, 200_000_000, 30_000_000),
            Ring(hole.xs, hole.ys, hole=True),
        ]),
        # the concave L, scaled to span several level-9 cells
        Polygon(3, "L", [Ring(
            [np.int64(v) * 100_000 + 1_000_000_000 for v in (0, 400, 400, 200, 200, 0)],
            [np.int64(v) * 100_000 - 400_000_000 for v in (0, 0, 100, 100, 300, 300)],
        )]),
        Polygon(4, "tri", [Ring([-3, 52_345_679, 26_000_001], [-7, 11, 41_234_567])]),
        _world_band(),
        Polygon(9, "world", []),
    ]


def _refine_points(polys, level):
    """Vertices, lattice points on every segment and collinear points
    behind and beyond it, edge midpoints, the corners (and their
    neighbors) of sampled cover cells, random points near each polygon,
    and lon ±180 / lat ±90 and beyond."""
    rng = np.random.RandomState(11)
    pts = set()
    for p in polys:
        for x0, y0, x1, y1 in p.segment_rows():
            g = max(math.gcd(x1 - x0, y1 - y0), 1)
            ux, uy = (x1 - x0) // g, (y1 - y0) // g
            for k in (-2, -1, 0, 1, g // 2, g - 1, g, g + 1, g + 2):
                pts.add((x0 + k * ux, y0 + k * uy))
            pts.add(((x0 + x1) // 2, (y0 + y1) // 2))
        if p.n_segments:
            cov = polygon_cover(p, level)
            cov = cov[:: max(1, cov.size // 80)]
            xmin, xmax, ymin, ymax = cells.cell_bounds_e7(cov)
            for xs in (xmin, xmax, xmax + 1, xmin - 1):
                for ys in (ymin, ymax, ymax + 1):
                    pts.update(zip(xs.tolist(), ys.tolist()))
            minx, miny, maxx, maxy = p.bbox
            w, h = max(maxx - minx, 1), max(maxy - miny, 1)
            pts.update(zip(
                rng.randint(minx - w // 4, maxx + w // 4, 300).tolist(),
                rng.randint(miny - h // 4, maxy + h // 4, 300).tolist(),
            ))
    for x in (-H - 5, -H, -H + 1, 0, H - 1, H, H + 5):
        for y in (-H, -MAX_LAT_E7 - 1, -MAX_LAT_E7, 0, MAX_LAT_E7, MAX_LAT_E7 + 1, H):
            pts.add((x, y))
    return sorted(pts)


def _refine_case(spark, polys, level, **kw):
    """spatial_join(keep_position=True) rows vs the oracle's non-OUTSIDE
    (point, boundary, position) triples."""
    from osmgraft.join import spatial_join

    pts = _refine_points(polys, level)
    df = spark.createDataFrame(
        [(i, x, y) for i, (x, y) in enumerate(pts)], "pid LONG, lon_e7 LONG, lat_e7 LONG"
    )
    rows = spatial_join(spark, df, polys, level=level, keep_position=True, **kw).select(
        "pid", "boundary_id", "position"
    ).collect()
    got = [(r.pid, r.boundary_id, r.position) for r in rows]
    want = set()
    for p in polys:
        for i, (x, y) in enumerate(pts):
            pos = oracle_pip(x, y, p)
            if pos != OUTSIDE:
                want.add((i, p.boundary_id, pos))
    assert len(got) == len(set(got)), "duplicate match rows"
    assert set(got) == want
    assert {pos for _, _, pos in want} == {INSIDE, BOUNDARY}


@pytest.mark.spark
@pytest.mark.parametrize(
    "level, kw, many",
    [
        (9, {}, False),
        (9, {"compact_cover": True}, False),
        (6, {"strategy": "sortmerge"}, False),
        (9, {}, True),
    ],
    ids=["broadcast", "compact", "sortmerge", "many"],
)
def test_sql_refine_matches_scalar_oracle(spark, level, kw, many):
    """``many``: more than 64 polygons, whose cover comes from the same
    driver builder."""
    from osmgraft import synth

    polys = _refine_polys()
    if many:
        polys = [p for p in polys if p.boundary_id != 7]
        polys += synth.boundaries_many(64)
    _refine_case(spark, polys, level, **kw)
