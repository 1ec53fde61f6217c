"""Exact integer geometry: ray-cast point-in-polygon + polygon cell covers.

Reproduces the reference's PIP decision procedure bit-for-bit
(``osmc/CountryPolygon.c:59-126``) on 1e-7-degree fixed-point integers,
widened to int64 (the C code computes the cross products in int32 and can
overflow on continent-scale segments — a latent bug we do not copy; see
SURVEY.md §8).

Semantics contract (per segment (p0, p1), query point a):
  * a == p0 or a == p1                              -> TOUCHING
  * cross = (p1-p0) x (a-p0):
      cross > 0 (LEFT)  and p0y <  ay <= p1y        -> CROSSING
      cross < 0 (RIGHT) and p1y <  ay <= p0y        -> CROSSING
      cross == 0, collinear, within the segment     -> TOUCHING
      otherwise                                     -> INESSENTIAL
  * any TOUCHING segment         -> BOUNDARY  (callers treat as inside,
                                    ``osmc/obm.c:28-30``)
  * odd number of CROSSINGs      -> INSIDE, else OUTSIDE
  * polygon with zero segments   -> INSIDE for every point
                                    (``osmc/CountryPolygon.c:105-107``)
  * bbox reject first            -> OUTSIDE (``CountryPolygon.c:109-111``)

Arithmetic bound: vertices must lie within lon ±1.8e9 / lat ±9e8 (e7
units; :class:`CoordinateRangeError` otherwise).  Only a point inside a
segment's closed bounding box needs the cross product: there "collinear"
means TOUCHING, left of the box is CROSSING when the y-range holds,
right of it never is.  Inside the box the triangle (p0, p1, a) lies in
the box, so each product and |cross| are at most |dx|·|dy| <=
3.6e9·1.8e9 = 6.48e18 < 2^63: exact in int64 (numpy) and in Spark LONG
(whose ANSI mode would raise, not wrap) for every int64 query point.

A polygon is a flat segment list: holes are simply additional rings
appended to the same list (parity handles them), matching the reference's
``.poly`` reader (``osmc/CountryPolygon.c:128-208``).

The numpy kernel is fully vectorized over (points x segments) blocks.
It builds the polygon covers on the driver and is the oracle of the
spatial join's refine, which runs the same test as a SQL expression
over the per-cell segment lists of :func:`refine_cover`.
"""

from __future__ import annotations

import numpy as np

from . import cells

OUTSIDE, INSIDE, BOUNDARY = 0, 1, 2
MAX_LAT_E7 = 900_000_000


class CoordinateRangeError(ValueError):
    """A polygon vertex outside lon ±1.8e9 / lat ±9e8 (e7 units)."""


def _check_segments(p0x, p0y, p1x, p1y) -> None:
    xs = np.concatenate([np.asarray(v, dtype=np.int64).ravel() for v in (p0x, p1x)])
    ys = np.concatenate([np.asarray(v, dtype=np.int64).ravel() for v in (p0y, p1y)])
    h = cells.HALF_WORLD
    bad = (xs < -h) | (xs > h) | (ys < -MAX_LAT_E7) | (ys > MAX_LAT_E7)
    if bad.any():
        i = int(np.argmax(bad))
        raise CoordinateRangeError(
            f"polygon vertex ({int(xs[i])}, {int(ys[i])}) outside lon "
            f"±{cells.HALF_WORLD} / lat ±{MAX_LAT_E7} (e7 units)"
        )


class Ring:
    """One closed ring as int64 e7 vertex arrays (first != last required;
    closure segment is implicit, matching the reference's END-delimited
    rings which close last->first)."""

    __slots__ = ("xs", "ys", "hole")

    def __init__(self, xs, ys, hole: bool = False):
        self.xs = np.asarray(xs, dtype=np.int64)
        self.ys = np.asarray(ys, dtype=np.int64)
        self.hole = hole

    def segments(self):
        """(p0x, p0y, p1x, p1y) arrays, one row per segment incl. closure."""
        x0, y0 = self.xs, self.ys
        x1, y1 = np.roll(self.xs, -1), np.roll(self.ys, -1)
        return x0, y0, x1, y1


class Polygon:
    """Flat segment-list polygon with a bbox (CountryPolygon.h:16-26)."""

    def __init__(self, boundary_id: int, name: str, rings: list[Ring]):
        self.boundary_id = boundary_id
        self.name = name
        self.rings = rings
        segs = [r.segments() for r in rings]
        self.p0x, self.p0y, self.p1x, self.p1y = (
            np.concatenate([s[i] for s in segs]) if segs
            else np.zeros(0, dtype=np.int64)
            for i in range(4)
        )
        _check_segments(self.p0x, self.p0y, self.p1x, self.p1y)
        if self.p0x.size:
            self.bbox = (
                int(min(self.p0x.min(), self.p1x.min())),
                int(min(self.p0y.min(), self.p1y.min())),
                int(max(self.p0x.max(), self.p1x.max())),
                int(max(self.p0y.max(), self.p1y.max())),
            )
        else:  # the empty "FULL" polygon matches everything
            h = cells.HALF_WORLD
            self.bbox = (-h, -h, h, h)

    @property
    def n_segments(self) -> int:
        return int(self.p0x.size)

    def segment_rows(self):
        """list of (p0x, p0y, p1x, p1y) python-int tuples (oracle SQL gen)."""
        return [
            (int(a), int(b), int(c), int(d))
            for a, b, c, d in zip(self.p0x, self.p0y, self.p1x, self.p1y)
        ]


def _upward(p0x, p0y, p1x, p1y):
    """Segments as (x0, y0, x1, y1) with y0 <= y1.  Swapping the ends
    negates the cross product, so CROSSING becomes one rule:
    y0 < ay <= y1 and cross > 0 (the segment is right of the point)."""
    up = p1y >= p0y
    return (
        np.where(up, p0x, p1x), np.where(up, p0y, p1y),
        np.where(up, p1x, p0x), np.where(up, p1y, p0y),
    )


def pip_batch(ax, ay, p0x, p0y, p1x, p1y):
    """Classify points (ax, ay) against one segment list. Returns int8
    array of OUTSIDE/INSIDE/BOUNDARY. Vectorized (n_points x n_segments);
    for large batches callers should chunk points.  Exact for any int64
    point (see the module docstring's arithmetic bound).
    """
    ax = np.asarray(ax, dtype=np.int64)[:, None]
    ay = np.asarray(ay, dtype=np.int64)[:, None]
    _check_segments(p0x, p0y, p1x, p1y)
    if np.size(p0x) == 0:
        return np.full(ax.shape[0], INSIDE, dtype=np.int8)
    segs = (np.asarray(v, dtype=np.int64) for v in (p0x, p0y, p1x, p1y))
    x0, y0, x1, y1 = (v[None, :] for v in _upward(*segs))
    in_y = (y0 <= ay) & (ay <= y1)
    left = ax < np.minimum(x0, x1)
    in_box = in_y & ~left & (ax <= np.maximum(x0, x1))
    lhs = (x1 - x0) * np.where(in_box, ay - y0, 0)
    rhs = np.where(in_box, ax - x0, 0) * (y1 - y0)
    touching = in_box & (lhs == rhs)
    crossing = in_y & (ay > y0) & (left | (in_box & (lhs > rhs)))

    touched = touching.any(axis=1)
    parity = (crossing.sum(axis=1) & 1).astype(bool)
    out = np.where(touched, BOUNDARY, np.where(parity, INSIDE, OUTSIDE))
    return out.astype(np.int8)


def refine_sql(x: str, y: str, inside: str, segs: str) -> str:
    """:func:`pip_batch` as a Spark SQL expression: the position of
    point (``x``, ``y``) given a cover entry of :func:`refine_cover` (an
    ``inside`` flag and its ``segs``, upward).  Folds the segments with
    acc = the crossing parity until a TOUCHING one makes it BOUNDARY;
    it forms products only inside a segment's bbox, so LONG is exact."""
    in_box_cross = f"(s.x1 - s.x0) * ({y} - s.y0) %s ({x} - s.x0) * (s.y1 - s.y0)"
    return f"""aggregate({segs}, IF({inside}, {INSIDE}, {OUTSIDE}), (acc, s) -> CASE
        WHEN acc = {BOUNDARY} OR {y} < s.y0 OR {y} > s.y1
             OR {x} > greatest(s.x0, s.x1) THEN acc
        WHEN {x} < least(s.x0, s.x1) THEN IF({y} > s.y0, 1 - acc, acc)
        WHEN {in_box_cross % "="} THEN {BOUNDARY}
        WHEN {y} > s.y0 AND {in_box_cross % ">"} THEN 1 - acc
        ELSE acc END)"""


def pip_polygon(ax, ay, poly: Polygon):
    """Full reference semantics incl. empty-polygon and bbox reject."""
    ax = np.asarray(ax, dtype=np.int64)
    ay = np.asarray(ay, dtype=np.int64)
    if poly.n_segments == 0:
        return np.full(ax.shape[0], INSIDE, dtype=np.int8)
    minx, miny, maxx, maxy = poly.bbox
    inb = (ax >= minx) & (ax <= maxx) & (ay >= miny) & (ay <= maxy)
    res = np.full(ax.shape[0], OUTSIDE, dtype=np.int8)
    if inb.any():
        res[inb] = pip_batch(ax[inb], ay[inb], poly.p0x, poly.p0y, poly.p1x, poly.p1y)
    return res


def pip_matches(ax, ay, poly: Polygon):
    """boolean: INSIDE or BOUNDARY (callers' truthiness, obm.c:28-30)."""
    return pip_polygon(ax, ay, poly) != OUTSIDE


# ---------------------------------------------------------------------------
# Polygon cell cover (lon/lat grid — edges are straight lines, cover exact)
# ---------------------------------------------------------------------------


def _cell_segments(poly: Polygon, cov):
    """For each cell of ``cov``: does a segment meet its closed rectangle,
    and is it INSIDE outright (no segment meets it, so every point has
    its center's status); plus (cell index, segment index) pairs of the
    segments that decide the points of the cells a segment meets."""
    xmin, xmax, ymin, ymax = cells.cell_bounds_e7(cov)
    # points beyond the grid clamp into its edge cells, so the last
    # column/row reaches the grid edge (vertices lie within it)
    edge = cells.HALF_WORLD - 1
    xmax, ymax = (np.where(v == edge, edge + 1, v) for v in (xmax, ymax))
    x0, y0, x1, y1 = _upward(poly.p0x, poly.p0y, poly.p1x, poly.p1y)
    xlo, xhi, dx, dy = np.minimum(x0, x1), np.maximum(x0, x1), x1 - x0, y1 - y0
    meets = np.zeros(cov.size, dtype=bool)
    rows, cols = [np.zeros(0, dtype=np.int64)], [np.zeros(0, dtype=np.int64)]
    step = max(1, 1_000_000 // x0.size)
    for s in range(0, cov.size, step):
        c = slice(s, s + step)
        cx0, cx1, cy0, cy1 = (v[c, None] for v in (xmin, xmax, ymin, ymax))
        sel = (y0 <= cy1) & (y1 >= cy0) & (xhi >= cx0)
        # a segment is the diagonal of its bbox, so it meets the cell iff
        # it meets the cell clipped to that bbox: the clipped corners do
        # not all lie strictly on one side of its line
        rx0, rx1 = np.maximum(cx0, xlo), np.minimum(cx1, xhi)
        ry0, ry1 = np.maximum(cy0, y0), np.minimum(cy1, y1)
        side = [
            np.sign(dx * (ry - y0) - (rx - x0) * dy)
            for rx in (rx0, rx1) for ry in (ry0, ry1)
        ]
        hit = sel & (xlo <= cx1)  # the clipped cell is not empty
        hit &= (np.minimum.reduce(side) <= 0) & (np.maximum.reduce(side) >= 0)
        meets[c] = hit.any(axis=1)
        r, k = np.nonzero(sel & meets[c, None])
        rows.append(r + s)
        cols.append(k)
    inside = ~meets
    cx, cy = (xmin[inside] + xmax[inside]) // 2, (ymin[inside] + ymax[inside]) // 2
    inside[inside] = pip_polygon(cx, cy, poly) == INSIDE
    return meets, inside, np.concatenate(rows), np.concatenate(cols)


def refine_cover(poly: Polygon, level: int, compacted: bool = False):
    """The exact-superset cover of a non-empty polygon with what its
    refine needs per cell: ``(cell, inside, offsets, segs)``.

    The cover is every cell of the polygon's bbox that a segment meets
    or whose center is INSIDE: a cell no segment meets has its center's
    status for every point, so no matching point is missed.  Such cells
    are ``inside``.  Every other cell keeps ``segs[offsets[i]:offsets[i +
    1]]`` (upward, see :func:`_upward`): the segments whose closed
    y-range meets the cell's and whose max x is at least the cell's min
    x.  Only those can be CROSSING or TOUCHING for a point in the cell,
    so they decide it as the full list does.  ``compacted=True``
    collapses complete sibling quartets into parents (mixed-level
    cover); lists are computed on each cell's own rectangle.
    """
    (_, ya, xa), (_, yb, xb) = (
        cells.cell_decode(cells.lonlat_cell(x, y, level))
        for x, y in (poly.bbox[:2], poly.bbox[2:])
    )
    gy, gx = np.meshgrid(np.arange(ya, yb + 1), np.arange(xa, xb + 1), indexing="ij")
    cov = cells.cell_id(gx.ravel(), gy.ravel(), level)
    meets, inside, rows, cols = _cell_segments(poly, cov)
    if compacted:
        cov = cells.compact(cov[meets | inside])
        meets, inside, rows, cols = _cell_segments(poly, cov)
    keep = meets | inside
    counts = np.bincount(rows, minlength=cov.size)[keep]
    offsets = np.concatenate([[0], np.cumsum(counts)]).astype(np.int32)
    segs = _upward(poly.p0x, poly.p0y, poly.p1x, poly.p1y)
    return cov[keep], inside[keep], offsets, tuple(v[cols] for v in segs)


def polygon_cover(poly: Polygon, level: int, compacted: bool = False):
    """Exact-superset cell cover of a polygon on the lon/lat grid (the
    cells of :func:`refine_cover`); the residual PIP refine removes
    false positives.

    The empty FULL polygon covers the entire grid — represented as the
    single level-0 cell (callers must uncompact or special-case it).
    """
    if poly.n_segments == 0:
        return np.array([cells.cell_id(0, 0, 0)], dtype=np.int64)
    return refine_cover(poly, level, compacted=compacted)[0]
