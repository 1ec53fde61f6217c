"""Hierarchical cell index (H3/S2-shaped API over Web-Mercator quadkeys).

Two cell families, both exact integer math on the reference's 1e-7-degree
fixed-point coordinates (reference contract: ``osmc/MapperTypes.h:28-31``,
``COORDINATE_MULTIPLIER = 10^7`` with round-half-away):

* **Mercator XYZ tiles** at zoom z in [0, 18] — exactly the reference's
  tile addressing (``osmc/utils.h:19-20`` MAX_ZOOM_LEVEL, projection
  ``osmc/mapper.c:28-34``).  Used for the tile pyramid / rendering stage.
* **Equirectangular lon/lat grid cells** at level g — a pure-integer grid
  over raw (lon_e7, lat_e7).  Used as the *prefilter* cell scheme of the
  spatial join, because polygon edges stay straight lines in lon/lat
  space so the polygon cell cover can be an **exact superset** (no
  transcendental functions, no curvature error).

Cell ids pack (level, y, x) into one int64:

    cell = (level << 52) | (y << 26) | x          (26 bits per axis)

which sorts by (level, row, col) — row-major locality, cheap parent /
children / k_ring as plain arithmetic (JVM-expressible, so the hot path
never leaves whole-stage codegen).  A Morton/quadkey form is provided for
API parity with H3-style compact covers.

All Spark-side helpers return Column expressions built from
``pyspark.sql.functions`` only — no Python UDFs in the cell hot path.
"""

from __future__ import annotations

import math

import numpy as np

try:  # allow pure-numpy use without a Spark install (oracle tooling)
    from pyspark.sql import Column
    from pyspark.sql import functions as F
except Exception:  # pragma: no cover
    F = None  # type: ignore

E7 = 10_000_000
WORLD = 3_600_000_000  # 360 degrees in e7 units
HALF_WORLD = 1_800_000_000
MAX_ZOOM = 18  # osmc/utils.h:19
MIN_ZOOM = 0  # osmc/utils.h:20
_LEVEL_SHIFT = 52
_Y_SHIFT = 26
_XY_MASK = (1 << 26) - 1

# ---------------------------------------------------------------------------
# numpy kernels (driver-side cover computation, pandas-UDF internals, oracles)
# ---------------------------------------------------------------------------


def e7_encode(deg):
    """degrees -> int e7, round-half-away (osmc/MapperTypes.h:28)."""
    a = np.asarray(deg, dtype=np.float64)
    return np.where(a >= 0, np.floor(a * E7 + 0.5), np.ceil(a * E7 - 0.5)).astype(
        np.int64
    )


def mercator_y_e7(lat_e7):
    """Web-Mercator y in e7 units (osmc/mapper.c:28-34), vectorized.

    y = round(1e7 * 180/pi * ln(tan(pi/4 + lat * (pi/180) / 2)))
    """
    lat = np.asarray(lat_e7, dtype=np.float64) / E7
    y = 180.0 / math.pi * np.log(np.tan(math.pi / 4.0 + lat * (math.pi / 180.0) / 2.0))
    return np.where(y >= 0, np.floor(y * E7 + 0.5), np.ceil(y * E7 - 0.5)).astype(
        np.int64
    )


def _axis_to_tile(v_e7, level):
    """Map an e7 coordinate in [-1.8e9, 1.8e9] to a tile index at level.

    Exact int64:  tile = ((v + 1.8e9) << level) // 3.6e9, clamped.
    """
    v = np.asarray(v_e7, dtype=np.int64)
    t = ((v + HALF_WORLD) * (np.int64(1) << level)) // WORLD
    return np.clip(t, 0, (1 << level) - 1)


def cell_id(x_idx, y_idx, level):
    x = np.asarray(x_idx, dtype=np.int64)
    y = np.asarray(y_idx, dtype=np.int64)
    return (np.int64(level) << _LEVEL_SHIFT) | (y << _Y_SHIFT) | x


def cell_decode(cell):
    c = np.asarray(cell, dtype=np.int64)
    return (
        (c >> _LEVEL_SHIFT).astype(np.int64),
        (c >> _Y_SHIFT) & _XY_MASK,
        c & _XY_MASK,
    )


def lonlat_cell(lon_e7, lat_e7, level):
    """Equirectangular grid cell of a raw lon/lat point (prefilter space)."""
    return cell_id(_axis_to_tile(lon_e7, level), _axis_to_tile(lat_e7, level), level)


def mercator_tile(lon_e7, lat_e7, z):
    """Reference tile addressing: x = lon, y = mercator(lat), both gridded."""
    return (
        _axis_to_tile(lon_e7, z),
        _axis_to_tile(mercator_y_e7(lat_e7), z),
    )


def viewport_tiles(min_lon_e7, min_lat_e7, max_lon_e7, max_lat_e7, z):
    """Inclusive zoom-z tile ranges ``(tx0, tx1, ty0, ty1)`` covering a
    lon/lat viewport (the axis->tile map is monotone, so the corners
    bound the range)."""
    tx0, ty_a = mercator_tile(np.int64(min_lon_e7), np.int64(min_lat_e7), z)
    tx1, ty_b = mercator_tile(np.int64(max_lon_e7), np.int64(max_lat_e7), z)
    return int(tx0), int(tx1), int(min(ty_a, ty_b)), int(max(ty_a, ty_b))


def parent(cell):
    """The containing cell one level up."""
    level, y, x = cell_decode(cell)
    nl = level - 1
    if np.any(nl < 0):
        raise ValueError("parent below level 0")
    return cell_id(x >> 1, y >> 1, 0) | (nl.astype(np.int64) << _LEVEL_SHIFT)


def children(cell):
    """Four child cells (next finer level)."""
    level, y, x = cell_decode(np.asarray(cell))
    lv = level + 1
    out = []
    for dy in (0, 1):
        for dx in (0, 1):
            out.append(
                ((lv.astype(np.int64)) << _LEVEL_SHIFT)
                | (((y << 1) | dy) << _Y_SHIFT)
                | ((x << 1) | dx)
            )
    return np.stack(out, axis=-1)


def k_ring(cell, k: int):
    """All cells within Chebyshev distance k — the (2k+1)^2 neighborhood.

    Longitude wraps; latitude clamps (rows outside the grid are dropped).
    Returns a flat int64 array (per input cell when given a scalar).
    """
    level, y, x = cell_decode(np.asarray(cell))
    n = 1 << int(level) if np.ndim(level) == 0 else None
    if n is None:
        raise ValueError("k_ring expects a scalar cell")
    cells = []
    for dy in range(-k, k + 1):
        yy = int(y) + dy
        if yy < 0 or yy >= n:
            continue
        for dx in range(-k, k + 1):
            xx = (int(x) + dx) % n
            cells.append((int(level) << _LEVEL_SHIFT) | (yy << _Y_SHIFT) | xx)
    return np.array(sorted(set(cells)), dtype=np.int64)


def quadkey(cell):
    """Morton/quadkey form: bits of (y, x) interleaved, H3-compact-friendly."""
    level, y, x = cell_decode(np.asarray(cell))
    q = np.zeros_like(np.asarray(x, dtype=np.int64))
    for b in range(26):
        q |= ((x >> b) & 1) << (2 * b)
        q |= ((y >> b) & 1) << (2 * b + 1)
    return (np.asarray(level, dtype=np.int64) << _LEVEL_SHIFT) | q


def compact(cells):
    """Collapse any complete sibling quartet into its parent, recursively.

    Input: int64 array of cells at one level. Output: mixed-level cover
    with identical coverage (H3 ``compact`` analog).
    """
    out = []
    cur = np.unique(np.asarray(cells, dtype=np.int64))
    while cur.size:
        level = int(cur[0] >> _LEVEL_SHIFT)
        if level == 0:
            out.append(cur)
            break
        p = parent(cur)
        pu, counts = np.unique(p, return_counts=True)
        full = pu[counts == 4]
        if full.size == 0:
            out.append(cur)
            break
        keep = ~np.isin(p, full)
        out.append(cur[keep])
        cur = full
    return np.concatenate(out) if out else np.array([], dtype=np.int64)


def uncompact(cells, level: int):
    """Expand a mixed-level cover down to ``level`` (H3 ``uncompact``)."""
    cur = np.asarray(cells, dtype=np.int64)
    done = []
    while cur.size:
        lv = (cur >> _LEVEL_SHIFT).astype(np.int64)
        at = cur[lv == level]
        if at.size:
            done.append(at)
        todo = cur[lv < level]
        if np.any(lv > level):
            raise ValueError("cover contains cells finer than target level")
        cur = children(todo).reshape(-1) if todo.size else np.array([], dtype=np.int64)
    return np.unique(np.concatenate(done)) if done else np.array([], dtype=np.int64)


def cell_bounds_e7(cell):
    """(min_v, max_v) e7 bounds per axis of a cell: [min, max) half-open."""
    level, y, x = cell_decode(np.asarray(cell))
    n = np.int64(1) << level
    # exact rational bounds: axis value v is in tile t iff
    # t*WORLD <= (v + HALF_WORLD) * n < (t+1)*WORLD  — ceil/floor division
    xmin = -(-(x * WORLD) // n) - HALF_WORLD  # ceil(x*WORLD/n) - HALF
    xmax = ((x + 1) * WORLD - 1) // n - HALF_WORLD
    ymin = -(-(y * WORLD) // n) - HALF_WORLD
    ymax = ((y + 1) * WORLD - 1) // n - HALF_WORLD
    return xmin, xmax, ymin, ymax


# ---------------------------------------------------------------------------
# Spark Column builders — all JVM-side (whole-stage codegen), no Python UDFs
# ---------------------------------------------------------------------------


def axis_tile_col(v_e7: "Column", level: "int | Column") -> "Column":
    """Spark-side :func:`_axis_to_tile`: ``((v + HALF_WORLD) << level)
    DIV WORLD`` in int64, clamped to [0, 2^level - 1]; ``level`` is an
    int or a per-row Column.  A NULL ``v_e7`` lands in the last tile,
    2^level - 1: ``least``/``greatest`` skip NULLs, as DuckDB's do, so
    the tile oracles expect it."""
    if not isinstance(level, Column):
        level = F.lit(level)
    n = F.call_function("shiftleft", F.lit(1).cast("long"), level)
    v = v_e7 + F.lit(HALF_WORLD).cast("long")
    t = F.call_function("div", v * n, F.lit(WORLD))
    return F.greatest(F.lit(0), F.least(n - 1, t))


def cell_col(x_idx: "Column", y_idx: "Column", level: int) -> "Column":
    return (
        F.lit(int(level) << _LEVEL_SHIFT)
        + F.shiftleft(y_idx.cast("long"), _Y_SHIFT)
        + x_idx.cast("long")
    ).cast("long")


def lonlat_cell_col(lon_e7: "Column", lat_e7: "Column", level: int) -> "Column":
    return cell_col(
        axis_tile_col(lon_e7, level), axis_tile_col(lat_e7, level), level
    )


def mercator_y_col(lat_e7: "Column") -> "Column":
    """JVM-side mercator y in e7 units with round-half-away semantics.

    Cross-engine parity note: the DuckDB oracle computes the same
    180/pi * ln(tan(pi/4 + lat*pi/360)) * 1e7 with libm while this path
    uses java.lang.Math — a latitude whose mercator e7 value lands
    within 1 ULP of an x.5 boundary could round differently and flip a
    tile at a tile edge.  Empirically zero mismatches over every sf0.1
    point (both engines use correctly-rounded-to-<=1ulp log/tan); if a
    glibc/JDK bump ever surfaces one, the fallback is to pin the oracle
    to driver-precomputed y values (see NOTES_r1.md #2).
    """
    lat = lat_e7.cast("double") / F.lit(float(E7))
    y = (
        F.lit(180.0 / math.pi)
        * F.log(F.tan(F.lit(math.pi / 4.0) + lat * F.lit(math.pi / 180.0 / 2.0)))
        * F.lit(float(E7))
    )
    return F.when(y >= 0, F.floor(y + F.lit(0.5))).otherwise(
        F.ceil(y - F.lit(0.5))
    ).cast("long")


def mercator_tile_cols(lon_e7: "Column", lat_e7: "Column", z: "int | Column"):
    return axis_tile_col(lon_e7, z), axis_tile_col(mercator_y_col(lat_e7), z)

