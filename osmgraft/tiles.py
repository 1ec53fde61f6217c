"""Classification, zoom-range assignment, and the zoom tile pyramid.

Re-expresses the reference's mapper stage (``osmc/mapper.c``) as pure
``F.when`` chains and explode/groupBy pipelines — everything JVM-side
inside whole-stage codegen; no Python in the hot path.

Decision tables transcribed exactly:
  * point class  — first-match over tag keys (``mapper.c:545-567``)
  * way class    — ``mapper.c:591-608`` (power=line, boundary, highway,
                   railway, waterway != riverbank)
  * area class   — ``mapper.c:610-631`` (incl. any-tags fallback "Area")
  * way/area routing — ``area=yes`` override, else way class, else
                   ring-closed => area (``mapper.c:640-659``)
  * point zoom   — place city/town/hamlet table (``mapper.c:235-265``)
  * way zoom     — highway table + boundary admin_level switch
                   (``mapper.c:315-372``)
  * area zoom    — building/sport/water/landuse/natural (``mapper.c:397-418``)
MAX_ZOOM_LEVEL = 18 (``osmc/utils.h:19``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from . import cells

MAX_ZOOM = 18
# Pixel bits per raster tile axis (a 16 x 16 grid).  A raster decodes
# only with the bit count that encoded it, so every raster function
# uses this one value.
RASTER_BITS = 4


def _t(key: str) -> Column:
    return F.col("tags").getItem(key)


def point_class() -> Column:
    """osmc/mapper.c:545-567 — first-match tag-key rule chain."""
    return (
        F.when(_t("amenity").isNotNull(), "Amenity")
        .when(_t("shop").isNotNull(), "Shop")
        .when(_t("tourism").isNotNull(), "Tourism")
        .when(_t("historic").isNotNull(), "Historic")
        .when(_t("power").isNotNull(), "Power")
        .when(_t("place").isNotNull(), "Place")
        .when(_t("highway") == "traffic_signals", "TrafficSignals")
        .when(
            _t("crossing").isNotNull()
            | (_t("highway") == "crossing")
            | (_t("railway") == "crossing"),
            "Crossing",
        )
        .otherwise(F.lit(None).cast("string"))
    )


def point_zoom_min() -> Column:
    """osmc/mapper.c:235-250."""
    return (
        F.when(_t("place") == "city", 5)
        .when(_t("place") == "town", 7)
        .when(_t("place") == "hamlet", 11)
        .otherwise(14)
    )


def point_zoom_max() -> Column:
    """osmc/mapper.c:252-265."""
    return (
        F.when(_t("place") == "city", 11)
        .when(_t("place") == "town", 12)
        .when(_t("place") == "hamlet", 14)
        .otherwise(MAX_ZOOM)
    )


def way_class() -> Column:
    """osmc/mapper.c:591-608."""
    return (
        F.when(_t("power") == "line", "PowerWay")
        .when(_t("boundary").isNotNull(), "Boundary")
        .when(_t("highway").isNotNull(), "Highway")
        .when(_t("railway").isNotNull(), "Railway")
        .when(
            _t("waterway").isNotNull() & (_t("waterway") != "riverbank"), "Waterway"
        )
        .otherwise(F.lit(None).cast("string"))
    )


def area_class() -> Column:
    """osmc/mapper.c:610-631 (note the any-tags 'Area' fallback)."""
    return (
        F.when(_t("building").isNotNull(), "Building")
        .when(_t("landuse").isNotNull(), "Landuse")
        .when(_t("leisure").isNotNull(), "Leisure")
        .when(_t("waterway") == "riverbank", "Water")
        .when(_t("sport").isNotNull(), "Sport")
        .when(_t("natural").isNotNull(), "Natural")
        .when(_t("power").isNotNull(), "PowerArea")
        .when(_t("amenity") == "parking", "Parking")
        .when(F.size("tags") > 0, "Area")
        .otherwise(F.lit(None).cast("string"))
    )


def way_zoom_min() -> Column:
    """osmc/mapper.c:315-372 — highway table, then admin_level switch."""
    admin = _t("admin_level").cast("int")
    return (
        F.when(_t("highway") == "trunk", 4)
        .when(_t("highway").isin("motorway", "trunk_link"), 5)
        .when(_t("highway").isin("primary", "motorway_link"), 7)
        .when(_t("highway").isin("secondary", "primary_link"), 9)
        .when(_t("highway") == "service", 12)
        .when(_t("highway").isNotNull(), 10)
        .when(
            (_t("boundary") == "administrative") & admin.between(1, 4), 0
        )
        .when(
            (_t("boundary") == "administrative") & admin.between(5, 6), 4
        )
        .when(
            (_t("boundary") == "administrative") & admin.between(7, 8), 6
        )
        .when(
            (_t("boundary") == "administrative") & admin.between(9, 10), 8
        )
        .when((_t("boundary") == "administrative") & (admin > 10), 9)
        .otherwise(11)
    )


def area_zoom_min() -> Column:
    """osmc/mapper.c:397-418."""
    return (
        F.when(_t("building").isNotNull(), 12)
        .when(_t("sport").isNotNull(), 14)
        .when(_t("water").isNotNull(), 4)
        .when(_t("landuse").isNotNull(), 4)
        .when(_t("natural").isNotNull(), 4)
        .otherwise(10)
    )


def is_cycled(nodes: Column) -> Column:
    """Ring closure: >=3 refs and first == last (osmc/mapper.c:642)."""
    return (F.size(nodes) >= 3) & (
        F.element_at(nodes, 1) == F.element_at(nodes, -1)
    )


def route_ways(ways: DataFrame) -> DataFrame:
    """Way/area routing (osmc/mapper.c:640-659).

    Adds: kind ('way' | 'area' | 'drop'), class, minz, maxz.
    Rules: tagged & non-empty nodes required; ``area=yes`` only
    *suppresses* the way classifier — the area path still requires ring
    closure (``if(!saved && cycled)``, mapper.c:659).
    """
    cycled = is_cycled(F.col("nodes"))
    forced_area = _t("area") == "yes"
    wc, ac = way_class(), area_class()

    eligible = (F.size("tags") > 0) & (F.size("nodes") > 0)
    is_way = eligible & ~F.coalesce(forced_area, F.lit(False)) & wc.isNotNull()
    is_area = eligible & ~is_way & cycled & ac.isNotNull()
    kind = (
        F.when(is_way, "way").when(is_area, "area").otherwise("drop")
    )
    klass = F.when(is_way, wc).when(is_area, ac)
    minz = F.when(is_way, way_zoom_min()).when(is_area, area_zoom_min())
    maxz = F.when(is_way | is_area, F.lit(MAX_ZOOM))
    return ways.withColumns(
        {"kind": kind, "class": klass, "minz": minz, "maxz": maxz}
    )


def classify_points(nodes: DataFrame) -> DataFrame:
    """Tagged nodes with a class, plus zoom range (mapper.c:569-589)."""
    return (
        nodes.filter(F.size("tags") > 0)
        .withColumn("class", point_class())
        .filter(F.col("class").isNotNull())
        .withColumn("minz", point_zoom_min())
        .withColumn("maxz", point_zoom_max())
    )


def explode_pyramid(features: DataFrame) -> DataFrame:
    """One row per (feature, z) for z in [minz, maxz] with tile coords —
    the tile-assignment stage (zoom-ranged kd-tree analog, 2DTree.h:17-22).
    """
    # mercator y once per feature, before the explode; the per-z tile
    # coordinates are exact integer gridding of (lon, y)
    out = features.withColumn("_merc_y", cells.mercator_y_col(F.col("lat_e7")))
    out = out.withColumn("z", F.explode(F.sequence("minz", "maxz")))
    z = F.col("z")
    return out.withColumns({
        "tile_x": cells.axis_tile_col(F.col("lon_e7"), z),
        "tile_y": cells.axis_tile_col(F.col("_merc_y"), z),
    }).drop("_merc_y")


def zoom_histogram(features: DataFrame) -> DataFrame:
    """Per-zoom feature counts — the reference's printed sanity metric
    (osmc/mapper.c:759-767).

    Aggregates by the (minz, maxz) range FIRST (<= levels^2 groups,
    map-side partial agg over narrow ints), then explodes only the tiny
    grouped table and re-sums (r6, guide §2.3: don't multiply the full
    scan ~19x per row when the explode distributes over COUNT).  Pure
    integer reassociation — identical counts, incl. NULL/inverted
    ranges (sequence semantics unchanged, applied per distinct range)."""
    g = features.groupBy("minz", "maxz").agg(F.count("*").alias("_n"))
    return (
        g.withColumn("z", F.explode(F.sequence("minz", "maxz")))
        .groupBy("z")
        .agg(F.sum("_n").alias("n_features"))
    )


def zoom_histogram_by_kind(
    points: DataFrame, routed_ways: DataFrame
) -> DataFrame:
    """The reference's zoom statistics table pivoted by feature kind —
    | Level | Points | Ways | Areas || Total | (osmc/mapper.c:759-767).

    ``points``: classified point features (minz, maxz);
    ``routed_ways``: route_ways output (kind in way/area/drop) — drops
    are excluded, matching the reference counting only converted
    features."""
    p = points.select(
        "minz", "maxz", F.lit("point").alias("kind")
    )
    w = routed_ways.filter(F.col("kind") != "drop").select(
        "minz", "maxz", "kind"
    )
    # aggregate by the zoom RANGE first (<= levels^2 x 3 groups after
    # map-side partial agg), explode only the grouped table, re-sum —
    # the per-row ~19x explode over the full corpus is pure overhead
    # when the explode distributes over COUNT (r6, guide §2.3)
    g = (
        p.unionByName(w)
        .groupBy("minz", "maxz", "kind")
        .agg(F.count("*").alias("_n"))
        .withColumn("z", F.explode(F.sequence("minz", "maxz")))
    )
    cnt = lambda k: F.sum(  # noqa: E731
        F.when(F.col("kind") == k, F.col("_n")).otherwise(F.lit(0).cast("long"))
    )
    return g.groupBy(F.col("z").cast("int").alias("z")).agg(
        cnt("point").alias("n_points"),
        cnt("way").alias("n_ways"),
        cnt("area").alias("n_areas"),
        F.sum("_n").alias("n_total"),
    )


def rollup_tiles(tiles: DataFrame, from_z: int, to_z: int) -> DataFrame:
    """Raster-style parent rollup: aggregate per-tile feature counts from
    ``from_z`` up to every level down to ``to_z`` (A7).
    Input: rows with (z, tile_x, tile_y) at z == from_z.
    Output: (z, tile_x, tile_y, n) for every z in [to_z, from_z].

    Two shuffles total, independent of level span: (1) aggregate
    feature rows to base-zoom tile counts — the only shuffle sized by
    the *feature* count; (2) explode each (already tile-sized) count
    row into its ancestor chain (parent at z = tile >> (from_z - z))
    and one groupBy.  The per-level chained form shuffled once per zoom
    step (7-11 s of pure stage overhead at sf0.1; at 100 TB, span
    sequential barriers); the ancestor-explode form costs span x
    |base tiles| shuffle rows, bounded by the tile grid, not the data.
    """
    base = (
        tiles.filter(F.col("z") == from_z)
        .groupBy("tile_x", "tile_y")
        .agg(F.count("*").alias("n"))
    )
    return _ancestor_sum(base, "tile_x", "tile_y", "n", from_z, to_z, "long")


def _ancestor_sum(
    base: DataFrame, x: str, y: str, n: str, from_z: int, to_z: int, z_type: str
) -> DataFrame:
    """(x, y, n) rows at ``from_z`` -> (z, x, y, n) for every z in
    [to_z, from_z]: each row is exploded into its ancestor chain (the
    ancestor at z is (x, y) shifted right by from_z - z) and the counts
    are summed per ancestor in one groupBy.  ``z`` is cast to
    ``z_type``."""
    anc = base.select(
        F.explode(F.sequence(F.lit(to_z), F.lit(from_z))).alias("z"), x, y, n
    )
    return (
        anc.select(
            F.col("z").cast(z_type).alias("z"),
            # column-valued shift count needs the SQL form
            F.expr(f"shiftright({x}, {from_z} - CAST(z AS INT))").alias(x),
            F.expr(f"shiftright({y}, {from_z} - CAST(z AS INT))").alias(y),
            n,
        )
        .groupBy("z", x, y)
        .agg(F.sum(n).alias(n))
    )


def rasterize_points(points: DataFrame, z: int) -> DataFrame:
    """Vector -> raster (the north_rule's raster<->vector, forward
    direction): bin point features into a ``2^RASTER_BITS`` x
    ``2^RASTER_BITS`` pixel grid per z-tile (mercator y, the reference's
    tile addressing) and count per pixel.

    Output is the SPARSE raster encoding — one row per non-empty pixel
    (z, tile_x, tile_y, px, py, n_points) — produced by a single
    partial-agg groupBy keyed on the pixel: the 100 TB shape (empty
    ocean pixels cost nothing, hot urban pixels are just rows).  A
    dense res x res array per tile is a presentation-layer reshape
    (groupBy tile + collect into an array), deliberately not the
    storage form.
    """
    level = z + RASTER_BITS
    mask = (1 << RASTER_BITS) - 1
    gx = cells.axis_tile_col(F.col("lon_e7"), level)
    gy = cells.axis_tile_col(cells.mercator_y_col(F.col("lat_e7")), level)
    return (
        points.select(gx.alias("gx"), gy.alias("gy"))
        .select(
            F.lit(z).cast("int").alias("z"),
            F.shiftright("gx", RASTER_BITS).alias("tile_x"),
            F.shiftright("gy", RASTER_BITS).alias("tile_y"),
            F.col("gx").bitwiseAND(F.lit(mask)).cast("int").alias("px"),
            F.col("gy").bitwiseAND(F.lit(mask)).cast("int").alias("py"),
        )
        .groupBy("z", "tile_x", "tile_y", "px", "py")
        .agg(F.count("*").alias("n_points"))
    )


def vectorize_raster(raster: DataFrame, z: int, threshold: int = 1) -> DataFrame:
    """Raster -> vector (the reverse direction): pixels with
    ``n_points >= threshold`` become point features at the pixel
    center, inverse-projected with EXACT integer arithmetic in
    projected e7 space — lon is linear in the grid, and the y axis
    stays mercator-projected e7 (``my_e7``), the working coordinate of
    the tile pipeline, so the whole round trip is engine-portable
    integer math.  (The float Gudermannian latitude inverse is a
    presentation-layer concern on top of ``my_e7``.)

    Pure projection — no shuffle beyond the threshold filter's scan.
    """
    level = z + RASTER_BITS
    n = 1 << level
    out = raster.filter(F.col("n_points") >= threshold).select(
        "z", "tile_x", "tile_y", "px", "py", "n_points",
        F.expr(
            f"((2 * (shiftleft(tile_x, {RASTER_BITS}) + px) + 1) * "
            f"{cells.WORLD}L) div {2 * n}L - {cells.HALF_WORLD}L"
        ).alias("lon_e7"),
        F.expr(
            f"((2 * (shiftleft(tile_y, {RASTER_BITS}) + py) + 1) * "
            f"{cells.WORLD}L) div {2 * n}L - {cells.HALF_WORLD}L"
        ).alias("my_e7"),
    )
    return out


def rollup_raster(raster: DataFrame, from_z: int, to_z: int) -> DataFrame:
    """Raster pyramid (the north_rule's "between zoom-level tile
    pyramids", raster form): aggregate the sparse pixel raster from
    ``from_z`` up to every level down to ``to_z`` — the parent pixel is
    the child's global pixel index shifted right once per zoom step,
    i.e. a 2x2 box-sum downsample at each level.

    The same ancestor explode as :func:`rollup_tiles`
    (:func:`_ancestor_sum`, over global pixel indices): shuffle rows =
    zoom span x non-empty pixels — bounded by the pixel grid, never by
    the feature count.
    Input/output rows: (z, tile_x, tile_y, px, py, n_points).
    """
    mask = (1 << RASTER_BITS) - 1
    base = raster.filter(F.col("z") == from_z).select(
        (F.shiftleft("tile_x", RASTER_BITS) + F.col("px")).alias("gx"),
        (F.shiftleft("tile_y", RASTER_BITS) + F.col("py")).alias("gy"),
        "n_points",
    )
    rolled = _ancestor_sum(base, "gx", "gy", "n_points", from_z, to_z, "int")
    return rolled.select(
        "z",
        F.shiftright("gx", RASTER_BITS).alias("tile_x"),
        F.shiftright("gy", RASTER_BITS).alias("tile_y"),
        F.col("gx").bitwiseAND(F.lit(mask)).cast("int").alias("px"),
        F.col("gy").bitwiseAND(F.lit(mask)).cast("int").alias("py"),
        "n_points",
    )


def dense_tile_raster(raster: DataFrame) -> DataFrame:
    """Presentation-layer reshape: sparse pixel rows -> one dense
    row-major ``res*res`` count array per tile (the shape a renderer
    uploads).  Kept OUT of the storage path by design — at planet
    scale dense empty tiles are wasted bytes; this is a per-tile
    groupBy over already-aggregated pixels.

    Input MUST be pre-aggregated per (z, tile_x, tile_y, px, py); a
    duplicate pixel row surfaces at runtime as Spark's
    ``DUPLICATED_MAP_KEY`` exception from ``map_from_entries`` (loud by
    design — the previous fold silently last-write-wins'd).  If you see
    that exception here, aggregate the pixel counts first."""
    res = 1 << RASTER_BITS
    idx = (F.col("py") * res + F.col("px")).cast("int")
    # px-index -> count map per tile, then one O(res^2) lookup pass —
    # NOT a fold that rewrites the whole array per pixel (that was
    # O(res^2) work per non-empty pixel; r3 verdict item 6).  Input
    # rows are already aggregated per (z, tile, px, py), so map keys
    # are unique by construction (map_from_entries throws otherwise).
    m = F.map_from_entries(
        F.collect_list(F.struct(idx.alias("i"), F.col("n_points").alias("n")))
    )
    return (
        raster.groupBy("z", "tile_x", "tile_y")
        .agg(m.alias("m"))
        .select(
            "z",
            "tile_x",
            "tile_y",
            F.transform(
                F.sequence(F.lit(0), F.lit(res * res - 1)),
                lambda j: F.coalesce(
                    F.element_at(F.col("m"), j), F.lit(0).cast("long")
                ),
            ).alias("pixels"),
        )
    )
