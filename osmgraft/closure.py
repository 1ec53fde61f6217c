"""Membership joins and the relation transitive-closure fixpoint.

Reference semantics:
  * J2 — a way belongs to a region iff ANY of its node refs does
    (``osmc/obm.c:32-39``, ``osmc/olm.c:37-44``) -> exploded left-semi
    equi-join.
  * J3 — within a matched region a way keeps ONLY that region's nodes,
    re-sequenced densely from 0 (``osmc/obm.c:239-250``,
    ``osmc/olm.c:198-210``) -> inner join + row_number window.
  * J4 — a relation belongs iff any member belongs; relation-type
    members consult the already-accepted set -> iterate to fixpoint
    (``osmc/obm.c:333-375``; the reference logs "found in %i
    iterations").  As there, the accepted set grows in one process: a
    worklist on the driver, over one bounded read of the direct hits
    and relation edges, monotone and so cycle-safe.
  * J7 — multipolygon assembly: ``type=multipolygon`` relations grouped
    over their outer/inner way members, '' role counts as outer
    (``osmc/mapper.c:522``), invalid roles / non-way members skipped
    with a warning (``mapper.c:529-532``), each relation converted once
    (``mapper.c:681-683``).
"""

from __future__ import annotations

from functools import reduce

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def way_region_semijoin(
    way_nodes: DataFrame, node_regions: DataFrame
) -> DataFrame:
    """J2: distinct (way_id, boundary_id) where any way-node is in the
    region.  way_nodes(way_id, seq, node_id); node_regions(node_id,
    boundary_id)."""
    return (
        way_nodes.join(node_regions, "node_id")
        .select("way_id", "boundary_id")
        .distinct()
    )


def way_clip_resequence(
    way_nodes: DataFrame,
    node_regions: DataFrame,
    order_cols: tuple = ("seq",),
) -> DataFrame:
    """J3: per (way, region), member nodes inside the region re-numbered
    densely 0..n-1 in original order.

    ``order_cols`` names the columns that define the within-way order.
    When the caller's ``seq`` is itself a rank over some raw key pair,
    passing that pair instead skips materializing the rank (one full
    exchange+sort less upstream): ranking by a rank over K orders
    identically to ordering by K on any row subset (r6, guide §2.4)."""
    w = Window.partitionBy("way_id", "boundary_id").orderBy(*order_cols)
    return (
        way_nodes.join(node_regions, "node_id")
        .withColumn("new_seq", F.row_number().over(w) - 1)
        .select("way_id", "boundary_id", "new_seq", "node_id")
    )


def _members(relations: DataFrame) -> DataFrame:
    """(relation_id, seq, ref, mtype, role): one row per member, ``seq``
    its 0-based position."""
    return relations.select(
        "relation_id", F.posexplode("members").alias("seq", "m")
    ).select(
        "relation_id", "seq", F.col("m.ref").alias("ref"),
        F.col("m.type").alias("mtype"), F.col("m.role").alias("role"),
    )


def _ring_members(relations: DataFrame) -> DataFrame:
    """(relation_id, seq, way_id, ring_role) of the ``type=multipolygon``
    relations' way members with role outer, inner or '' ('' counts as
    outer, mapper.c:522); other members are skipped (mapper.c:529-532)."""
    mem = _members(relations.filter(F.col("tags").getItem("type") == "multipolygon"))
    return mem.filter(
        (F.col("mtype") == "way") & F.col("role").isin("outer", "inner", "")
    ).select(
        "relation_id", "seq", F.col("ref").alias("way_id"),
        F.when(F.col("role") == "inner", "inner").otherwise("outer").alias("ring_role"),
    )


def _member_regions(node_regions, way_regions, accepted=None) -> DataFrame:
    """(mtype, ref, boundary_id): the boundaries of each node, way and,
    given ``accepted``, relation, keyed as a member."""
    tables = [("node", node_regions, "node_id"), ("way", way_regions, "way_id")]
    if accepted is not None:
        tables.append(("relation", accepted, "relation_id"))
    return reduce(DataFrame.unionByName, (
        df.select(F.lit(t).alias("mtype"), F.col(c).alias("ref"), "boundary_id")
        for t, df, c in tables
    ))


class ClosureSizeError(ValueError):
    """More than ``_DRIVER_MAX_ROWS`` rows read or accepted by
    :func:`relation_closure`."""


# Largest closure input, and accepted set, on the driver (the bound of
# ``dedup._DRIVER_MAX_PAIRS``).
_DRIVER_MAX_ROWS = 1 << 20


def relation_closure(
    relations: DataFrame,
    node_regions: DataFrame,
    way_regions: DataFrame,
) -> DataFrame:
    """J4: fixpoint of (relation_id, boundary_id) membership.

    relations(relation_id, members ARRAY<STRUCT<ref, type, role>>).
    Base: relations whose node/way members hit a region directly.
    Step: a relation holds every boundary of its relation-type members.

    One ``limit().toArrow()`` reads the base pairs and the relation
    edges (parent ``relation_id``, child ``ref``); a driver worklist
    hands each accepted pair to the child's parents until nothing is
    added.  As in the recursive-CTE oracle, a NULL ``ref`` joins nothing
    and a NULL ``relation_id`` is kept.  Returns an Arrow-built frame
    typed as the base pairs; :class:`ClosureSizeError` above
    ``_DRIVER_MAX_ROWS`` rows read or accepted.
    """
    edges = _members(relations)
    hits = edges.join(_member_regions(node_regions, way_regions), ["mtype", "ref"])
    t = (
        hits.select("relation_id", "boundary_id", F.lit(0).alias("side"))
        .unionByName(
            edges.filter(F.col("mtype") == "relation")
            .select("relation_id", "ref", F.lit(1).alias("side")),
            allowMissingColumns=True,
        )
        .limit(_DRIVER_MAX_ROWS + 1)
        .toArrow()
    )
    is_edge = pc.equal(t["side"], 1)
    rel_edges, base = t.filter(is_edge), t.filter(pc.invert(is_edge))
    parents = {}
    for p, c in zip(*(rel_edges[k].to_pylist() for k in ("relation_id", "ref"))):
        parents.setdefault(c, []).append(p)
    parents.pop(None, None)  # a NULL ref joins nothing
    accepted = set(zip(*(base[k].to_pylist() for k in ("relation_id", "boundary_id"))))
    work = list(accepted)
    while work and len(accepted) <= _DRIVER_MAX_ROWS:
        child, boundary = work.pop()
        for p in parents.get(child, ()):
            if (p, boundary) not in accepted:
                accepted.add((p, boundary))
                work.append((p, boundary))
    if max(t.num_rows, len(accepted)) > _DRIVER_MAX_ROWS:
        raise ClosureSizeError(
            f"relation_closure reads or accepts more than {_DRIVER_MAX_ROWS} rows"
        )
    pairs = list(accepted)
    return relations.sparkSession.createDataFrame(pa.table({
        "relation_id": pa.array([r for r, _ in pairs], t["relation_id"].type),
        "boundary_id": pa.array([b for _, b in pairs], t["boundary_id"].type),
    }))


def relation_member_filter(
    relations: DataFrame,
    accepted: DataFrame,
    node_regions: DataFrame,
    way_regions: DataFrame,
) -> DataFrame:
    """J5: for accepted (relation, region) pairs, keep only members that
    belong to that region (node/way by region table, relation by
    acceptance), densely re-sequenced (olm.c:312-341)."""
    kept = _members(relations).join(accepted, "relation_id").join(
        _member_regions(node_regions, way_regions, accepted),
        ["mtype", "ref", "boundary_id"], "left_semi",
    )
    w = Window.partitionBy("relation_id", "boundary_id").orderBy("seq")
    return kept.withColumn("new_seq", F.row_number().over(w) - 1).select(
        "relation_id", "boundary_id", "new_seq", "ref", "mtype", "role"
    )


def multipolygon_rings(
    relations: DataFrame, ways: DataFrame, part_points: DataFrame
) -> DataFrame:
    """J7: assemble ``type=multipolygon`` relations into ring sets.

    Output per relation: outer/inner ring counts, total ring nodes, and
    the rings' joint bbox in e7 ints (resolved through way->node->coord,
    the J6 resolution join).  Non-way members and invalid roles are
    skipped (mapper.c:529-532); '' role counts as outer (mapper.c:522).
    """
    ring_nodes = (
        _ring_members(relations).join(ways.select("way_id", "nodes"), "way_id")
        .select(
            "relation_id", "way_id", "ring_role",
            F.explode("nodes").alias("node_id"),
        )
        .join(part_points, "node_id")
    )
    return (
        ring_nodes.groupBy("relation_id")
        .agg(
            F.countDistinct(
                F.when(F.col("ring_role") == "outer", F.col("way_id"))
            ).alias("n_outer"),
            F.countDistinct(
                F.when(F.col("ring_role") == "inner", F.col("way_id"))
            ).alias("n_inner"),
            F.count("*").alias("n_ring_nodes"),
            F.min("lon_e7").alias("minx"),
            F.min("lat_e7").alias("miny"),
            F.max("lon_e7").alias("maxx"),
            F.max("lat_e7").alias("maxy"),
        )
    )


def multipolygon_geometry(
    relations: DataFrame, ways: DataFrame, part_points: DataFrame
) -> DataFrame:
    """J7 (full form): the ASSEMBLED multipolygon geometry — per relation
    the ordered ring node coordinates per role, the shape a downstream
    renderer/tiler actually consumes (reference writes MapperPolygons:
    outer parts first, then inner parts, each part an ordered node list
    — mapper.c:659-751, mapper.h:22-28).

    * member ways with role outer/''/inner only; '' counts as outer
      (mapper.c:522); non-way members and invalid roles are skipped
      (mapper.c:529-532);
    * members referencing a missing way are skipped with no part slot,
      matching the reference's invalid-reference path (mapper.c:712);
    * part_idx: dense 0-based order over found parts — outers in member
      order, then inners in member order;
    * seq: the way's own node order (ring closure duplicate kept).

    Output: (relation_id, part_idx, ring_way_id, role, seq,
    lon_e7, lat_e7).
    """
    valid = _ring_members(relations).select(
        "relation_id", F.col("seq").alias("mpos"),
        F.col("way_id").alias("ring_way_id"), F.col("ring_role").alias("role"),
    )
    found = valid.join(
        ways.select(F.col("way_id").alias("ring_way_id"), "nodes"),
        "ring_way_id",
    )
    w = Window.partitionBy("relation_id").orderBy(
        (F.col("role") == "inner").cast("int"), F.col("mpos")
    )
    parts = found.withColumn(
        "part_idx", (F.row_number().over(w) - 1).cast("int")
    )
    return (
        parts.select(
            "relation_id", "part_idx", "ring_way_id", "role",
            F.posexplode("nodes").alias("seq", "node_id"),
        )
        .withColumn("seq", F.col("seq").cast("int"))
        .join(part_points, "node_id")
        .select(
            "relation_id", "part_idx", "ring_way_id", "role", "seq",
            "lon_e7", "lat_e7",
        )
    )
