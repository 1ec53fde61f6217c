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
    iterations").  Driver loop of semi-joins; each iteration joins only
    the not-yet-accepted relations (monotone frontier), so the loop
    converges in <= nesting-depth rounds and unreachable cycles
    terminate naturally.
  * J7 — multipolygon assembly: ``type=multipolygon`` relations grouped
    over their outer/inner way members, '' role counts as outer
    (``osmc/mapper.c:522``), invalid roles / non-way members skipped
    with a warning (``mapper.c:529-532``), each relation converted once
    (``mapper.c:681-683``).
"""

from __future__ import annotations

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


def relation_closure(
    relations: DataFrame,
    node_regions: DataFrame,
    way_regions: DataFrame,
    max_iterations: int = 50,
) -> DataFrame:
    """J4: fixpoint of (relation_id, boundary_id) membership.

    relations(relation_id, members ARRAY<STRUCT<ref, type, role>>).
    Base: relations whose node/way members hit a region directly.
    Step: relations whose relation-type members are already accepted.
    Converged when a round accepts nothing new; a ``RuntimeError``
    rather than a partial closure when ``max_iterations`` rounds all
    found more (nesting deeper than the cap).
    """
    edges = relations.select(
        "relation_id", F.explode("members").alias("m")
    ).select(
        "relation_id",
        F.col("m.ref").alias("ref"),
        F.col("m.type").alias("mtype"),
    )
    node_hits = (
        edges.filter(F.col("mtype") == "node")
        .join(node_regions, edges.ref == node_regions.node_id)
        .select("relation_id", "boundary_id")
    )
    way_hits = (
        edges.filter(F.col("mtype") == "way")
        .join(way_regions, edges.ref == way_regions.way_id)
        .select("relation_id", "boundary_id")
    )
    # materialize the base once and truncate lineage each round —
    # otherwise every fixpoint iteration lazily recomputes the upstream
    # spatial joins that produced node_regions / way_regions
    accepted = (
        node_hits.unionByName(way_hits).distinct().localCheckpoint(eager=True)
    )
    rel_edges = edges.filter(F.col("mtype") == "relation").localCheckpoint(
        eager=True
    )

    for _ in range(max_iterations):
        new = (
            rel_edges.join(
                F.broadcast(accepted.withColumnRenamed("relation_id", "child_id")),
                rel_edges.ref == F.col("child_id"),
            )
            .select("relation_id", "boundary_id")
            .distinct()
            .join(accepted, ["relation_id", "boundary_id"], "left_anti")
            .localCheckpoint(eager=True)
        )
        if new.isEmpty():
            break
        accepted = accepted.unionByName(new).localCheckpoint(eager=True)
    else:
        raise RuntimeError(
            f"relation_closure not converged after {max_iterations} rounds"
        )
    return accepted


def relation_member_filter(
    relations: DataFrame,
    accepted: DataFrame,
    node_regions: DataFrame,
    way_regions: DataFrame,
) -> DataFrame:
    """J5: for accepted (relation, region) pairs, keep only members that
    belong to that region (node/way by region table, relation by
    acceptance), densely re-sequenced (olm.c:312-341)."""
    mem = relations.select(
        "relation_id", F.posexplode("members").alias("seq", "m")
    ).select(
        "relation_id", "seq",
        F.col("m.ref").alias("ref"), F.col("m.type").alias("mtype"),
        F.col("m.role").alias("role"),
    )
    pairs = mem.join(accepted, "relation_id")
    node_keep = pairs.filter(F.col("mtype") == "node").join(
        node_regions.withColumnRenamed("node_id", "ref"), ["ref", "boundary_id"],
        "left_semi",
    )
    way_keep = pairs.filter(F.col("mtype") == "way").join(
        way_regions.withColumnRenamed("way_id", "ref"), ["ref", "boundary_id"],
        "left_semi",
    )
    rel_keep = pairs.filter(F.col("mtype") == "relation").join(
        accepted.withColumnRenamed("relation_id", "ref"), ["ref", "boundary_id"],
        "left_semi",
    )
    kept = node_keep.unionByName(way_keep).unionByName(rel_keep)
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
    mp = relations.filter(
        F.col("tags").getItem("type") == "multipolygon"
    )
    mem = mp.select("relation_id", F.explode("members").alias("m")).select(
        "relation_id",
        F.col("m.ref").alias("way_id"),
        F.col("m.type").alias("mtype"),
        F.col("m.role").alias("role"),
    )
    valid = mem.filter(
        (F.col("mtype") == "way") & F.col("role").isin("outer", "inner", "")
    ).withColumn(
        "ring_role", F.when(F.col("role") == "inner", "inner").otherwise("outer")
    )
    ring_nodes = (
        valid.join(ways.select("way_id", "nodes"), "way_id")
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
    mp = relations.filter(F.col("tags").getItem("type") == "multipolygon")
    mem = mp.select(
        "relation_id", F.posexplode("members").alias("mpos", "m")
    ).select(
        "relation_id",
        "mpos",
        F.col("m.ref").alias("ring_way_id"),
        F.col("m.type").alias("mtype"),
        F.col("m.role").alias("mrole"),
    )
    valid = mem.filter(
        (F.col("mtype") == "way") & F.col("mrole").isin("outer", "inner", "")
    ).select(
        "relation_id", "mpos", "ring_way_id",
        F.when(F.col("mrole") == "inner", "inner").otherwise("outer")
        .alias("role"),
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
