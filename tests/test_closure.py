"""Relation closure fixpoint: a capped loop must not return a partial
closure."""

import pytest

from osmgraft.closure import relation_closure

pytestmark = pytest.mark.spark

_MEMBERS = "array<struct<ref:bigint,type:string,role:string>>"


def _chain(spark):
    """Relation i has relation i+1 as its member (i = 1..3); relation 4
    has node 10, which lies in boundary 7.  Acceptance climbs the chain
    one relation per round: 3 rounds accept 3, 2, 1 and a 4th finds
    nothing new."""
    rels = spark.createDataFrame(
        [(i, [(i + 1, "relation", "")]) for i in (1, 2, 3)]
        + [(4, [(10, "node", "")])],
        f"relation_id bigint, members {_MEMBERS}",
    )
    nodes = spark.createDataFrame([(10, 7)], "node_id bigint, boundary_id bigint")
    ways = spark.createDataFrame([], "way_id bigint, boundary_id bigint")
    return rels, nodes, ways


def test_relation_closure_raises_when_round_capped(spark):
    rels, nodes, ways = _chain(spark)
    for cap in (1, 3):
        with pytest.raises(RuntimeError, match="not converged after"):
            relation_closure(rels, nodes, ways, max_iterations=cap)
    # a cap of depth + 1 rounds already converges, as does the default
    for kw in ({"max_iterations": 4}, {}):
        got = relation_closure(rels, nodes, ways, **kw).collect()
        assert sorted((r.relation_id, r.boundary_id) for r in got) == [
            (1, 7), (2, 7), (3, 7), (4, 7)
        ]
