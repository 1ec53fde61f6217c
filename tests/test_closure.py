"""Relation closure: the driver worklist equals the recursive-CTE oracle
run in DuckDB on the same rows, and an input or accepted set above the
driver bound is a named error."""

import duckdb
import pyarrow as pa
import pytest

from osmgraft import closure
from osmgraft.closure import ClosureSizeError, relation_closure

pytestmark = pytest.mark.spark

_MEMBERS = pa.list_(pa.struct(
    [("ref", pa.int64()), ("type", pa.string()), ("role", pa.string())]
))

# the J4 part of the relation_closure oracle (queries._CLOSURE_SQL)
_ORACLE = """
    WITH RECURSIVE accepted(relation_id, boundary_id) AS (
      SELECT e.relation_id, nr.boundary_id FROM e
        JOIN nr ON e.mtype = 'node' AND nr.node_id = e.ref
      UNION
      SELECT e.relation_id, wr.boundary_id FROM e
        JOIN wr ON e.mtype = 'way' AND wr.way_id = e.ref
      UNION
      SELECT e.relation_id, a.boundary_id FROM e
        JOIN accepted a ON e.mtype = 'relation' AND a.relation_id = e.ref)
    SELECT DISTINCT relation_id, boundary_id FROM accepted
"""


def _rel(*refs):
    return [(ref, mtype, "") for ref, mtype in refs]


# the region tables of every case: node 10 and way 20 lie in boundary
# 7, node 11 in 8, way 21 in 8 and 9
_NODES = [(10, 7), (11, 8)]
_WAYS = [(20, 7), (21, 8), (21, 9)]
# case -> relations [(relation_id, [(ref, type)...])]
_CASES = {
    # 1 -> 2 -> 3 -> 4 -> 5 -> node 10: five levels, one relation each
    "chain": [(i, _rel((i + 1, "relation"))) for i in range(1, 5)]
    + [(5, _rel((10, "node")))],
    # 1 <-> 2 reaches way 21; 3 <-> 4 reaches nothing; 5 holds itself
    # and node 11; 6 holds only itself
    "cycles": [
        (1, _rel((2, "relation"))),
        (2, _rel((1, "relation"), (21, "way"))),
        (3, _rel((4, "relation"))),
        (4, _rel((3, "relation"))),
        (5, _rel((5, "relation"), (11, "node"))),
        (6, _rel((6, "relation"))),
    ],
    # 1 -> {2, 3} -> 4 -> way 21; 1 also holds node 10 directly and 3
    # reaches boundary 8 both through 4 and through node 11; members
    # repeat
    "diamond": [
        (1, _rel((2, "relation"), (3, "relation"), (10, "node"), (10, "node"))),
        (2, _rel((4, "relation"), (4, "relation"))),
        (3, _rel((4, "relation"), (11, "node"))),
        (4, _rel((21, "way"), (21, "way"))),
    ],
    # a NULL-id relation in boundary 7 is kept as (NULL, 7); a NULL ref
    # joins nothing, so relation 2 gets nothing from it; 3 holds a
    # member that is no relation, node or way region
    "nulls": [
        (None, _rel((10, "node"))),
        (1, _rel((None, "relation"), (None, "node"), (11, "node"))),
        (2, _rel((None, "relation"))),
        (3, _rel((1, "relation"), (99, "way"))),
        (None, _rel((1, "relation"))),
    ],
    "empty_members": [(1, []), (2, []), (3, _rel((2, "relation")))],
    "no_relations": [],
}


def _table(rows, names, types):
    return pa.table({
        n: pa.array([r[i] for r in rows], t)
        for i, (n, t) in enumerate(zip(names, types))
    })


def _region_tables():
    i64 = (pa.int64(), pa.int64())
    return (_table(_NODES, ("node_id", "boundary_id"), i64),
            _table(_WAYS, ("way_id", "boundary_id"), i64))


def _frames(spark, rels):
    """Arrow-built frames: local relations, no Python worker."""
    rels = [(rid, [dict(zip(("ref", "type", "role"), m)) for m in ms])
            for rid, ms in rels]
    return tuple(map(spark.createDataFrame, (
        _table(rels, ("relation_id", "members"), (pa.int64(), _MEMBERS)),
        *_region_tables(),
    )))


def _oracle(rels):
    edges = [(rid, ref, mtype) for rid, members in rels for ref, mtype, _ in members]
    con = duckdb.connect()
    con.register("e", _table(edges, ("relation_id", "ref", "mtype"),
                             (pa.int64(), pa.int64(), pa.string())))
    nr, wr = _region_tables()
    con.register("nr", nr)
    con.register("wr", wr)
    try:
        return con.execute(_ORACLE).fetchall()
    finally:
        con.close()


def _sorted(rows):
    """Rows as sorted tuples, NULLs first; a NaN would not compare equal
    to the oracle's None."""
    return sorted(
        map(tuple, rows),
        key=lambda r: tuple((v is not None, v or 0) for v in r),
    )


@pytest.mark.parametrize("case", sorted(_CASES))
def test_relation_closure_equals_recursive_cte(spark, case):
    rels = _CASES[case]
    got = relation_closure(*_frames(spark, rels))
    assert got.dtypes == [("relation_id", "bigint"), ("boundary_id", "bigint")]
    rows = _sorted(got.collect())
    assert rows == _sorted(_oracle(rels))
    if case == "chain":
        assert rows == [(i, 7) for i in range(1, 6)]


@pytest.mark.parametrize("bound", [3, 6])
def test_relation_closure_above_driver_bound_raises(spark, monkeypatch, bound):
    """Way 21 lies in 2 boundaries and three relations climb from it: 6
    rows read (2 base pairs, 4 edges) and 8 accepted.  A bound of 3
    stops the read, a bound of 6 the accepted set."""
    rels = [(1, _rel((2, "relation"), (2, "relation"))),
            (2, _rel((3, "relation"))), (3, _rel((4, "relation"))),
            (4, _rel((21, "way")))]
    frames = _frames(spark, rels)
    assert len(_oracle(rels)) == 8
    monkeypatch.setattr(closure, "_DRIVER_MAX_ROWS", bound)
    with pytest.raises(ClosureSizeError, match="more than"):
        relation_closure(*frames)
    monkeypatch.setattr(closure, "_DRIVER_MAX_ROWS", 8)
    assert len(relation_closure(*frames).collect()) == 8
