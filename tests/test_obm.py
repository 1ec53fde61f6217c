"""K3 fixed-record binary OBM sink + scan (osmgraft/obm.py)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from osmgraft import obm

pytestmark = pytest.mark.spark


def test_reference_record_layout_pins():
    # the x86-64 ABI sizes of the reference structs (obm.h:43-68):
    # a drift here silently corrupts every record boundary
    assert obm._NODE_DT.itemsize == 96  # BNode
    assert obm._WAY_DT.itemsize == 176  # BWay
    assert obm._REL_DT.itemsize == 120  # BRelation
    assert len(obm.EMPTY_TAG) == 36
    # the reference's literal empty-tag sentinel (obm.c:186)
    assert obm.EMPTY_TAG[4:] == b"\0EMPTY\0EMPTY\0EMPTY\0EMPTY\0EMPTY!!"
    assert obm.ATTRIBUTE_CONTINUATION == 1
    assert (obm.NODE_ATTRIBUTES_COUNT, obm.WAY_ATTRIBUTES_COUNT,
            obm.RELATION_ATTRIBUTES_COUNT) == (2, 2, 2)
    assert obm.WAY_NODES_COUNT == 11 and obm.RELATION_MEMBERS_COUNT == 2


def test_tag_slot_chunking():
    # 30-byte chunks, continuation key 1 on every chunk after the first
    slots = obm.tag_slots([(7, b"x" * 61)])
    assert len(slots) == 3
    assert slots[0][:4] == (7).to_bytes(4, "little")
    assert slots[1][:4] == (1).to_bytes(4, "little")
    assert slots[0][4:34] == b"x" * 30 and slots[0][34:36] == b"\0\0"
    assert slots[2][4:5] == b"x" and slots[2][5:6] == b"\0"
    # exact-boundary value: 30 bytes -> ONE slot (ceil(30/30) == 1)
    assert len(obm.tag_slots([(7, b"y" * 30)])) == 1
    assert len(obm.tag_slots([(7, b"y" * 31)])) == 2


def test_continuation_record_counts():
    # node with 3 tag slots -> 2 records; way where refs (not tags)
    # drive the continuation; entity with nothing -> exactly 1 record
    b = obm.encode_nodes(iter([(1, 0, 0, 0, [(3, b"a"), (4, b"b"), (5, b"c")])]))
    assert len(b) == 2 * 96
    b = obm.encode_ways(iter([(1, 0, [], list(range(1, 24)))]))  # 23 refs
    assert len(b) == 3 * 176
    b = obm.encode_relations(iter([(1, 0, [], [])]))
    assert len(b) == 1 * 120


def _dict_tags(pairs):
    return [{"key": k, "value": v} for k, v in pairs]


def test_way_store_roundtrip_spark(spark, arrow_frame, tmp_path):
    rows = [
        (10, 20, _dict_tags([(3, "highway"), (4, "x" * 45)]),
         list(range(100, 114))),  # 14 refs -> ref-driven continuation
        (11, 21, _dict_tags([(3, "a"), (5, "b"), (6, "c")]), [7, 8, 9]),
        (12, 22, [], []),
    ]
    df = arrow_frame(rows, obm.WAY_SCHEMA)
    stats = obm.write_obm(df, str(tmp_path / "ways"), "way")
    assert stats["n_entities"] == 3
    back = {
        r["id"]: r
        for r in obm.read_obm(spark, str(tmp_path / "ways"), "way").collect()
    }
    for wid, ts, tags, refs in rows:
        got = back[wid]
        assert got["ts"] == ts
        assert [(t["key"], t["value"]) for t in got["tags"]] == [
            (t["key"], t["value"]) for t in tags
        ]
        assert got["refs"] == refs


def test_relation_store_roundtrip_spark(spark, arrow_frame, tmp_path):
    rows = [
        (30, 40, _dict_tags([(3, "multipolygon")]),
         [{"ref": 1, "type": 4, "role": 3}, {"ref": 2, "type": 4, "role": 4},
          {"ref": 3, "type": 3, "role": 5}]),  # 3 members -> continuation
        (31, 41, [], [{"ref": 9, "type": 5, "role": 3}]),
    ]
    df = arrow_frame(rows, obm.REL_SCHEMA)
    obm.write_obm(df, str(tmp_path / "rels"), "relation")
    back = {
        r["id"]: r
        for r in obm.read_obm(
            spark, str(tmp_path / "rels"), "relation").collect()
    }
    for rid, ts, tags, members in rows:
        got = back[rid]
        assert got["ts"] == ts
        assert [dict(m.asDict()) for m in got["members"]] == members


def test_overwrite_removes_stale_partitions(spark, arrow_frame, tmp_path):
    # first write with 4 partitions, rewrite with 1: the stale 3 files
    # must not survive to duplicate records in the scan
    path = str(tmp_path / "nodes")
    mk = lambda n, parts: arrow_frame(
        [(i, i, i, 0, _dict_tags([(3, "v")])) for i in range(n)],
        obm.NODE_SCHEMA,
    ).repartition(parts)
    obm.write_obm(mk(40, 4), path, "node")
    assert len(obm.write_obm(mk(5, 1), path, "node")["files"]) == 1
    got = obm.read_obm(spark, path, "node")
    assert got.count() == 5


def test_scan_is_parallel_per_file(spark, arrow_frame, tmp_path):
    path = str(tmp_path / "nodes")
    df = arrow_frame(
        [(i, i, -i, i * 7, _dict_tags([(3, f"n{i}"), (4, "z" * 35)]))
         for i in range(200)],
        obm.NODE_SCHEMA,
    ).repartition(8)
    stats = obm.write_obm(df, path, "node")
    assert len(stats["files"]) == 8
    back = obm.read_obm(spark, path, "node")
    assert back.rdd.getNumPartitions() >= 2  # one task per file group
    rows = {r["id"]: r for r in back.collect()}
    assert len(rows) == 200
    assert rows[7]["lat_e7"] == 7 and rows[7]["lon_e7"] == -7
    assert [t["value"] for t in rows[7]["tags"]] == ["n7", "z" * 35]
