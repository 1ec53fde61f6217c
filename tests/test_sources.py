"""Sources/sinks: OSM XML scan, OsmChange routing, .poly files, tile sink."""

import gzip
import os

import pytest
from pyspark.sql import functions as F

from osmgraft.geometry import INSIDE, pip_polygon
from osmgraft.sources import (
    read_osm_xml,
    read_poly_file,
    read_polygons,
    write_tile_store,
)

pytestmark = pytest.mark.spark

OSM_XML = """<?xml version="1.0" encoding="UTF-8"?>
<osm version="0.6">
  <node id="1" lat="52.5200066" lon="13.4049540" timestamp="2024-01-01T00:00:00Z">
    <tag k="place" v="city"/><tag k="name" v="Berlin"/>
  </node>
  <node id="2" lat="-0.00000005" lon="0.00000005"/>
  <way id="10" timestamp="2024-01-02T00:00:00Z">
    <nd ref="1"/><nd ref="2"/><nd ref="1"/>
    <tag k="highway" v="primary"/>
  </way>
  <relation id="20">
    <member type="way" ref="10" role="outer"/>
    <member type="node" ref="1" role=""/>
    <tag k="type" v="multipolygon"/>
  </relation>
</osm>
"""

OSC_XML = """<?xml version="1.0" encoding="UTF-8"?>
<osmChange version="0.6">
  <create><node id="3" lat="1.0" lon="2.0"/></create>
  <modify><node id="1" lat="52.52" lon="13.405"/></modify>
  <delete><node id="2" lat="0" lon="0"/></delete>
</osmChange>
"""


def test_osm_xml_scan_plain_and_gzip(spark, tmp_path):
    p1 = tmp_path / "a.osm"
    p1.write_text(OSM_XML)
    p2 = tmp_path / "b.osm.gz"
    with gzip.open(p2, "wt") as f:
        f.write(OSM_XML)

    df = read_osm_xml(spark, str(tmp_path / "*.osm*"))
    rows = {(r.entity, r.id): r for r in df.collect() if True}
    # both files parsed (same ids -> keyed dict; count proves both)
    assert df.count() == 8
    n1 = rows[("node", 1)]
    assert n1.lat_e7 == 525200066 and n1.lon_e7 == 134049540
    assert n1.tags["place"] == "city" and n1.tags["name"] == "Berlin"
    assert n1.ts == "2024-01-01T00:00:00Z"
    # round-half-away at the 8th decimal (MapperTypes.h:28)
    n2 = rows[("node", 2)]
    assert n2.lat_e7 == -1 and n2.lon_e7 == 1
    w = rows[("way", 10)]
    assert list(w.nodes) == [1, 2, 1] and w.tags["highway"] == "primary"
    r = rows[("relation", 20)]
    assert [(m.ref, m.type, m.role) for m in r.members] == [
        (10, "way", "outer"), (1, "node", ""),
    ]
    assert all(r.op is None for r in df.collect())


def test_osmchange_routing(spark, tmp_path):
    p = tmp_path / "diff.osc.gz"
    with gzip.open(p, "wt") as f:
        f.write(OSC_XML)
    df = read_osm_xml(spark, str(p))
    got = {r.id: r.op for r in df.collect()}
    assert got == {3: "create", 1: "modify", 2: "delete"}


def test_poly_reader_holes_and_full(tmp_path):
    (tmp_path / "donut.poly").write_text(
        "donutland\n"
        "outer\n"
        "   -1.0  -1.0\n"
        "    1.0  -1.0\n"
        "    1.0   1.0\n"
        "   -1.0   1.0\n"
        "   -1.0  -1.0\n"
        "END\n"
        "!hole\n"
        "   -0.5  -0.5\n"
        "    0.5  -0.5\n"
        "    0.5   0.5\n"
        "   -0.5   0.5\n"
        "END\n"
        "END\n"
    )
    polys = read_polygons(str(tmp_path))
    assert len(polys) == 1
    p = polys[0]
    assert p.name == "donutland"
    assert len(p.rings) == 2 and p.rings[1].hole
    # hole is outside, mid-ring inside (parity over the flat segment list)
    assert pip_polygon([0], [0], p)[0] != INSIDE
    assert pip_polygon([7_500_000], [0], p)[0] == INSIDE

    empty = read_polygons(str(tmp_path / "nonexistent_dir"))
    assert len(empty) == 1 and empty[0].n_segments == 0
    assert pip_polygon([123], [456], empty[0])[0] == INSIDE


def test_tile_store_partition_pruning(spark, tmp_path, sf_dir):
    from osmgraft import osm_fixtures, tiles

    nodes = osm_fixtures.nodes_df(spark, sf_dir)
    feats = tiles.classify_points(nodes)
    pyramid = tiles.explode_pyramid(feats).select("id", "z", "tile_x", "tile_y")
    out = str(tmp_path / "tilestore")
    write_tile_store(pyramid, out)

    back = spark.read.parquet(out)
    assert back.count() == pyramid.count()
    # partition pruning: a z filter must scan only that partition's files
    one_z = back.filter(F.col("z") == 14)
    files = one_z.select(F.input_file_name()).distinct().collect()
    assert all("z=14" in r[0] for r in files)
    assert os.path.isdir(os.path.join(out, "z=14"))


def test_viewport_query_prunes_and_matches(spark, tmp_path, sf_dir):
    from osmgraft import cells as C
    from osmgraft import osm_fixtures, tiles
    from osmgraft.sources import viewport_query

    nodes = osm_fixtures.nodes_df(spark, sf_dir)
    feats = tiles.classify_points(nodes)
    pyramid = tiles.explode_pyramid(feats).select("id", "z", "tile_x", "tile_y")
    out = str(tmp_path / "vstore")
    write_tile_store(pyramid, out)

    # viewport = 1-degree box around NYC at z=14
    got = viewport_query(
        spark, out, 14, -745_000_000, 402_000_000, -735_000_000, 412_000_000
    )
    rows = got.collect()
    assert rows, "NYC cluster should be visible at z14"
    # oracle: recompute by brute force over the pyramid
    import numpy as np

    want = []
    for r in pyramid.filter(F.col("z") == 14).collect():
        want.append((r.id, r.tile_x, r.tile_y))
    tx0 = int(C._axis_to_tile(np.int64(-745_000_000), 14))
    tx1 = int(C._axis_to_tile(np.int64(-735_000_000), 14))
    my0 = int(C.mercator_y_e7(np.int64(402_000_000)))
    my1 = int(C.mercator_y_e7(np.int64(412_000_000)))
    ty0 = int(C._axis_to_tile(np.int64(min(my0, my1)), 14))
    ty1 = int(C._axis_to_tile(np.int64(max(my0, my1)), 14))
    want = {
        (i, x, y) for i, x, y in want if tx0 <= x <= tx1 and ty0 <= y <= ty1
    }
    assert {(r.id, r.tile_x, r.tile_y) for r in rows} == want
    # pruning: only z=14 partition files are touched
    files = got.select(F.input_file_name()).distinct().collect()
    assert files and all("z=14" in f[0] for f in files)


def test_viewport_4d_intersects_and_prunes(spark, tmp_path, sf_dir):
    from osmgraft import osm_fixtures
    from osmgraft.sources import viewport_query_4d, write_feature_store_4d

    ways = osm_fixtures.ways_df(spark, sf_dir)
    pp = osm_fixtures.part_points_df(spark, sf_dir)
    feats = (
        ways.select("way_id", F.explode("nodes").alias("node_id"))
        .join(pp, "node_id")
        .groupBy("way_id")
        .agg(
            F.min("lon_e7").alias("minx"), F.min("lat_e7").alias("miny"),
            F.max("lon_e7").alias("maxx"), F.max("lat_e7").alias("maxy"),
        )
    ).cache()
    out = str(tmp_path / "fstore4d")
    write_feature_store_4d(feats, out)

    vp = (-900_000_000, -450_000_000, -200_000_000, 300_000_000)
    got = viewport_query_4d(spark, out, *vp)
    got_ids = {r.way_id for r in got.collect()}

    want_ids = {
        r.way_id
        for r in feats.collect()
        if r.maxx >= vp[0] and r.minx <= vp[2]
        and r.maxy >= vp[1] and r.miny <= vp[3]
    }
    assert want_ids, "viewport should not be empty at this SF"
    assert got_ids == want_ids

    # spanning features must be found even when the viewport misses
    # their min corner's tile (the case a point-tile index cannot serve)
    spanning = {
        r.way_id for r in feats.collect()
        if r.minx < vp[0] and r.maxx >= vp[0]
        and r.maxy >= vp[1] and r.miny <= vp[3]
    }
    assert spanning <= got_ids

    # pruning: the level-directory + row-group scan must skip files
    import glob as _glob
    total_files = len(_glob.glob(f"{out}/level=*/**/*.parquet", recursive=True))
    touched = {
        r[0] for r in got.select(F.input_file_name()).distinct().collect()
    }
    assert len(touched) < total_files, (
        f"no pruning: touched {len(touched)} of {total_files}"
    )


def test_viewport_4d_empty_viewport_returns_nothing(spark, tmp_path, sf_dir):
    from osmgraft import osm_fixtures
    from osmgraft.sources import viewport_query_4d, write_feature_store_4d

    pp = osm_fixtures.part_points_df(spark, sf_dir).limit(50)
    feats = pp.select(
        F.col("node_id").alias("way_id"),
        F.col("lon_e7").alias("minx"), F.col("lat_e7").alias("miny"),
        (F.col("lon_e7") + 1000).alias("maxx"),
        (F.col("lat_e7") + 1000).alias("maxy"),
    )
    out = str(tmp_path / "fstore4d_tiny")
    write_feature_store_4d(feats, out)
    # a viewport in the far north-east void of the fixture coordinate space
    got = viewport_query_4d(
        spark, out, 1_790_000_000, 890_000_000, 1_799_000_000, 899_000_000
    )
    assert got.count() == 0
