"""The three benchmark workloads.

Each workload prepares cached inputs once (``setup``), computes the
expected output of every step once from the repo's DuckDB oracle SQL
(``expected``), and then runs passes.  A pass calls the public
functions of the ``osmgraft`` modules and ends every step with an
order-insensitive checksum of the step's output, observed on its way
into a ``noop`` sink: the row count and the sum of the first 32 bits of
md5 over each row's canonical text.  The expected checksums are the
same function over the oracle's rows, so a pass is correct only when
every step's output multiset matches the oracle.

The traced form of a pass wraps every step in a span named
``<layer>.<op>`` after the ``osmgraft`` module it calls into.
"""

from __future__ import annotations

import contextlib
from concurrent.futures import ThreadPoolExecutor
import decimal
import hashlib
import os
import shutil

from pyspark import StorageLevel
from pyspark.sql import Observation
from pyspark.sql import functions as F

import osmgraft.join as join_mod
from osmgraft import closure, dedup, jobs, osm_fixtures, queries, similarity, synth, tiles
from osmgraft.extract import extract_entities
from osmgraft.sources import write_tile_store
from osmgraft.store import SnapshotStore

from gen import generate, many_boxes

TABLES = ("documents", "embeddings", "part", "orders", "lineitem", "nation")


# -- checksums -----------------------------------------------------------------

def _canon(df, cols):
    """Each column as the text both engines print for it: integers in
    decimal, doubles as round(x * 1e9), strings as they are."""
    out = []
    for c in cols:
        t = dict(df.dtypes)[c]
        if t in ("tinyint", "smallint", "int", "bigint"):
            out.append(F.col(c).cast("bigint").cast("string"))
        elif t in ("float", "double"):
            out.append(F.round(F.col(c).cast("double") * 1e9).cast("bigint").cast("string"))
        else:
            out.append(F.col(c).cast("string"))
    return out


def checksum(df, cols) -> tuple[int, int]:
    """(rows, sum over rows of the first 32 bits of md5(row text)).

    Order-insensitive, and computable outside Spark (:func:`py_checksum`).
    Observed on the way into a ``noop`` sink, so the check adds no job:
    the step's output is consumed exactly once."""
    row = F.concat_ws("|", *_canon(df, cols))
    h = F.conv(F.substring(F.md5(row), 1, 8), 16, 10).cast("bigint")
    obs = Observation()
    df.observe(
        obs, F.count(F.lit(1)).alias("n"), F.coalesce(F.sum(h), F.lit(0)).alias("h")
    ).write.format("noop").mode("overwrite").save()
    r = obs.get
    return int(r["n"]), int(r["h"])


def _text(v) -> str:
    if isinstance(v, float):
        return str(int(decimal.Decimal(v * 1e9).quantize(
            decimal.Decimal(1), rounding=decimal.ROUND_HALF_UP)))
    return str(v)


def py_checksum(rows) -> tuple[int, int]:
    """:func:`checksum` of rows held in Python."""
    n = h = 0
    for r in rows:
        n += 1
        h += int(hashlib.md5("|".join(map(_text, r)).encode()).hexdigest()[:8], 16)
    return n, h


class Oracle:
    """DuckDB over the generated tables."""

    def __init__(self, sf_dir: str):
        import duckdb

        self.con = duckdb.connect()
        self.con.execute("SET threads TO 1")  # overlaps the Spark start-up
        for t in TABLES:
            path = os.path.join(sf_dir, f"{t}.parquet")
            if os.path.isdir(path):
                self.con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}/*.parquet')"
                )

    def table(self, name: str, sql: str) -> None:
        self.con.execute(f"CREATE TABLE {name} AS {sql}")

    def checksum(self, sql: str, cols) -> tuple[int, int]:
        return py_checksum(self.con.execute(
            f"SELECT {', '.join(cols)} FROM ({sql}) oracle_q"
        ).fetchall())

    def close(self) -> None:
        self.con.close()


# -- shared pass helpers -----------------------------------------------------------

class Pass:
    """One pass: its span helper, the checksums (``sums``) and counts of
    its steps, and the DataFrames it persisted (``held``) until
    :meth:`release`."""

    def __init__(self, tracer, pass_id: int):
        self.tracer = tracer
        self.pass_id = pass_id
        self.sums: dict = {}
        self.counts: dict = {}
        self.held: list = []

    def span(self, name: str):
        return self.tracer.span(name, self.pass_id)

    def check(self, key: str, df, cols, persist: bool = False):
        if persist:
            df = df.persist(StorageLevel.MEMORY_AND_DISK)
            self.held.append(df)
        self.sums[key] = checksum(df, cols)
        return df

    def release(self) -> None:
        for df in self.held:
            df.unpersist()
        self.held.clear()


@contextlib.contextmanager
def cover_spans(p: Pass):
    """Traced form only: time ``join``'s cover builders as child spans
    of the join, materializing the cover inside the span."""
    if not p.tracer.enabled:
        yield
        return
    originals = (join_mod.cover_df, join_mod.cover_df_distributed)

    def wrap(fn):
        def traced(*args, **kwargs):
            with p.span("join.cover"):
                cov = fn(*args, **kwargs).persist()
                cov.count()
            p.held.append(cov)
            return cov
        return traced

    join_mod.cover_df, join_mod.cover_df_distributed = map(wrap, originals)
    try:
        yield
    finally:
        join_mod.cover_df, join_mod.cover_df_distributed = originals


def dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


class Workload:
    """Inputs cached at setup; ``counts`` holds their row counts."""

    def __init__(self, work: str, seed: int, size: int):
        self.spark, self.work, self.seed, self.size = None, work, seed, size
        self.sf = os.path.join(work, "sf")
        self.inputs: dict = {}
        self.counts: dict = {}

    def _cache(self, **dfs) -> None:
        """Cache the inputs, counting them concurrently: each count is a
        small job whose time is mostly driver-side planning."""
        for name, df in dfs.items():
            self.inputs[name] = df.cache()
        with ThreadPoolExecutor(len(dfs)) as pool:
            self.counts.update(zip(dfs, pool.map(lambda k: self.inputs[k].count(), dfs)))


# -- cut_tile -----------------------------------------------------------------------

MATCH_COLS = ("doc_id", "ent_idx", "boundary_id")


class CutTile(Workload):
    """EP1+EP2: ``jobs.run_cut_and_tile`` over generated pages against
    the five flagship boundaries.  The only workload that writes."""

    name = "cut_tile"
    item = "pages"
    polys = synth.boundaries()

    def generate(self):
        generate(self.sf, self.seed, {"docs": self.size}, n_files=4)

    def setup(self, spark) -> int:
        self.spark = spark
        self._cache(pages=synth.pages_df(spark, self.sf, replicate=1))
        self.pages = self.inputs["pages"]
        return self.counts["pages"]

    def expected(self, oracle: Oracle) -> dict:
        pip = queries.ORACLES["geo_pip_join"]
        n_ents = oracle.con.execute(
            f"SELECT COUNT(*) FROM ({synth.points_sql('documents')}) e"
        ).fetchone()[0]
        n_feats = oracle.con.execute(
            f"SELECT COUNT(*) FROM (SELECT DISTINCT doc_id, ent_idx FROM ({pip}) m) f"
        ).fetchone()[0]
        return {
            "matches": oracle.checksum(pip, MATCH_COLS),
            "entities": n_ents,
            "zoom_histogram": {z: n_feats for z in range(12, tiles.MAX_ZOOM + 1)},
        }

    def run(self, p: Pass) -> dict:
        root = os.path.join(self.work, f"store-{p.pass_id}")
        try:
            if p.tracer.enabled:
                self._traced(p, root)
            else:
                res = jobs.run_cut_and_tile(self.spark, self.pages, self.polys, root)
                p.counts["entities"] = res["tables"]["entities"]
                p.counts["zoom_histogram"] = res["zoom_histogram"]
                store = SnapshotStore(self.spark, root)
                p.sums["matches"] = checksum(store.read("matches"), MATCH_COLS)
        finally:
            p.release()
            shutil.rmtree(root, ignore_errors=True)
        return p.sums | p.counts

    def _traced(self, p: Pass, root: str) -> None:
        """``run_cut_and_tile``'s own calls, each layer materialized."""
        with p.span("extract.entities"):
            ents = extract_entities(self.pages).persist(StorageLevel.MEMORY_AND_DISK)
            p.held.append(ents)
            p.counts["entities"] = ents.count()
        with p.span("join.spatial"), cover_spans(p):
            matches = p.check(
                "matches",
                join_mod.spatial_join(self.spark, ents, self.polys).select(
                    "url", "doc_id", "ent_idx", "name", "lat_e7", "lon_e7",
                    "boundary_id",
                ),
                MATCH_COLS, persist=True,
            )
        store = SnapshotStore(self.spark, root)
        with p.span("store.commit"):
            wm = self.pages.agg(F.max("warc_ts").alias("wm")).collect()[0]["wm"]
            store.commit({"entities": ents.drop("mention"), "matches": matches},
                         watermark=str(wm), note="cut")
        with p.span("store.read"):
            feats = (
                store.read("matches")
                .select("doc_id", "ent_idx", "lon_e7", "lat_e7").distinct()
                .withColumn("id", F.col("doc_id") * 10 + F.col("ent_idx"))
                .withColumn("minz", F.lit(12))
                .withColumn("maxz", F.lit(tiles.MAX_ZOOM))
                .persist(StorageLevel.MEMORY_AND_DISK)
            )
            p.held.append(feats)
            feats.count()
        with p.span("tiles.explode"):
            pyramid = tiles.explode_pyramid(feats).select(
                "id", "z", "tile_x", "tile_y"
            ).persist(StorageLevel.MEMORY_AND_DISK)
            p.held.append(pyramid)
            p.counts["pyramid_rows"] = pyramid.count()
        with p.span("sources.tile_write"):
            write_tile_store(pyramid, os.path.join(root, "tiles"))
        with p.span("tiles.histogram"):
            hist = tiles.zoom_histogram(feats).persist()
            p.held.append(hist)
            p.counts["zoom_histogram"] = {
                r["z"]: r["n_features"] for r in hist.collect()
            }
        with p.span("store.commit"):
            store.commit({"zoom_histogram": hist}, watermark=store.watermark(),
                         note="tile:tiles")
        m = store.manifest()
        p.counts["store_rows"] = sum(t["row_count"] for t in m["tables"].values())
        p.counts["store_bytes"] = dir_bytes(os.path.join(root, "data"))
        p.counts["tile_bytes"] = dir_bytes(os.path.join(root, "tiles"))
        p.counts["match_rows"] = p.sums["matches"][0]


# -- osm_mapper ----------------------------------------------------------------------

NODE_PTS = (
    f"SELECT doc_id AS node_id, {synth.LON_EXPR} AS lon_e7, "
    f"{synth.LAT_EXPR} AS lat_e7 FROM documents"
)
PART_PTS = (
    f"SELECT p_partkey AS node_id, {osm_fixtures.PART_LON_EXPR} AS lon_e7, "
    f"{osm_fixtures.PART_LAT_EXPR} AS lat_e7 FROM part"
)
REGION_COLS = ("node_id", "boundary_id")
POINT_REGION_COLS = ("src", "node_id", "boundary_id")  # src 0 node, 1 part
CLIP_COLS = ("way_id", "boundary_id", "new_seq", "node_id")
ACCEPT_COLS = ("relation_id", "boundary_id")
MEMBER_COLS = ("relation_id", "boundary_id", "new_seq", "ref", "mtype")
CLASS_COLS = ("id", "class", "minz", "maxz")
ROUTE_COLS = ("way_id", "kind", "class", "minz", "maxz")
PYRAMID_COLS = ("id", "z", "tile_x", "tile_y")
HIST_COLS = ("z", "n_points", "n_ways", "n_areas", "n_total")

# J4 membership fixpoint and J5 member filter over the region tables
# nr/wr (the repo's relation_closure / relation_member_filter oracles,
# with the region tables built from this workload's boundary set)
_ACCEPTED = f"""
    WITH RECURSIVE e AS ({queries._REL_EDGES_SQL}),
    accepted(relation_id, boundary_id) AS (
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
_MEMBERS = f"""
    WITH e AS ({queries._REL_EDGES_SQL}),
    mem AS (
      SELECT relation_id, ref, mtype,
             CAST(CASE mtype WHEN 'node' THEN 0 WHEN 'way' THEN 1 ELSE 2 END
                  AS INT) AS seq
      FROM e),
    kept AS (
      SELECT m.relation_id, a.boundary_id, m.seq, m.ref, m.mtype
      FROM mem m JOIN accepted a ON a.relation_id = m.relation_id
      WHERE (m.mtype = 'node' AND EXISTS (
               SELECT 1 FROM nr WHERE nr.node_id = m.ref
                  AND nr.boundary_id = a.boundary_id))
         OR (m.mtype = 'way' AND EXISTS (
               SELECT 1 FROM wr WHERE wr.way_id = m.ref
                  AND wr.boundary_id = a.boundary_id))
         OR (m.mtype = 'relation' AND EXISTS (
               SELECT 1 FROM accepted a2 WHERE a2.relation_id = m.ref
                  AND a2.boundary_id = a.boundary_id)))
    SELECT relation_id, boundary_id,
           CAST(ROW_NUMBER() OVER (PARTITION BY relation_id, boundary_id
                                   ORDER BY seq, ref) - 1 AS INT) AS new_seq,
           ref, mtype
    FROM kept
"""


class OsmMapper(Workload):
    """The reference's ``s2b`` + ``b2m`` path over the OSM fixtures:
    spatial join against 105 boundaries (distributed cover), membership
    closure, then classification, routing and the zoom pyramid.  Every
    step is consumed by its checksum; nothing is written."""

    name = "osm_mapper"
    item = "elements"

    def __init__(self, work: str, seed: int, size: int):
        super().__init__(work, seed, size)
        self.polys = synth.boundaries() + many_boxes(seed)

    def generate(self):
        generate(self.sf, self.seed, {
            "docs": self.size, "dense_ids": True,
            "orders": self.size * 4, "parts": self.size,
        }, n_files=4)

    def setup(self, spark) -> int:
        self.spark = s = spark
        sf = self.sf
        nodes = osm_fixtures.nodes_df(s, sf)
        self._cache(
            nodes=nodes,
            # the nodes and the way-node (part) points, joined in one call
            points=nodes.select(
                F.lit(0).alias("src"), F.col("id").alias("node_id"), "lon_e7", "lat_e7",
            ).unionByName(osm_fixtures.part_points_df(s, sf).select(
                F.lit(1).alias("src"), "node_id", "lon_e7", "lat_e7")),
            ways=osm_fixtures.ways_df(s, sf),
            relations=osm_fixtures.relations_df(s, sf).filter(F.col("relation_id") < 100),
        )
        self.inputs["way_nodes"] = osm_fixtures.way_nodes_raw_df(s, sf)  # a plain scan
        return sum(self.counts[k] for k in ("nodes", "ways", "relations"))

    def expected(self, oracle: Oracle) -> dict:
        pts = f"SELECT 0 AS src, * FROM ({NODE_PTS}) UNION ALL SELECT 1, * FROM ({PART_PTS})"
        oracle.table("regions", queries.pip_sql(pts, "src, node_id", polys=self.polys))
        oracle.table("nr", "SELECT node_id, boundary_id FROM regions WHERE src = 0")
        oracle.table("pr", "SELECT node_id, boundary_id FROM regions WHERE src = 1")
        oracle.table("wr", """
            SELECT DISTINCT l_orderkey AS way_id, pr.boundary_id
            FROM lineitem l JOIN pr ON pr.node_id = l.l_partkey""")
        oracle.table("accepted", _ACCEPTED)
        clip = """
            SELECT l.l_orderkey AS way_id, pr.boundary_id,
                   CAST(ROW_NUMBER() OVER (
                     PARTITION BY l.l_orderkey, pr.boundary_id
                     ORDER BY l.l_linenumber, l.l_partkey) - 1 AS INT) AS new_seq,
                   l.l_partkey AS node_id
            FROM lineitem l JOIN pr ON pr.node_id = l.l_partkey"""
        o = queries.ORACLES
        return {
            "regions": oracle.checksum("SELECT * FROM regions", POINT_REGION_COLS),
            "way_regions": oracle.checksum("SELECT * FROM wr", ("way_id", "boundary_id")),
            "clip": oracle.checksum(clip, CLIP_COLS),
            "accepted": oracle.checksum("SELECT * FROM accepted", ACCEPT_COLS),
            "members": oracle.checksum(_MEMBERS, MEMBER_COLS),
            "points": oracle.checksum(o["node_classify_zoom"], CLASS_COLS),
            "routed": oracle.checksum(o["way_route_classify"], ROUTE_COLS),
            "pyramid": oracle.checksum(o["tile_pyramid"], PYRAMID_COLS),
            "histogram": oracle.checksum(o["zoom_histogram_by_kind"], HIST_COLS),
        }

    def run(self, p: Pass) -> dict:
        s, i = self.spark, self.inputs
        try:
            with p.span("join.spatial"), cover_spans(p):
                regions = p.check("regions", join_mod.spatial_join(
                    s, i["points"], self.polys).select(*POINT_REGION_COLS),
                    POINT_REGION_COLS, persist=True)
            p.counts["match_rows"] = p.sums["regions"][0]
            nr = regions.filter("src = 0").select(*REGION_COLS)
            pr = regions.filter("src = 1").select(*REGION_COLS)
            with p.span("closure.semijoin"):
                wr = p.check("way_regions", closure.way_region_semijoin(
                    i["way_nodes"], pr), ("way_id", "boundary_id"), persist=True)
            with p.span("closure.clip"):
                p.check("clip", closure.way_clip_resequence(
                    i["way_nodes"], pr, order_cols=("lnum", "node_id")), CLIP_COLS)
            with p.span("closure.fixpoint"):
                acc = p.check("accepted", closure.relation_closure(
                    i["relations"], nr, wr), ACCEPT_COLS)
            with p.span("closure.member_filter"):
                p.check("members", closure.relation_member_filter(
                    i["relations"], acc, nr, wr), MEMBER_COLS)
            with p.span("tiles.classify"):
                pts = p.check("points", tiles.classify_points(i["nodes"]),
                              CLASS_COLS, persist=True)
                routed = tiles.route_ways(i["ways"]).persist()
                p.held.append(routed)
                p.check("routed", routed.select(
                    "way_id", "kind",
                    F.coalesce(F.col("class"), F.lit("(none)")).alias("class"),
                    F.coalesce(F.col("minz"), F.lit(-1)).alias("minz"),
                    F.coalesce(F.col("maxz"), F.lit(-1)).alias("maxz"),
                ), ROUTE_COLS)
            with p.span("tiles.explode"):
                p.check("pyramid", tiles.explode_pyramid(pts), PYRAMID_COLS)
            p.counts["pyramid_rows"] = p.sums["pyramid"][0]
            with p.span("tiles.histogram"):
                p.check("histogram", tiles.zoom_histogram_by_kind(pts, routed),
                        HIST_COLS)
        finally:
            p.release()
        return dict(p.sums)


# -- neighbors --------------------------------------------------------------------------

SIMHASH_COLS = ("doc_id", "sim_hi", "sim_lo")
PAIR_COLS = ("doc_a", "doc_b", "hamming")
CLUSTER_COLS = ("doc_id", "cluster_id", "n_members")
TOPK_COLS = ("qid", "pid", "rank", "cosine")
TRAIN_COLS = ("vec_id", "centroid_id")
KNN_COLS = ("qid", "pid", "rank")
KNN_QUERY_DOCS = 40  # queries: the entities of documents 0..39


class Neighbors(Workload):
    """Near-dup and neighbor search: simhash pairs and clusters over
    the documents, IVF cosine top-k and the trained-IVF Lloyd loop over
    the embeddings, and the kNN ring loop over the documents' geo
    points."""

    name = "neighbors"
    item = "docs"

    def generate(self):
        # dense ids: the geo points, and so the kNN query set and its
        # ring rounds, are the same on every seed
        generate(self.sf, self.seed,
                 {"docs": self.size, "dense_ids": True, "vectors": self.size // 2},
                 n_files=4)

    def setup(self, spark) -> int:
        self.spark = s = spark
        pid = (F.col("doc_id") * 10 + F.col("ent_idx")).alias("pid")
        ents = synth.geo_entities_df(s, self.sf)
        self._cache(
            docs=s.read.parquet(os.path.join(self.sf, "documents.parquet")),
            vectors=s.read.parquet(os.path.join(self.sf, "embeddings.parquet")),
            points=ents.select(pid, "lon_e7", "lat_e7"),
            queries=ents.filter(F.col("doc_id") < KNN_QUERY_DOCS)
            .select(pid.alias("qid"), "lon_e7", "lat_e7"),
        )
        return self.counts["docs"]

    def expected(self, oracle: Oracle) -> dict:
        o = queries.ORACLES
        knn = f"""
            WITH pts AS ({synth.points_sql('documents')}),
            p AS (SELECT doc_id * 10 + ent_idx AS pid, lon_e7, lat_e7 FROM pts),
            q AS (SELECT pid AS qid, lon_e7 AS qx, lat_e7 AS qy FROM p
                  WHERE pid < {KNN_QUERY_DOCS * 10})
            SELECT qid, pid, CAST(rank AS INT) AS rank FROM (
              SELECT q.qid, p.pid,
                     ROW_NUMBER() OVER (
                       PARTITION BY q.qid
                       ORDER BY CAST(p.lon_e7 - q.qx AS HUGEINT) * (p.lon_e7 - q.qx)
                              + CAST(p.lat_e7 - q.qy AS HUGEINT) * (p.lat_e7 - q.qy),
                                p.pid) AS rank
              FROM q CROSS JOIN p)
            WHERE rank <= 5"""
        # dedup_clusters' closure over the materialized dedup_simhash_pairs
        # oracle (as one query DuckDB recomputes the pairs every round)
        oracle.table("pairs", o["dedup_simhash_pairs"])
        clusters = """
            WITH RECURSIVE edges AS (
                SELECT doc_a AS a, doc_b AS b FROM pairs
                UNION SELECT doc_b, doc_a FROM pairs),
            reach(id, r) AS (
                SELECT DISTINCT a, a FROM edges
                UNION
                SELECT e.a, reach.r FROM edges e JOIN reach ON reach.id = e.b),
            lab AS (SELECT id AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY id)
            SELECT doc_id, cluster_id,
                   COUNT(*) OVER (PARTITION BY cluster_id) AS n_members
            FROM lab"""
        return {
            "simhash": oracle.checksum(o["dedup_simhash"], SIMHASH_COLS),
            "pairs": oracle.checksum("SELECT * FROM pairs", PAIR_COLS),
            "clusters": oracle.checksum(clusters, CLUSTER_COLS),
            "topk": oracle.checksum(o["ann_cosine_topk_ivf"], TOPK_COLS),
            "train": oracle.checksum(o["ann_ivf_trained"], TRAIN_COLS),
            "knn": oracle.checksum(knn, KNN_COLS),
        }

    def run(self, p: Pass) -> dict:
        s, i = self.spark, self.inputs
        try:
            with p.span("dedup.simhash"):
                sh = p.check("simhash", dedup.simhash(i["docs"], bits=64),
                             SIMHASH_COLS, persist=True)
            with p.span("dedup.pairs"):
                pairs = p.check("pairs", dedup.simhash_hamming_pairs(sh, max_hamming=2),
                                PAIR_COLS)
            with p.span("dedup.cc"):
                p.check("clusters", dedup.connected_components_star(pairs), CLUSTER_COLS)
            with p.span("similarity.topk"):
                p.check("topk", similarity.cosine_topk_ivf(i["vectors"], k=5, n_centroids=8),
                        TOPK_COLS)
            with p.span("similarity.train"):
                p.check("train", similarity.ivf_train_assign(
                    i["vectors"], n_centroids=8, iters=1), TRAIN_COLS)
            with p.span("join.knn"):
                # brute_max_pairs=0 keeps the query set on the ring loop
                p.check("knn", join_mod.knn(s, i["queries"], i["points"], k=5,
                                            brute_max_pairs=0), KNN_COLS)
            p.counts["pair_rows"] = p.sums["pairs"][0]
        finally:
            p.release()
        return dict(p.sums)


WORKLOADS = {w.name: w for w in (CutTile, OsmMapper, Neighbors)}
