"""Dedup-family unit tests (shingles, simhash banding, LSH shapes)."""

import pyarrow as pa
import pytest
from pyspark import StorageLevel
from pyspark.sql import DataFrame, Window, functions as F

from osmgraft import dedup

pytestmark = pytest.mark.spark


# Input frames come from Arrow tables: they plan as a LocalTableScan,
# where a frame built from a Python list is an RDD scan whose every
# action runs Python tasks.
def _frame(spark, rows, schema: pa.Schema) -> DataFrame:
    cols = list(zip(*rows)) if rows else [[] for _ in schema]
    return spark.createDataFrame(pa.table(
        [pa.array(c, f.type) for c, f in zip(cols, schema)], schema=schema
    ))


def _docs(spark, rows):
    return _frame(spark, rows, pa.schema([("doc_id", pa.int64()), ("text", pa.string())]))


def _pairs(spark, rows, id_type=pa.int64()):
    return _frame(spark, rows, pa.schema([("doc_a", id_type), ("doc_b", id_type)]))


def test_shingles_short_docs_yield_none(spark):
    # docs with < n tokens must yield zero shingles, not crash
    # (sequence(0, negative) + slice(start=0) regression)
    d = _docs(spark, [(1, "a b"), (2, "x"), (3, "a b c d")])
    out = dedup.shingles(d, n=3).collect()
    ids = sorted({r.id for r in out})
    assert ids == [3]
    assert sorted(r.shingle for r in out) == ["a b c", "b c d"]


def test_ngram_jaccard_survives_short_docs(spark):
    d = _docs(
        spark,
        [(1, "one two"), (2, "a b c d e"), (3, "a b c d x")],
    )
    out = dedup.ngram_jaccard_pairs(d, n=3, threshold=0.01).collect()
    assert [(r.doc_a, r.doc_b) for r in out] == [(2, 3)]


def test_minhash_lsh_survives_short_docs(spark):
    d = _docs(
        spark,
        [(1, "xy"), (2, "a b c d e f"), (3, "a b c d e f")],
    )
    out = dedup.minhash_lsh_pairs(d, k=8, band_size=2, n=3).collect()
    assert [(r.doc_a, r.doc_b, r.n_match) for r in out] == [(2, 3, 8)]


def test_simhash_banded_pairs_match_allpairs(spark):
    rows = []
    base = "the quick brown fox jumps over the lazy dog near the old barn"
    for i in range(20):
        rows.append((i, base + f" variant{i % 4}"))
    rows.append((100, base + " variant0"))  # exact dup of doc 0 -> hamming 0
    d = _docs(spark, rows)
    sh = dedup.simhash(d, bits=64)
    banded = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in dedup.simhash_hamming_pairs(sh, max_hamming=2).collect()
    }
    fps = {r.doc_id: (r.sim_hi, r.sim_lo) for r in sh.collect()}
    brute = set()
    for a in sorted(fps):
        for b in sorted(fps):
            if a < b:
                h = bin(fps[a][0] ^ fps[b][0]).count("1") + bin(
                    fps[a][1] ^ fps[b][1]
                ).count("1")
                if h <= 2:
                    brute.add((a, b, h))
    assert banded == brute
    assert (0, 100, 0) in banded
    # halves stay within unsigned 32-bit range
    assert all(0 <= hi < 2**32 and 0 <= lo < 2**32 for hi, lo in fps.values())


def test_simhash_pairs_plan_has_no_theta_join(spark):
    d = _docs(spark, [(i, f"tok{i} a b c d") for i in range(8)])
    plan = dedup.simhash_hamming_pairs(
        dedup.simhash(d, bits=64), max_hamming=2
    )._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_simhash_pairs_keep_the_callers_cache(spark):
    # a caller-persisted input keeps its cache entry; an input the call
    # cached for itself is released again
    d = _docs(spark, [(i, f"tok{i % 3} a b c d") for i in range(12)])
    fresh = dedup.simhash(d, bits=64)
    want = sorted(dedup.simhash_hamming_pairs(fresh, max_hamming=2).collect())
    assert fresh.storageLevel == StorageLevel.NONE
    held = dedup.simhash(d, bits=64).persist(StorageLevel.MEMORY_AND_DISK)
    held.count()
    try:
        got = sorted(dedup.simhash_hamming_pairs(held, max_hamming=2).collect())
        assert held.storageLevel == StorageLevel.MEMORY_AND_DISK
        assert got == want and len(want) == 18  # 3 groups of 4 equal docs
    finally:
        held.unpersist()


def test_max_df_drops_boilerplate_shingle(spark):
    # 1k docs sharing one nav-bar shingle: without a df cap the pair
    # join expands ~1k^2/2 rows on that shingle; with the cap the
    # boilerplate shingle must not exist for ANY consumer — pair join,
    # per-doc sizes, or minhash signatures.
    nav = "home about contact"
    rows = [(i, f"{nav} unique{i} filler{i} tail{i}") for i in range(1000)]
    rows += [(2000, "a b c d e"), (2001, "a b c d e")]  # true dup pair
    d = _docs(spark, rows)
    sh = dedup.shingles(d, n=3, max_df=4)
    assert sh.filter(F.col("shingle") == nav).count() == 0
    pairs = dedup.ngram_jaccard_pairs(d, n=3, threshold=0.01, max_df=4)
    got = [(r.doc_a, r.doc_b, r.jaccard) for r in pairs.collect()]
    # only the true dup survives — and at jaccard 1.0 because the
    # boilerplate shingles are gone from its union too
    assert got == [(2000, 2001, 1.0)]
    lsh = dedup.minhash_lsh_pairs(d, k=8, band_size=2, n=3, max_df=4)
    assert [(r.doc_a, r.doc_b) for r in lsh.collect()] == [(2000, 2001)]


def test_max_df_cap_bounds_join_fanout(spark):
    # with the cap, per-shingle join fan-out is bounded by max_df^2/2:
    # m docs sharing a shingle with m > max_df contribute ZERO pair
    # rows for it (dropped entirely, not truncated)
    rows = [(i, f"x y z uniq{i} u{i} v{i}") for i in range(50)]
    d = _docs(spark, rows)
    uncapped = dedup.ngram_jaccard_pairs(d, n=3, threshold=0.0)
    capped = dedup.ngram_jaccard_pairs(d, n=3, threshold=0.0, max_df=4)
    assert uncapped.count() == 50 * 49 // 2
    assert capped.count() == 0


def test_dedup_pair_functions_leave_no_cached_rdds(spark):
    # cache-lifecycle contract (same leak class as the round-4 knn
    # fix): both pair builders unpersist their INTERMEDIATE cache
    # before returning — the only storage entry they may leave is the
    # localCheckpoint backing the returned result itself (caller-owned,
    # reclaimed by the ContextCleaner when the caller drops it).
    import gc

    d = _docs(spark, [(i, f"a b c d uniq{i}") for i in range(20)])

    def n_persistent():
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    before = n_persistent()
    out1 = dedup.ngram_jaccard_pairs(d, n=3, threshold=0.0)
    out2 = dedup.minhash_lsh_pairs(d, k=8, band_size=2, n=3)
    out1.count()
    out2.count()
    # immediately after return: at most the two caller-owned result
    # checkpoints — the shingle AND signature caches must already be
    # gone (a leak of either would show as before+3 / before+4 here;
    # pre-fix both leaked).  The checkpoints themselves are reclaimed
    # by the ContextCleaner once the caller drops the DataFrames —
    # GC-driven, so not asserted on a deadline here.
    assert n_persistent() <= before + 2
    del out1, out2
    gc.collect()


def test_simhash_plan_has_no_bitwidth_explode(spark):
    # the 64 bit votes are aggregate columns of ONE groupBy(doc_id) —
    # the per-token rows must NOT be exploded 64x before the shuffle
    d = _docs(spark, [(i, f"tok{i} a b c d") for i in range(8)])
    plan = (
        dedup.simhash(d, bits=64)
        ._jdf.queryExecution().optimizedPlan().toString()
    )
    import re

    # exactly one explode: the tokenizer; none for the bit index
    assert len(re.findall(r"(?i)explode", plan)) <= 1


def connected_components(
    pairs: DataFrame, max_rounds: int = 20
) -> DataFrame:
    """Reference oracle for :func:`dedup.connected_components_star`:
    (doc_id, cluster_id, n_members), cluster_id = component min, by
    iterative min-label propagation — each round every node takes the
    min of its own label and its neighbors' labels; converged when no
    label changes.  Rounds needed = graph diameter, so it is kept here
    as the plainest statement of the contract, not in the library."""
    e = pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    edges = e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint(eager=True)
    labels = (
        edges.select(F.col("src").alias("doc_id"))
        .distinct()
        .withColumn("label", F.col("doc_id"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_rounds):
        nb = edges.join(
            labels.select(F.col("doc_id").alias("dst"), "label"), "dst"
        ).select(F.col("src").alias("doc_id"), "label")
        new = (
            labels.unionByName(nb)
            .groupBy("doc_id")
            .agg(F.min("label").alias("label"))
            .localCheckpoint(eager=True)
        )
        changed = (
            new.join(labels.withColumnRenamed("label", "old"), "doc_id")
            .filter(F.col("label") < F.col("old"))
            .limit(1)
            .count()
        )
        labels = new
        if changed == 0:
            break
    else:
        raise RuntimeError(f"not converged after {max_rounds} rounds")
    sizes = labels.groupBy("label").agg(F.count("*").alias("n_members"))
    return labels.join(sizes, "label").select(
        "doc_id", F.col("label").alias("cluster_id"), "n_members"
    )


def test_connected_components_chain_triangle_and_pair(spark):
    # chain 1-2-3-4 (diameter 3), triangle 10-11-12, isolated pair 20-21
    pairs = _pairs(
        spark, [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21)]
    )
    got = {
        r.doc_id: (r.cluster_id, r.n_members)
        for r in connected_components(pairs).collect()
    }
    assert got == {
        1: (1, 4), 2: (1, 4), 3: (1, 4), 4: (1, 4),
        10: (10, 3), 11: (10, 3), 12: (10, 3),
        20: (20, 2), 21: (20, 2),
    }


def test_connected_components_raises_when_round_capped(spark, monkeypatch):
    # a 64-node path needs >1 star round; a one-round cap on the shuffle
    # loop must not silently return a partial labeling
    monkeypatch.setattr(dedup, "_DRIVER_MAX_PAIRS", 0)
    monkeypatch.setattr(dedup, "_STAR_MAX_ROUNDS", 1)
    pairs = _pairs(spark, [(i, i + 1) for i in range(1, 64)])
    with pytest.raises(RuntimeError):
        dedup.connected_components_star(pairs)


def _random_graph():
    import random

    rnd = random.Random(11)
    # random graph: chains, triangles, singleton pairs, a 40-node path
    # (diameter 39 — the min-label worst case, star's O(log n) case)
    pairs = [(i, i + 1) for i in range(100, 140)]
    for _ in range(60):
        a, b = rnd.randrange(0, 60), rnd.randrange(0, 60)
        if a != b:
            pairs.append((min(a, b), max(a, b)))
    return pairs


# (id type, pairs, expected rows or None for "as the min-label reference")
_COMPONENT_CASES = {
    "random": (pa.int64(), _random_graph(), None),
    "empty": (pa.int64(), [], None),
    "self_pair": (pa.int64(), [(5, 5), (1, 2), (2, 2)], None),
    "duplicate_and_reversed": (
        pa.int64(), [(1, 2), (2, 1), (1, 2), (3, 4), (4, 3), (2, 3), (9, 8)], None
    ),
    # a NULL side contributes only its non-NULL side, as a node (the
    # reference above would make NULL a node of its own)
    "null_side": (
        pa.int64(),
        [(1, None), (None, 2), (None, None), (3, 4), (4, None)],
        [(1, 1, 1), (2, 2, 1), (3, 3, 2), (4, 3, 2)],
    ),
    "int_ids": (pa.int32(), [(7, 3), (3, 1), (20, 21)], None),
}


@pytest.fixture(scope="module")
def component_results(spark):
    """case -> (id type, expected multiset, {path: (executed plan, result
    multiset, schema)}): the min-label reference and both paths run once
    per case, and the case's [driver] and [distributed] tests share the
    outcome.  Only plain values are kept, so the frames and their
    checkpoints are released as soon as a case is computed."""
    from collections import Counter

    cache = {}

    def get(case):
        if case not in cache:
            id_type, pairs, rows = _COMPONENT_CASES[case]
            df = _pairs(spark, pairs, id_type)
            if rows is None:
                rows = connected_components(df, max_rounds=50).collect()
            out = {"driver": dedup.connected_components_star(df)}
            with pytest.MonkeyPatch.context() as mp:
                mp.setattr(dedup, "_DRIVER_MAX_PAIRS", 0)
                out["distributed"] = dedup.connected_components_star(df)
            cache[case] = (
                df.schema["doc_a"].dataType,
                Counter(tuple(r) for r in rows),
                {
                    path: (
                        got._jdf.queryExecution().executedPlan().toString(),
                        Counter(tuple(r) for r in got.collect()),
                        got.schema,
                    )
                    for path, got in out.items()
                },
            )
        return cache[case]

    return get


@pytest.mark.parametrize("path", ["driver", "distributed"])
@pytest.mark.parametrize("case", sorted(_COMPONENT_CASES))
def test_star_components_equal_label_propagation(component_results, path, case):
    pairs = _COMPONENT_CASES[case][1]
    id_type, expected, results = component_results(case)
    plan, got, schema = results[path]
    if pairs:
        # the driver path answers from a local relation, the forced
        # path from the shuffle loop (an empty input folds to an empty
        # local relation on either path)
        assert plan.startswith("LocalTableScan") == (path == "driver")
    assert got == expected
    assert results["driver"][2] == results["distributed"][2]
    assert schema["doc_id"].dataType == id_type
    assert bool(expected) == bool(pairs)


def test_small_pair_set_labels_on_driver(spark):
    # a small pair set is labeled in one driver pass: the limited read is
    # the only work, and the result is a local relation with no shuffle
    # (the large-star/small-star loop runs dozens of jobs here)
    sc = spark.sparkContext
    pairs = _pairs(spark, [(i, i + 1) for i in range(30)] + [(100, 101)]).repartition(8)
    sc.setJobGroup("cc-driver-probe", "connected components job-count probe")
    try:
        out = dedup.connected_components_star(pairs)
        assert "Exchange" not in out._jdf.queryExecution().executedPlan().toString()
        assert len(out.collect()) == 33
        jobs = sc.statusTracker().getJobIdsForGroup("cc-driver-probe")
        assert len(jobs) <= 2, f"{len(jobs)} jobs for a 31-pair component labeling"
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def test_df_cap_strategies_equivalent(spark):
    # the broadcast anti-join cap keeps the same (id, shingle) rows as
    # a count window over shingle, kept here as the reference
    rows = [(i, f"x y z uniq{i} u{i} v{i}") for i in range(50)]
    rows += [(100 + i, f"a b c tail{i} t{i} w{i}") for i in range(3)]
    d = _docs(spark, rows)
    aj = dedup.shingles(d, n=3, max_df=4)
    wd = (
        dedup.shingles(d, n=3)
        .withColumn("_df", F.count("*").over(Window.partitionBy("shingle")))
        .filter(F.col("_df") <= 4)
        .drop("_df")
    )
    assert sorted(map(tuple, aj.collect())) == sorted(map(tuple, wd.collect()))


def test_df_cap_anti_join_drops_map_side(spark):
    # r5 verdict item 2 ("hot-shingle rows are shuffled before being
    # dropped"): with the anti-join strategy the ONLY shuffle keyed on
    # shingle is the partial-agg df count (one row per distinct shingle
    # per map partition) — the shingle STREAM itself reaches the
    # broadcast anti-join without any exchange, so over-cap occurrences
    # are dropped map-side and never transit a shuffle.
    d = _docs(spark, [(i, f"x y z uniq{i} u{i} v{i}") for i in range(50)])
    plan = (
        dedup.shingles(d, n=3, max_df=4)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "LeftAnti" in plan and "BroadcastExchange" in plan
    # exactly one hash-partitioned exchange: the df-count groupBy
    # (HashAggregate partial -> Exchange -> HashAggregate final)
    assert plan.count("Exchange hashpartitioning") == 1


def test_repeated_dedup_calls_keep_checkpoint_count_bounded(spark):
    # r5 verdict item 8: localCheckpoint blocks live until the caller
    # drops the result AND the ContextCleaner runs — repeated calls in
    # one long-lived session must not accumulate storage entries.
    # Loop the two pair builders, dropping each result; after GC the
    # persistent-RDD count must return to the pre-loop level plus at
    # most the last call's caller-owned checkpoints.
    import gc
    import time

    d = _docs(spark, [(i, f"a b c d uniq{i}") for i in range(20)])

    def n_persistent():
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    before = n_persistent()
    n_iter = 10
    for _ in range(n_iter):
        out1 = dedup.ngram_jaccard_pairs(d, n=3, threshold=0.0)
        out2 = dedup.minhash_lsh_pairs(d, k=8, band_size=2, n=3)
        out1.count()
        out2.count()
        # no per-iteration assertion: dropped checkpoints are
        # reclaimed lazily (weak-ref ContextCleaner), so the live
        # count legitimately drifts up until a GC — the leak signal
        # is LINEAR growth surviving GC, asserted below
        del out1, out2
    # caller dropped everything: after GC the ContextCleaner must
    # reclaim the checkpoint blocks.  Reclamation latency is
    # nondeterministic (weak-ref queue + py4j detach timing — observed
    # 1 s to tens of seconds on this host), so poll generously and
    # allow a small straggler allowance; a true per-iteration leak
    # would leave >= n_iter entries no GC can touch.
    deadline = time.time() + 60
    while time.time() < deadline:
        gc.collect()
        spark.sparkContext._jvm.System.gc()
        if n_persistent() <= before:
            break
        time.sleep(1)
    assert n_persistent() - before <= 4, (
        f"checkpoint leak: {n_persistent()} persistent RDDs vs "
        f"{before} before the {n_iter}-iteration loop"
    )
