"""Deduplication operators for web-scale corpora.

Four tiers, all shuffle-conscious:

* **exact**     — content-hash groupBy (map-side combine; the only
                  shuffle is on the 16-byte digest).
* **n-gram Jaccard** — exact word-shingle similarity for candidate
                  pairs that share at least one shingle (the shingle
                  equi-join IS the prefilter; no O(n^2) pair scan).
* **MinHash + LSH** — k md5-minwise signatures, banded into LSH keys;
                  only pairs sharing a band collide.  Hashing is done in
                  the *string* domain (lexicographic min over md5 hex)
                  so results are bit-identical across engines — no
                  engine-specific hash function anywhere.
* **SimHash**   — per-token md5 bit votes folded into a compact
                  fingerprint; equal fingerprints = near-dup bucket.

At 10^12-document scale the shingle join is the dominant shuffle; the
band/bucket keys are designed to be low-cardinality-skew-resistant
(md5-uniform), and every aggregation is a partial-agg-friendly
groupBy.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark import StorageLevel
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import LongType, StructField, StructType

TOKEN_SPLIT = " "


def shingles(
    df: DataFrame, n: int = 3, id_col: str = "doc_id",
    max_df: int | None = None,
) -> DataFrame:
    """Distinct word n-gram shingles per doc: (id, shingle).

    ``max_df`` (document-frequency cap / stop-shingle filter): shingles
    occurring in MORE than ``max_df`` docs are dropped entirely — from
    the pair join AND from the per-doc set sizes, i.e. capped shingles
    simply do not exist for any downstream consumer.  This is the
    standard boilerplate guard of production near-dup pipelines: a
    nav-bar / cookie-banner shingle shared by m docs otherwise expands
    to m^2/2 join rows in the pair join (m reaches millions on a real
    crawl — the one quadratic-blowup shape at 10^12 docs).  Sizing: the
    cap bounds per-shingle join fan-out at max_df^2/2 rows, and the
    number of dropped shingles is at most total_occurrences/max_df; a
    few thousand is a reasonable crawl-scale setting (dup clusters are
    rarely wider than that, boilerplate is far wider).  ``None``
    disables the cap (exact semantics, small corpora only).
    """
    out = _shingle_base(df, n, id_col)
    if max_df is not None:
        out = _apply_df_cap(out, max_df)
    return out


def _apply_df_cap(out: DataFrame, max_df: int) -> DataFrame:
    """Drop shingles whose document frequency exceeds ``max_df``.

    Map-side stop-shingle drop (guide §2.3/§3.2): df comes from a
    partial-agg ``groupBy(shingle).count()`` — a 10^9-df boilerplate
    shingle moves ONE row per map partition through that shuffle, not
    10^9 rows — then the (small by construction: at most
    total_occurrences/max_df entries) over-cap set broadcast-anti-joins
    the shingle stream, so boilerplate rows are dropped IN the scan
    stage and never transit any shuffle at all.  On an uncached input
    the shingle derivation runs twice (count side + join side) — cheap
    codegen; the pair generators cache the base so it runs once.  A
    count window over shingle gives the same rows but shuffles every
    occurrence of every hot shingle before discarding it."""
    hot = (
        out.groupBy("shingle")
        .agg(F.count("*").alias("_df"))
        .filter(F.col("_df") > max_df)
        .select("shingle")
    )
    # restore (id, shingle) order: the USING-column join puts the join
    # key first
    return out.join(F.broadcast(hot), "shingle", "left_anti").select(
        "id", "shingle"
    )


def _shingle_base(df: DataFrame, n: int, id_col: str = "doc_id") -> DataFrame:
    """Uncapped (id, shingle) explode.

    Guard: docs with < n tokens have no shingles.  Without the guard,
    slice() with a non-positive length throws at runtime on short docs
    (the DuckDB oracle's generate_series(1, len-2) silently yields
    none).  array_distinct dedupes WITHIN each doc before the explode —
    set semantics per doc with ZERO shuffle, where a post-explode
    .distinct() was a full corpus-wide exchange (cross-doc repeats
    are distinct (id, shingle) pairs and stay either way).

    The tokenization is STAGED into its own projection so ``split(text)``
    runs once per row (r6), and the shingle array is built by a
    ``zip_with`` chain over the n shifted token slices instead of
    ``transform(sequence(..), i -> concat_ws(slice(..)))`` — the
    per-index slice() allocated an n-element array per shingle, and the
    transform lambda dominated the derivation (r6 at sf1.0, guide §1.2
    per-task work: explode pass 1.15 -> 0.47 s).  Identical output for
    ANY token array: ``zip_with`` over equal-length slices with
    ``concat(a, ' ', b)`` equals ``concat_ws(' ', slice(.., n))``
    element-wise (split() never yields NULL tokens, and empty-string
    tokens concatenate identically).
    """
    toks = df.select(
        F.col(id_col).alias("id"), F.split(F.col("text"), TOKEN_SPLIT).alias("_toks")
    )
    m = f"size(_toks) - {n - 1}"  # shingle count when size >= n
    acc = f"slice(_toks, 1, {m})"
    for j in range(1, n):
        acc = (
            f"zip_with({acc}, slice(_toks, {j + 1}, {m}), "
            "(a, b) -> concat(a, ' ', b))"
        )
    sh = F.expr(
        f"CASE WHEN size(_toks) >= {n} THEN array_distinct({acc}) "
        f"ELSE CAST(array() AS array<string>) END"
    )
    return toks.select("id", F.explode(sh).alias("shingle"))


def ngram_jaccard_pairs(
    df: DataFrame, n: int = 3, threshold: float = 0.05,
    max_df: int | None = None,
) -> DataFrame:
    """Exact Jaccard over word n-gram shingle sets for every pair of
    docs sharing >= 1 (non-stop) shingle.  Output: (doc_a, doc_b,
    n_inter, n_union, jaccard) with doc_a < doc_b.

    ``max_df``: stop-shingle document-frequency cap (see
    :func:`shingles`) — the capped shingles are excluded from the
    intersection AND the per-doc sizes, so ``jaccard`` is the exact
    Jaccard of the *capped* shingle sets.  Always set this on a real
    crawl corpus; the unbounded default is exact-small-corpus semantics.

    Cache lifecycle: the PRE-cap shingle base feeds four consumers (the
    df-cap's count side, then sizes + the two pair-join sides through
    the cap's broadcast anti-join), so it is cached and EAGERLY
    populated before the consumers run, consumed by the eager result
    materialization (localCheckpoint), and unpersisted BEFORE return —
    its useful life ends here, and a leaked cache entry is executor
    memory a 100 TB job never gets back (same lifecycle class as the
    round-4 knn fix).  Caching BELOW the cap (r6) means the explode
    runs once instead of once per cap side; the per-consumer anti-join
    replay is a broadcast hash probe over the cached rows, which is
    cheap.  Eager-not-lazy is deliberate and measured: consumers racing
    a cold cache re-run the expensive shingle derivation concurrently
    (lazy variant measured 2-5x slower at bench scale — same mechanism
    as the r2/r3 flagship cache-race variance); the eager count costs
    one extra job barrier, which is the cheaper side of that trade.
    """
    base = _shingle_base(df, n).persist()
    base.count()  # eager populate: cold-cache consumers race (see above)
    sh = base if max_df is None else _apply_df_cap(base, max_df)
    sizes = sh.groupBy("id").agg(F.count("*").alias("n_sh"))
    a = sh.withColumnRenamed("id", "doc_a")
    b = sh.withColumnRenamed("id", "doc_b")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_inter"))
    )
    out = (
        inter.join(sizes.withColumnRenamed("id", "doc_a")
                   .withColumnRenamed("n_sh", "sa"), "doc_a")
        .join(sizes.withColumnRenamed("id", "doc_b")
              .withColumnRenamed("n_sh", "sb"), "doc_b")
        .withColumn("n_union", F.col("sa") + F.col("sb") - F.col("n_inter"))
        .withColumn(
            "jaccard",
            F.col("n_inter").cast("double") / F.col("n_union"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "n_inter", "n_union", "jaccard")
    )
    out = out.localCheckpoint(eager=True)  # pair set: bounded by the cap
    base.unpersist()
    return out


def packed_signatures(sh: DataFrame, k: int) -> DataFrame:
    """One row per doc with the k minwise hashes as columns m0..m{k-1}
    — the round-5 packed plan shape: k conditional-MIN aggregate
    columns of a single groupBy(id) over the (id, shingle) rows.
    Shared by :func:`minhash_lsh_pairs` and the bench_extra stage-split
    harness (r6 review item: the harness previously copy-pasted this
    subtree and would silently measure a stale shape after a library
    change)."""
    hashes = [
        F.md5(F.concat(F.lit(f"{s}|"), F.col("shingle"))).alias(f"h{s}")
        for s in range(k)
    ]
    return (
        sh.select("id", *hashes)
        .groupBy("id")
        .agg(*[F.min(f"h{s}").alias(f"m{s}") for s in range(k)])
    )


def minhash_lsh_pairs(
    df: DataFrame, k: int = 8, band_size: int = 2, n: int = 3,
    max_df: int | None = None,
) -> DataFrame:
    """Candidate near-dup pairs sharing >= 1 LSH band, with their
    estimated similarity (fraction of matching minhashes).
    Output: (doc_a, doc_b, n_match, est_sim).

    ``max_df``: stop-shingle cap applied to the shingle set the
    signatures are computed over (see :func:`shingles`) — without it a
    boilerplate shingle both inflates the signature build shuffle and
    makes every boilerplate-dominated doc collide in the bands.

    Banding math (k minhashes, bands of ``band_size``): a pair with
    true Jaccard s collides with probability 1-(1-s^band_size)^(k/band_size);
    the band KEY here is the full (seed:minhash) concatenation, so a
    band collision is genuine signature agreement, never hash aliasing.
    Candidate volume is driven by the dup structure itself (docs
    agreeing on band_size consecutive minwise hashes), not by a fixed
    bucket count — there is no 2^width ceiling to outgrow, so the knob
    to raise on a bigger corpus is ``band_size`` (stricter bands =>
    fewer accidental candidates), not a bucket width.

    Plan shape (round 5): the k minwise hashes are k CONDITIONAL-MIN
    AGGREGATE COLUMNS of a single groupBy(id) over the shingle rows —
    one row per doc, one shuffle keyed on id (the seed-exploded
    (id, seed)-keyed shuffle and the two seed-level verify joins of
    the previous shape are gone; same trick as the SimHash vote fold).
    Band keys are column slices of that row.  Verify-in-join (late r6,
    same move as :func:`simhash_hamming_pairs`): the band rows carry
    all k signature columns, so ``n_match`` is a codegen sum of k
    equality terms ON the joined row — the two post-distinct verify
    joins are gone and the pair ``distinct`` runs over the final
    4-column output (n_match/est_sim are functionally determined by
    the pair, so the distinct set is unchanged).  The band shuffle
    widens by k BIGINTs per row on each side — corpus-sized band rows,
    not pair-sized.

    Cache lifecycle (two nested, both closed before return): the
    PRE-cap shingle base is cached so the df-cap's count side and the
    signature build share one explode (r6; the uncached variant re-ran
    the derivation per side), and is unpersisted as soon as ``packed``
    is materialized.  The packed signature table feeds both sides of
    the band self-join — cached and EAGERLY populated (a lazy cache
    lets the consumers race and re-run the whole signature subtree
    concurrently: measured 4-5x slower at bench scale), consumed by
    the eager result materialization, unpersisted before return.
    """
    base = _shingle_base(df, n).persist()
    base.count()  # eager populate: the cap's two sides race a cold cache
    sh = base if max_df is None else _apply_df_cap(base, max_df)
    packed = packed_signatures(sh, k).cache()
    packed.count()  # eager populate: cold-cache consumers race (see above)
    base.unpersist()  # signature build consumed it; bands read `packed`
    n_bands = (k + band_size - 1) // band_size
    band_structs = [
        F.struct(
            F.lit(t).alias("band"),
            F.concat_ws("#", *[
                F.concat_ws(":", F.lit(str(s)), F.col(f"m{s}"))
                for s in range(t * band_size, min((t + 1) * band_size, k))
            ]).alias("band_key"),
        )
        for t in range(n_bands)
    ]
    bands = packed.select(
        "id", *[f"m{s}" for s in range(k)],
        F.explode(F.array(*band_structs)).alias("b"),
    ).select("id", *[f"m{s}" for s in range(k)], "b.band", "b.band_key")
    a = bands.select(
        F.col("id").alias("doc_a"),
        *[F.col(f"m{s}").alias(f"ma{s}") for s in range(k)],
        "band", "band_key",
    )
    b = bands.select(
        F.col("id").alias("doc_b"),
        *[F.col(f"m{s}").alias(f"mb{s}") for s in range(k)],
        "band", "band_key",
    )
    n_match = sum(
        F.when(F.col(f"ma{s}") == F.col(f"mb{s}"), 1).otherwise(0)
        for s in range(k)
    )
    out = (
        a.join(b, ["band", "band_key"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            n_match.cast("bigint").alias("n_match"),
            (n_match.cast("double") / k).alias("est_sim"),
        )
        .distinct()
    )
    out = out.localCheckpoint(eager=True)
    packed.unpersist()
    return out


def passage_dedup(df: DataFrame, chunk: int = 8) -> DataFrame:
    """Passage-level exact dedup: the boilerplate/template detector.

    Each doc's token stream is cut into consecutive ``chunk``-token
    windows (stride = chunk, partial tail dropped); each window is
    fingerprinted (md5 over the space-joined tokens) and fingerprints
    occurring more than once are reported with their spread.  This is
    the exact-substring dedup pass of the training-data literature
    (Lee et al., "Deduplicating Training Data Makes Language Models
    Better") re-expressed in the shuffle-friendly aligned-chunk shape:
    one explode + one partial-agg groupBy on the 16-byte digest — no
    suffix array, no cross-doc comparison, scale-safe at 10^12 docs.

    Output: (chunk_hash, n_docs, n_occurrences, canonical_doc_id).
    """
    toks = F.split(F.col("text"), " ")
    n_chunks = F.floor(F.size(toks) / chunk).cast("int")
    # guard: sequence(0, -1) yields a DESCENDING sequence on Spark, so
    # chunkless docs must map to an empty array, not sequence()
    hashes = F.when(
        n_chunks > 0,
        F.transform(
            F.sequence(F.lit(0), n_chunks - 1),
            lambda i: F.md5(F.concat_ws(" ", F.slice(toks, i * chunk + 1, chunk))),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        df.select("doc_id", F.explode(hashes).alias("chunk_hash"))
        .groupBy("chunk_hash")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count("*").alias("n_occurrences"),
            F.min("doc_id").alias("canonical_doc_id"),
        )
        .filter(F.col("n_occurrences") > 1)
    )


# Largest pair set labeled on the driver: ~16 MB of Arrow there.  At 1M
# pairs on local[4], the call plus a count took 5.6 s on a random graph
# and 5.0 s on a 1M-node path with shuffled ids (numpy labeling 0.5 and
# 0.8 s of it), against 77 s and 151 s for the shuffle loop, which needs
# dozens of jobs even for a handful of pairs.
_DRIVER_MAX_PAIRS = 1 << 20


def connected_components_star(
    pairs: DataFrame, max_rounds: int = 30
) -> DataFrame:
    """Near-dup cluster assignment: (doc_id, cluster_id, n_members) for
    every non-NULL doc appearing in a candidate pair, where
    ``cluster_id`` is the minimum doc_id of the connected component —
    the canonical-doc step every dedup pipeline runs after pair
    generation (keep cluster_id, drop the rest).  ``doc_id`` and
    ``cluster_id`` have the type of ``pairs.doc_a``; a pair with a NULL
    side contributes only its non-NULL side, as a node.

    Size gate: ONE limited pass reads at most ``_DRIVER_MAX_PAIRS + 1``
    pairs to the driver (the limit bounds driver residency, as in
    ``join.knn``'s brute branch).  When the whole pair set came back,
    the components are labeled there in one numpy pass and returned as
    a local relation: the shuffle loop below costs a few
    driver-synchronized jobs per round, which for the small pair sets
    near-dup search usually yields is almost all of the work.

    Larger pair sets run alternating large-star / small-star (Kiveris
    et al., "Connected Components in MapReduce and Beyond") — O(log n)
    rounds even on chain/path components where plain min-label
    propagation needs diameter rounds.  large-star: every node u links
    each *strictly larger* neighbor to m(u) = min(N(u) ∪ {u});
    small-star: every node u links each neighbor <= u (and itself) to
    m(u).  Both operations preserve connectivity exactly; iterating them
    contracts every component to a star centered on its minimum.

    Each star step is shuffle-based: m(u) comes from a plain
    ``groupBy(u).min(v)`` (partial-agg friendly) joined back onto the
    edge set — the per-node neighborhood is never materialized into a
    single row (a ``collect_set`` neighborhood for a crawl-scale hub
    node is exactly the row that blows single-row / 2 GB array limits,
    defeating the point of large-star).  Shuffles are sized by the
    current edge set.
    """
    head = pairs.select("doc_a", "doc_b").limit(_DRIVER_MAX_PAIRS + 1).toArrow()
    if head.num_rows <= _DRIVER_MAX_PAIRS:
        return _driver_components(pairs, head)

    e = pairs.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
    nodes = (
        e.select(F.col("u").alias("doc_id"))
        .unionByName(e.select(F.col("v").alias("doc_id")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # undirected edge set, kept as u < v canonical rows
    edges = (
        e.select(F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )

    def _star(edges: DataFrame, large: bool) -> DataFrame:
        both = edges.unionByName(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        # m(u) = min(N(u) ∪ {u}): min-agg + join, never a per-node set
        mins = (
            both.groupBy("u")
            .agg(F.min("v").alias("_nbr_min"))
            .select("u", F.least("_nbr_min", "u").alias("m"))
        )
        if large:
            # link each strictly-larger neighbor to m(u); m(u) <= u < v
            targets = both.filter(F.col("v") > F.col("u"))
        else:
            # link each neighbor <= u, and u itself, to m(u)
            targets = both.filter(F.col("v") <= F.col("u")).unionByName(
                mins.select("u", F.col("u").alias("v"))
            )
        return (
            targets.join(mins, "u")
            .filter(F.col("m") != F.col("v"))
            .select(
                F.least("m", "v").alias("u"), F.greatest("m", "v").alias("v")
            )
            .distinct()
        )

    n_edges = edges.count()
    for _ in range(max_rounds):
        edges2 = _star(_star(edges, large=True), large=False).localCheckpoint(
            eager=True
        )
        # converged when every edge points at a component min: the edge
        # set is then a star forest and one more pass is a fixpoint.
        # Both sides are DISTINCT edge sets, so equal cardinality plus
        # one empty set-difference proves equality — the count is a
        # near-free scan of the fresh checkpoint, and it short-circuits
        # the exceptAll on every non-converged round (r6; the former
        # shape ran TWO exceptAll shuffles per round unconditionally).
        n2 = edges2.count()
        converged = (
            n2 == n_edges
            and edges2.exceptAll(edges).limit(1).count() == 0
        )
        edges, n_edges = edges2, n2
        if converged:
            break
    else:
        raise RuntimeError(f"not converged after {max_rounds} rounds")

    labels = (
        nodes.join(
            edges.select(F.col("v").alias("doc_id"), F.col("u").alias("label")),
            "doc_id",
            "left",
        )
        .select(
            "doc_id", F.coalesce("label", F.col("doc_id")).alias("label")
        )
    )
    sizes = labels.groupBy("label").agg(F.count("*").alias("n_members"))
    return labels.join(sizes, "label").select(
        "doc_id", F.col("label").alias("cluster_id"), "n_members"
    )


def _driver_components(pairs: DataFrame, head: pa.Table) -> DataFrame:
    """:func:`connected_components_star` over a pair set already on the
    driver: dense ids, then hook every root onto its smallest neighbor
    root and pointer-jump to a star forest, until no edge joins two
    roots.  Roots only ever move to smaller indices, so each component
    ends on its minimum id."""
    a, b = head.column("doc_a"), head.column("doc_b")
    # NULLs are dropped here, in Arrow: to_numpy() would turn them into NaN
    va = pc.is_valid(a).to_numpy()
    vb = pc.is_valid(b).to_numpy()
    ids, idx = np.unique(
        np.concatenate([pc.drop_null(a).to_numpy(), pc.drop_null(b).to_numpy()]),
        return_inverse=True,
    )
    n_a = va.sum()
    both = va & vb
    ia, ib = idx[:n_a][both[va]], idx[n_a:][both[vb]]
    label = np.arange(ids.size)
    while True:
        la, lb = label[ia], label[ib]
        cross = la != lb
        if not cross.any():
            break
        ia, ib = la[cross], lb[cross]
        np.minimum.at(label, np.maximum(ia, ib), np.minimum(ia, ib))
        while True:
            jumped = label[label]
            if np.array_equal(jumped, label):
                break
            label = jumped
    _, cluster, counts = np.unique(label, return_inverse=True, return_counts=True)
    id_type = pairs.schema["doc_a"].dataType
    schema = StructType([
        StructField("doc_id", id_type),
        StructField("cluster_id", id_type),
        StructField("n_members", LongType(), nullable=False),
    ])
    return pairs.sparkSession.createDataFrame(
        pa.table({
            "doc_id": pa.array(ids, type=a.type),
            "cluster_id": pa.array(ids[label], type=a.type),
            "n_members": pa.array(counts[cluster], type=pa.int64()),
        }),
        schema=schema,
    )


def simhash(df: DataFrame, bits: int = 64) -> DataFrame:
    """(doc_id, sim_hi, sim_lo): md5-bit majority vote over distinct
    tokens, split into two non-negative 32-bit halves.

    bit j of a token = bit (3 - j%4) of hex digit j//4 of md5(token);
    fingerprint bit j set iff the +1/-1 vote sum over tokens is > 0.
    Two BIGINT halves (hi = bits 32..63, lo = bits 0..31) keep every
    shift < 32, so neither engine hits signed-shift/overflow semantics
    at the full 64-bit default (1<<63 overflows DuckDB BIGINT and goes
    negative in Spark).  64 bits is the scale default: 16-bit
    fingerprints give only 65k distinct buckets — useless at billions
    of docs.  Pure string/arithmetic ops — engine-portable."""
    assert 1 <= bits <= 64
    # r6 (guide §4.2): one vectorized Arrow pass replaces the former
    # explode -> distinct -> 64-conditional-sum groupBy — the per-row
    # hex-split transform ran interpreted and the 64 aggregate columns
    # dominated the query (isolated: 3.5 s at sf1.0, ~0.5 s here).
    # Semantics are bit-identical: Python str.split(" ") == Spark
    # split(text, ' ') (both keep empty tokens incl. trailing),
    # hashlib md5 over UTF-8 == F.md5 over a string column, and the
    # vote/threshold arithmetic is plain ints.  The token->bitmask
    # memo is PER TASK (closure-local, rebuilt every run — no
    # cross-run state): tokens repeat heavily across docs, so most
    # md5 calls are dict hits.  The former zero-exchange property is
    # kept — this is a pure map, there is no shuffle at all.
    def fp(batches):
        import hashlib

        import numpy as np
        import pyarrow as pa

        memo = {}
        w = 4 * ((bits + 3) // 4)  # bit width of the used hex prefix
        # uint64 shift domain: the 16-hex-digit prefix can exceed 2^63
        shifts = np.arange(w - 1, w - 1 - bits, -1).astype(np.uint64)
        lo_w = np.zeros(bits, dtype=np.int64)
        hi_w = np.zeros(bits, dtype=np.int64)
        lo_w[: min(bits, 32)] = 1 << np.arange(
            min(bits, 32), dtype=np.int64)
        if bits > 32:
            hi_w[32:bits] = 1 << np.arange(bits - 32, dtype=np.int64)

        def tok_bits(t):
            b = memo.get(t)
            if b is None:
                h = hashlib.md5(t.encode("utf-8")).hexdigest()
                v = np.uint64(int(h[: (bits + 3) // 4], 16))
                # bit j of token = bit (3 - j%4) of hex digit j//4
                # == bit (w-1-j) of the hex-prefix integer v
                b = (
                    ((v >> shifts) & np.uint64(1)).astype(np.int64) * 2 - 1
                )
                memo[t] = b
            return b

        for batch in batches:
            if batch.num_rows == 0:
                continue
            doc_ids = batch.column("doc_id").to_pylist()
            texts = batch.column("text").to_pylist()
            his = np.zeros(len(doc_ids), dtype=np.int64)
            los = np.zeros(len(doc_ids), dtype=np.int64)
            keep = np.ones(len(doc_ids), dtype=bool)
            for i, text in enumerate(texts):
                if text is None:
                    # match the former JVM shape: split(NULL) -> NULL,
                    # explode(NULL) drops the row — a NULL-text doc is
                    # simply absent from the output, never an error
                    keep[i] = False
                    continue
                votes = np.zeros(bits, dtype=np.int64)
                for t in set(text.split(TOKEN_SPLIT)):
                    votes += tok_bits(t)
                pos = votes > 0
                los[i] = int((lo_w * pos).sum())
                his[i] = int((hi_w * pos).sum())
            yield pa.record_batch({
                "doc_id": pa.array(
                    np.asarray(doc_ids, dtype=np.int64)[keep]),
                "sim_hi": pa.array(his[keep]),
                "sim_lo": pa.array(los[keep]),
            })

    return df.select("doc_id", "text").mapInArrow(
        fp, "doc_id long, sim_hi long, sim_lo long"
    )


def simhash_hamming_pairs(sh: DataFrame, max_hamming: int = 2) -> DataFrame:
    """Near-dup pairs with hamming(fingerprint) <= max_hamming, as a
    banded EQUI-join — never an all-pairs theta join.

    Pigeonhole: the 64 bits are cut into 4 contiguous 16-bit bands; at
    most ``max_hamming`` (<= 3) bands can contain a differing bit, so
    every qualifying pair agrees exactly on >= 1 band.  Candidate
    generation = explode to (band_idx, band_bits) + hash equi-join.
    Result set is provably identical to the all-pairs scan.

    Verify-in-join (late r6, guide §2.3/§2.4): the band rows carry BOTH
    fingerprint halves, so the exact XOR+popcount hamming runs in
    codegen directly on the joined row and non-pairs die in a filter
    BEFORE any further exchange.  The former shape shuffled the FULL
    candidate set into a pair ``distinct`` (cross-band duplicates live
    in different band-keyed partitions, so partial agg cannot merge
    them: measured 131M candidate rows -> 119.6M-row distinct exchange
    at sf1.0 against 1.19M true pairs) and then re-attached fingerprints
    with two more joins.  Now the distinct input is <= 4x the true pair
    count and both verify joins are gone; ``hamming`` is functionally
    determined by the pair, so distinct over the triple equals the old
    pair-distinct.  The band join's shuffle grows by two BIGINTs per
    row on each side (band rows are corpus-sized, not pair-sized) — a
    fixed +16 bytes/row for dropping the pair-sized exchange.

    Cache lifecycle: the input fingerprint subtree feeds both join
    sides, so an input the caller has not persisted is cached eagerly
    here and unpersisted after the eager result checkpoint; a
    caller-persisted input keeps its cache entry.

    Input: (doc_id, sim_hi, sim_lo).  Output: (doc_a, doc_b, hamming).
    """
    assert max_hamming <= 3, "4 fixed bands guarantee recall only to 3"
    owned = sh.storageLevel == StorageLevel.NONE
    if owned:
        sh.cache().count()  # eager populate: cold-cache consumers race
    mask = F.lit(0xFFFF).cast("bigint")
    bands = sh.select(
        "doc_id", "sim_hi", "sim_lo",
        F.explode(
            F.array(
                F.struct(F.lit(0).alias("band_idx"),
                         F.shiftright("sim_hi", 16).alias("band_bits")),
                F.struct(F.lit(1).alias("band_idx"),
                         F.col("sim_hi").bitwiseAND(mask).alias("band_bits")),
                F.struct(F.lit(2).alias("band_idx"),
                         F.shiftright("sim_lo", 16).alias("band_bits")),
                F.struct(F.lit(3).alias("band_idx"),
                         F.col("sim_lo").bitwiseAND(mask).alias("band_bits")),
            )
        ).alias("b"),
    ).select("doc_id", "sim_hi", "sim_lo", "b.band_idx", "b.band_bits")
    a = bands.select(F.col("doc_id").alias("doc_a"),
                     F.col("sim_hi").alias("ha_hi"),
                     F.col("sim_lo").alias("ha_lo"),
                     "band_idx", "band_bits")
    b = bands.select(F.col("doc_id").alias("doc_b"),
                     F.col("sim_hi").alias("hb_hi"),
                     F.col("sim_lo").alias("hb_lo"),
                     "band_idx", "band_bits")
    ham = (
        F.bit_count(F.col("ha_hi").bitwiseXOR(F.col("hb_hi")))
        + F.bit_count(F.col("ha_lo").bitwiseXOR(F.col("hb_lo")))
    )
    out = (
        a.join(b, ["band_idx", "band_bits"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .withColumn("hamming", ham.cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
        .distinct()
    )
    out = out.localCheckpoint(eager=True)  # pair set: band-bounded
    if owned:
        sh.unpersist()
    return out
