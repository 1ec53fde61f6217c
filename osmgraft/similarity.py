"""Similarity search over embedding columns.

* brute-force top-k (exact baseline) — quantized integer dot products
  for deterministic cross-engine ranking (see queries.ann_topk);
* random-hyperplane LSH bucketing — the scale path: each vector hashes
  to a small bucket key; candidate generation is an equi-join on the
  bucket, turning the O(n^2) similarity scan into a bucketed join
  (IVF-style).  Hyperplanes are deterministic integer lattices so both
  engines agree bit-for-bit.
* float cosine top-k via F.aggregate/zip_with (JVM-side fold) for the
  production path where cross-engine bit-equality is not required.

Every kernel that scores the corpus against a small vector set (IVF
centroids, k-means|| centers, ann_topk's queries, the exact near-dup
baseline's whole corpus) reads that set to the driver once with
:func:`_driver_matrix` and streams the corpus through one
:func:`_driver_scan`.  Centers live on the driver between rounds as a
numpy ``(cids, C)`` pair; no round re-derives an earlier one.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, Window, functions as F

DIM = 64
N_PLANES = 8


def quantized(df: DataFrame) -> DataFrame:
    """``embedding`` array<float> -> ``qvec`` array<bigint> at 1e3 scale
    (exact cross-engine)."""
    q = F.transform(
        "embedding", lambda x: F.round(x.cast("double") * 1000).cast("bigint")
    )
    return df.withColumn("qvec", q)


class VectorShapeError(ValueError):
    """A NULL vector, a NULL component or vectors of unequal length in
    one Arrow batch of an embedding column."""


def vector_matrix(vecs, dtype):
    """A ``list<number>`` Arrow column as an ``(rows, dim)`` numpy
    matrix of ``dtype``.  Raises :class:`VectorShapeError` on a NULL
    vector or component and on rows of unequal length: a flat reshape
    would fail with a bare numpy shape error, or, when the lengths sum
    to a multiple of the row count, misalign rows and vectors
    silently."""
    if isinstance(vecs, pa.ChunkedArray):
        vecs = vecs.combine_chunks()
    flat = vecs.flatten()
    if vecs.null_count or flat.null_count:
        raise VectorShapeError(
            f"NULL vector in an embedding column: {vecs.null_count} NULL "
            f"rows, {flat.null_count} NULL components in {len(vecs)} rows"
        )
    lens = pc.list_value_length(vecs).to_numpy(zero_copy_only=False)
    dim = int(lens[0]) if len(lens) else 0
    if (lens != dim).any():
        raise VectorShapeError(
            f"vectors of unequal length in one batch: "
            f"{sorted(set(lens.tolist()))[:5]}"
        )
    flat = flat.to_numpy(zero_copy_only=False)
    return flat.reshape(len(vecs), dim).astype(dtype)


def int_matmul_exact_np(A, Bt, as_int=True):
    """Exact int64 matrix product A @ Bt.T for quantized vectors.

    numpy int64 matmul is a naive non-BLAS loop (measured ~20x slower
    than dgemm at bucket scale); when every partial sum provably fits
    float64's exact-integer range (max|A| * max|B| * dim < 2^53) the
    product runs through BLAS in float64 — float64 addition of
    integers below 2^53 is error-free, so the result is EXACT, not
    approximate.  ``as_int=False`` skips the (measured ~12 ms / 4M
    elements) float->int64 conversion and returns the float64 matrix
    of exact integer values — callers convert only what they select.
    Falls back to the int64 loop for inputs outside the 2^53 range
    (unreachable for e3-quantized embeddings, but the guard keeps the
    function total; that path always returns int64).
    """
    amax = int(np.abs(A).max(initial=0))
    bmax = int(np.abs(Bt).max(initial=0))
    dim = A.shape[1] if A.ndim == 2 else len(A)
    if amax * bmax * max(dim, 1) < (1 << 53):
        Df = A.astype(np.float64) @ Bt.astype(np.float64).T
        return Df.astype(np.int64) if as_int else Df
    return A @ Bt.T


def quantize_e3_np(m):
    """numpy equivalent of :func:`quantized` (r6): exact
    round-half-away-from-zero of ``m * 1000`` into int64.

    ``floor(a) + (a - floor(a) >= 0.5)`` on the absolute value is
    exact in float64 (the fractional subtraction below 2^53 is
    error-free), and round-half-away on the *binary* double value is
    provably identical to the JVM/DuckDB ``round(double)`` decimal
    path: the shortest-round-trip decimal rendering both engines
    round preserves ordering against the exactly-representable x.5
    boundary, and at the boundary every engine rounds away from
    zero.  A pytest pins element-wise equality vs the JVM expression
    over the shipped corpora and adversarial boundary values."""
    a = np.abs(m) * 1000.0
    fl = np.floor(a)
    return (np.sign(m) * (fl + (a - fl >= 0.5))).astype(np.int64)


class VectorSetSizeError(ValueError):
    """A vector set read to the driver that is empty or holds more than
    ``_DRIVER_MAX_VECTORS`` vectors."""


# Largest vector set read to the driver and broadcast: 16 MB of int64 at
# dim 64, above dedup_embedding_cosine_exact's whole corpus at sf1.0
# (20k vectors).
_DRIVER_MAX_VECTORS = 1 << 15
# Largest block of dots one emit call receives: 32 MB of int64.
_DOT_BLOCK = 4_000_000


def _driver_matrix(df: DataFrame, what: str, empty_ok: bool = False):
    """``(ids, M)`` of a bounded vector set read to the driver with one
    ``limit().toArrow()``: its ``vec_id`` values ascending and the
    matching e3-quantized int64 matrix.  Raises
    :class:`VectorSetSizeError` when the set holds more than
    ``_DRIVER_MAX_VECTORS`` vectors or, unless ``empty_ok``, none, and
    :class:`VectorShapeError` on a NULL vector."""
    t = df.select("vec_id", "embedding").limit(_DRIVER_MAX_VECTORS + 1).toArrow()
    if t.num_rows > _DRIVER_MAX_VECTORS:
        raise VectorSetSizeError(
            f"{what} holds more than {_DRIVER_MAX_VECTORS} vectors, "
            f"too many to read to the driver"
        )
    if t.num_rows == 0 and not empty_ok:
        raise VectorSetSizeError(f"empty {what}: no vectors to score against")
    t = t.sort_by("vec_id")
    ids = t.column("vec_id").to_numpy().astype(np.int64)
    return ids, quantize_e3_np(vector_matrix(t.column("embedding"), np.float64))


def _driver_scan(df: DataFrame, ids_matrix, make_emit, schema: str) -> DataFrame:
    """Stream ``df``'s (vec_id, embedding) rows against a driver vector
    set ``(ids, C)`` from :func:`_driver_matrix`, broadcast once.  Each
    Arrow batch is quantized like ``C`` and cut into row blocks of at
    most ``_DOT_BLOCK`` dots.  ``make_emit(ids, C)`` runs once per task
    and returns ``emit(batch, M, D)``, which gets each block's rows, their
    quantized matrix and the exact dots ``D = M @ C.T``
    (:func:`int_matmul_exact_np`) and returns one record batch of
    ``schema``.  An empty set emits nothing."""
    bc = df.sparkSession.sparkContext.broadcast(ids_matrix)

    def run(batches):
        ids, C = bc.value
        if not len(ids):
            return
        emit = make_emit(ids, C)
        rows = max(1, _DOT_BLOCK // len(ids))
        for b in batches:
            for s in range(0, b.num_rows, rows):
                part = b.slice(s, rows)
                M = quantize_e3_np(vector_matrix(part.column("embedding"), np.float64))
                yield emit(part, M, int_matmul_exact_np(M, C))

    return df.select("vec_id", "embedding").mapInArrow(run, schema)


def _argmax_emit(cids, C):
    """(vec_id, centroid_id) of the largest dot; ``cids`` ascending, so
    ties go to the lowest id."""
    def emit(b, M, D):
        return pa.record_batch({
            "vec_id": b.column("vec_id").cast(pa.int64()),
            "centroid_id": pa.array(cids[np.argmax(D, axis=1)]),
        })
    return emit


def _argmin_emit(cids, C):
    """(vec_id, centroid_id) of the least squared distance
    ``|m|^2 + |c|^2 - 2 m.c`` (exact int64), ties to the lowest id."""
    nc = (C * C).sum(axis=1)

    def emit(b, M, D):
        d2 = (M * M).sum(axis=1)[:, None] + nc - 2 * D
        return pa.record_batch({
            "vec_id": b.column("vec_id").cast(pa.int64()),
            "centroid_id": pa.array(cids[np.argmin(d2, axis=1)]),
        })
    return emit


def _plane_coeff(i: int, d: int) -> int:
    return ((i * 1009 + d * 9176) % 97) - 48


def lsh_buckets(df: DataFrame) -> DataFrame:
    """(vec_id, bucket): sign pattern of N_PLANES deterministic integer
    hyperplanes over the quantized embedding (plane p sets bit p) — the
    one-band case of :func:`lsh_band_buckets`."""
    return lsh_band_buckets(df, 1, N_PLANES).select("vec_id", "bucket")


def lsh_band_buckets(
    df: DataFrame, n_bands: int = 4, planes_per_band: int = 8
) -> DataFrame:
    """(vec_id, band_idx, bucket): multi-band hyperplane LSH.

    Band t's bucket is the sign pattern of planes
    t*planes_per_band .. t*planes_per_band + planes_per_band - 1;
    a pair is a candidate iff it agrees on >= 1 whole band.  More bands
    of fewer planes => higher recall at higher candidate volume — the
    standard banding trade-off, tuned per corpus.

    SIZING ``planes_per_band`` (p) BY CORPUS SIZE n — a band has 2^p
    buckets, so under a uniform spread the expected candidate volume is
    ~n^2/2^(p+1) PER BAND: a fixed p is a ceiling the corpus outgrows
    quadratically.  To hold candidates to ~c*n per band pick
    p >= log2(n / (2c)); e.g. c=16: n=10^3 -> p>=5, n=10^6 -> p>=15,
    n=10^9 -> p>=25 (each plane is one more sign bit — cost is one
    64-dim integer dot per plane per vector, so raising p is scan CPU,
    never shuffle).  Recall lost to stricter bands is bought back with
    ``n_bands`` (volume is linear in n_bands, recall 1-(1-s^p)^b).
    The default p=8 (256 buckets/band) is sized for ~10^4-vector
    corpora; :func:`embedding_near_dup_pairs` refuses to run with a
    mis-sized width (see its ``max_cand_per_vec`` guard)."""
    qdf = quantized(df)
    rows = []
    for t in range(n_bands):
        bucket = F.lit(0)
        for p in range(planes_per_band):
            i = t * planes_per_band + p
            coeffs = F.array(*[F.lit(_plane_coeff(i, d)) for d in range(DIM)])
            dot = F.aggregate(
                F.zip_with("qvec", coeffs, lambda a, b: a * b),
                F.lit(0).cast("bigint"),
                lambda acc, x: acc + x,
            )
            bucket = bucket + F.when(dot > 0, F.lit(1 << p)).otherwise(0)
        rows.append(
            F.struct(
                F.lit(t).alias("band_idx"), bucket.cast("int").alias("bucket")
            )
        )
    return qdf.select(
        "vec_id", F.explode(F.array(*rows)).alias("b")
    ).select("vec_id", "b.band_idx", "b.bucket")


def lsh_banded_candidate_pairs(
    df: DataFrame, n_bands: int = 4, planes_per_band: int = 8
) -> DataFrame:
    """Distinct candidate pairs (vec_a < vec_b) sharing >= 1 LSH band —
    an equi-join on (band_idx, bucket), never an all-pairs scan."""
    b = lsh_band_buckets(df, n_bands, planes_per_band)
    a = b.select(F.col("vec_id").alias("vec_a"), "band_idx", "bucket")
    c = b.select(F.col("vec_id").alias("vec_b"), "band_idx", "bucket")
    return (
        a.join(c, ["band_idx", "bucket"])
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b")
        .distinct()
    )


def _ivf_bucket_topk_np(
    df: DataFrame, k: int, n_centroids: int, nprobe: int, cosine: bool
) -> DataFrame:
    """Shared vectorized engine behind :func:`ivf_topk`,
    :func:`ivf_topk_multiprobe` and :func:`cosine_topk_ivf` (r6, guide
    §4.2 / §2.5): the former JVM shape scored every within-bucket
    candidate pair with an interpreted ``zip_with``+``aggregate``
    64-step fold — O(bucket_size^2) rows each paying a non-codegen
    lambda chain, which at sf1.0 (20k vectors, first-8 centroids
    degenerate into ONE bucket) ran for ~40 minutes inside the single
    task the 8-key equi-join allows.  Shape here:

    1. one Arrow pass assigns each vector its ``nprobe`` nearest
       centroids (BLAS-exact numpy matmul against the collected,
       cid-sorted centroid matrix; ties by cid via stable argsort over
       cid-ascending columns);
    2. query rows are SALTED across ``n_salts`` sub-groups per bucket
       and index rows replicated into each (guide §2.5 skew salting —
       results exact: query rows partition disjointly, every sub-group
       sees the full index side).  ``n_salts`` is derived from
       cores/n_centroids, so a production-sized codebook
       (n_centroids >= cores) gets n_salts=1 and NO replication;
    3. one ``applyInPandas`` per (bucket, salt) computes the pair dots
       as a row-chunked BLAS float64 product — EXACT for e3-quantized
       vectors because every partial sum stays below 2^53
       (:func:`int_matmul_exact_np`) — and emits only the per-query
       top-k.

    Same bucket-pair candidate set, same exact integer ordering keys,
    same tie-breaks — results identical (DuckDB parity pins it); the
    quadratic intermediate never materializes as rows.

    Exact integer keys: plain dots fit int64 directly; the cosine key
    ``sign(dot) * ((dot^2 * 1e6) div nb)`` is computed WITHOUT an
    int128 intermediate via divmod — ``dot^2 = q*nb + r`` gives
    ``(dot^2 * 1e6) div nb = q*1e6 + (r*1e6) div nb``, and by
    Cauchy-Schwarz ``q <= na``, so every term stays far below 2^63.
    """
    spark = df.sparkSession
    cents = _driver_matrix(
        df.filter(F.col("vec_id") < n_centroids),
        "centroid set (seed: the vec_ids below n_centroids)",
    )
    npb = min(nprobe, len(cents[0])) or 1

    # Salted scoring groups: a tiny codebook (the degenerate-by-design
    # first-n seeding) funnels the whole corpus into a handful of
    # buckets = a handful of tasks; spread QUERY rows over
    # ceil(cores / n_centroids) salts and replicate index rows into
    # each.  Production codebooks (n_centroids >= cores) get
    # n_salts = 1: the replication factor never scales with the
    # corpus, only with local idle-core count.  The assignment pass
    # emits probe AND replica-index rows in ONE sweep (r6 review fix:
    # a probe/index union over the uncached mapInArrow subtree ran
    # the whole assignment scan twice): per vector, npb probe rows
    # (the rn=1 row doubling as the index row of its own salt) plus
    # n_salts-1 index-only replicas.  The salt is an arbitrary
    # deterministic spread (Knuth multiplicative hash of vec_id) —
    # it only balances load, never changes results.
    par = spark.sparkContext.defaultParallelism
    n_salts = max(1, min(16, par // max(n_centroids, 1)))

    def assign_emit(cids, C):
        def emit(b, M, D):
            vids = b.column("vec_id").to_numpy(zero_copy_only=False)
            # normalize the passthrough to the declared array<double>
            # (the source column may be array<float>)
            emb = b.column("embedding").cast(pa.list_(pa.float64()))
            # (dot desc, cid asc): columns are cid-ascending, stable sort
            ordc = np.argsort(-D, axis=1, kind="stable")[:, :npb]
            n = len(vids)
            sv = (
                (vids.astype(np.uint64) * np.uint64(2654435761))
                >> np.uint64(16)
            ).astype(np.int64) % n_salts
            # probe rows: every (vector, rn<=npb); rn=1 also serves as
            # the index row of the vector's own salt group
            take = np.repeat(np.arange(n), npb)
            rn = np.tile(np.arange(1, npb + 1), n)
            cen = cids[ordc.ravel()]
            salt = np.repeat(sv, npb)
            is_probe = np.ones(n * npb, dtype=bool)
            is_index = rn == 1
            if n_salts > 1:
                # index-only replicas into the other n_salts-1 groups
                all_salt = np.tile(np.arange(n_salts, dtype=np.int64), n)
                rep_mask = all_salt != np.repeat(sv, n_salts)
                take2 = np.repeat(np.arange(n), n_salts)[rep_mask]
                take = np.concatenate([take, take2])
                rn = np.concatenate(
                    [rn, np.ones(len(take2), dtype=rn.dtype)])
                cen = np.concatenate([cen, cids[ordc[take2, 0]]])
                salt = np.concatenate([salt, all_salt[rep_mask]])
                is_probe = np.concatenate(
                    [is_probe, np.zeros(len(take2), dtype=bool)])
                is_index = np.concatenate(
                    [is_index, np.ones(len(take2), dtype=bool)])
            return pa.record_batch({
                "vec_id": pa.array(vids[take]),
                "embedding": emb.take(pa.array(take)),
                "centroid_id": pa.array(cen),
                "salt": pa.array(salt.astype(np.int32)),
                "is_probe": pa.array(is_probe),
                "is_index": pa.array(is_index),
            })
        return emit

    rows = _driver_scan(
        df, cents, assign_emit,
        "vec_id long, embedding array<double>, centroid_id long, "
        "salt int, is_probe boolean, is_index boolean",
    )

    if npb > 1:
        out_schema = "qid long, pid long, dot long"
    else:
        out_schema = "qid long, pid long, rank int" + (
            ", cosine double" if cosine else ""
        )

    def score(table):
        # applyInArrow: the Arrow list column flattens to one contiguous
        # numpy buffer (a per-row list conversion under applyInPandas
        # measured ~1 s per 25k-row group)
        import numpy as np
        import pyarrow as pa

        from osmgraft.similarity import int_matmul_exact_np as mm
        from osmgraft.similarity import quantize_e3_np as qz
        from osmgraft.similarity import vector_matrix as vm

        multi = npb > 1  # closure-captured alongside k/cosine
        cols = (
            {"qid": [], "pid": [], "dot": []}
            if multi
            else {"qid": [], "pid": [], "rank": []}
        )
        if cosine and not multi:
            cols["cosine"] = []
        if table.num_rows:
            vids = table.column("vec_id").to_numpy(zero_copy_only=False)
            M = qz(vm(table.column("embedding"), np.float64))
            pm = table.column("is_probe").to_numpy(zero_copy_only=False)
            im = table.column("is_index").to_numpy(zero_copy_only=False)
            Q, qids = M[pm], vids[pm]
            P, pids = M[im], vids[im]
            if len(P) and len(Q):
                n2p = (P * P).sum(axis=1) if cosine else None
                n2q = (Q * Q).sum(axis=1) if cosine else None
                # chunk the (queries x bucket) dot block to bound memory
                chunk = max(1, 4_000_000 // max(len(P), 1))
                for s in range(0, len(Q), chunk):
                    # float64 BLAS product; exact for e3 quantization
                    D = mm(Q[s:s + chunk], P, as_int=False)
                    for i in range(D.shape[0]):
                        g = s + i
                        d = D[i]
                        valid = pids != qids[g]
                        if not valid.any():
                            continue
                        dv, pv = d[valid], pids[valid]
                        if cosine:
                            mag = np.abs(dv).astype(np.int64)
                            d2 = mag * mag
                            nb = n2p[valid]
                            qd, rd = np.divmod(d2, nb)
                            km = qd * 1_000_000 + (rd * 1_000_000) // nb
                            kv = np.where(dv >= 0, km, -km)
                        else:
                            kv = dv
                        if len(kv) > k:
                            thr = np.partition(kv, len(kv) - k)[len(kv) - k]
                            cm_ = kv >= thr
                            kv2, pv2 = kv[cm_], pv[cm_]
                            dv2 = dv[cm_]
                            nb2 = nb[cm_] if cosine else None
                        else:
                            kv2, pv2, dv2 = kv, pv, dv
                            nb2 = nb if cosine else None
                        order = np.lexsort((pv2, -kv2))[:k]
                        m = len(order)
                        cols["qid"].extend([int(qids[g])] * m)
                        cols["pid"].extend(pv2[order].tolist())
                        if multi:
                            cols["dot"].extend(
                                dv2[order].astype(np.int64).tolist())
                        else:
                            cols["rank"].extend(range(1, m + 1))
                            if cosine:
                                cols["cosine"].extend((
                                    dv2[order].astype(np.float64)
                                    / np.sqrt((n2q[g] * nb2[order])
                                              .astype(np.float64))
                                ).tolist())
        out = {"qid": pa.array(cols["qid"], type=pa.int64()),
               "pid": pa.array(cols["pid"], type=pa.int64())}
        if multi:
            out["dot"] = pa.array(cols["dot"], type=pa.int64())
        else:
            out["rank"] = pa.array(cols["rank"], type=pa.int32())
            if cosine:
                out["cosine"] = pa.array(cols["cosine"], type=pa.float64())
        return pa.table(out)

    scored = rows.groupBy("centroid_id", "salt").applyInArrow(
        score, out_schema
    )
    if npb == 1:
        return scored
    w = Window.partitionBy("qid").orderBy(
        F.col("dot").desc(), F.col("pid").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "pid", F.col("rank").cast("int").alias("rank"))
    )



def ivf_topk(df: DataFrame, k: int = 5, n_centroids: int = 8) -> DataFrame:
    """IVF-bucketed approximate top-k: each query searches only its own
    centroid's bucket (nprobe=1).  The scale path: candidate generation
    is bucketed (never all-pairs); pair scoring and top-k selection run
    vectorized per bucket (see :func:`_ivf_bucket_topk_np`).
    Output: (qid, pid, rank) by quantized inner product."""
    return _ivf_bucket_topk_np(df, k, n_centroids, nprobe=1, cosine=False)


def ivf_train_assign(
    df: DataFrame, n_centroids: int = 8, iters: int = 1, seed: str = "first"
) -> DataFrame:
    """IVF with a *trained* codebook: ``iters`` deterministic Lloyd
    iterations over the quantized vectors, then the final assignment.

    ``seed="first"`` = first ``n_centroids`` vectors by vec_id (the
    seed-free deterministic choice; degenerates when the corpus is
    sorted/clustered by vec_id); ``seed="kmeans||"`` = the
    deterministic scalable-k-means++ oversampling seed
    (:func:`kmeans_parallel_seed` — distance-spread centers, the
    production default for clustered corpora); update = element-wise
    ``floor(sum(component) / count)`` per centroid — exact in both
    engines (sums stay under 2^53, floor-of-exact-double division);
    a centroid that attracts no vectors keeps its previous position.

    The centers live on the driver between rounds as a numpy
    ``(cids, C)`` pair.  Each iteration is one :func:`_driver_scan`
    that emits per-batch, per-centroid component sums, and one
    ``(centroid_id, d)`` groupBy of ``n_centroids * dim`` rows collected
    to the driver — the train shuffle is independent of corpus size,
    and no round re-runs an earlier one.
    Output: (vec_id, centroid_id)."""
    if seed == "kmeans||":
        cents = _kmeans_parallel_centers(df, n_centroids)
    elif seed == "first":
        cents = _driver_matrix(
            df.filter(F.col("vec_id") < n_centroids),
            "centroid set (seed='first' takes the vec_ids below n_centroids)",
        )
    else:
        raise ValueError(f"unknown seed strategy {seed!r}")

    def sums_emit(cids, C):
        def emit(b, M, D):
            best = np.argmax(D, axis=1)
            n = np.bincount(best, minlength=len(cids))
            S = np.zeros(C.shape, dtype=np.int64)
            np.add.at(S, best, M)
            hit, dim = np.flatnonzero(n), C.shape[1]
            return pa.record_batch({
                "centroid_id": pa.array(np.repeat(cids[hit], dim)),
                "d": pa.array(np.tile(np.arange(dim), len(hit))),
                "s": pa.array(S[hit].ravel()),
                "n": pa.array(np.repeat(n[hit], dim)),
            })
        return emit

    for _ in range(iters):
        cids, C = cents
        t = (
            _driver_scan(df, cents, sums_emit,
                         "centroid_id long, d long, s long, n long")
            .groupBy("centroid_id", "d")
            .agg(F.sum("s").alias("s"), F.sum("n").alias("n"))
            .toArrow()
        )
        C = C.copy()
        C[np.searchsorted(cids, t.column("centroid_id").to_numpy()),
          t.column("d").to_numpy()] = np.floor(
            t.column("s").to_numpy().astype(np.float64)
            / t.column("n").to_numpy()
        ).astype(np.int64)
        cents = (cids, C)
    return _driver_scan(df, cents, _argmax_emit,
                        "vec_id long, centroid_id long")


# k-means|| oversampling rounds; the oracle SQL of
# ``queries.ann_ivf_kmeanspp`` unrolls the same two
_KMPP_ROUNDS = 2


def _kmeans_parallel_centers(df: DataFrame, n_centroids: int):
    """The :func:`kmeans_parallel_seed` codebook as a driver ``(cids, C)``
    pair, cids = 0..n_centroids-1 in seat order."""
    l = 2 * n_centroids  # oversampled candidates per round

    def mind2_emit(cids, C):
        nc = (C * C).sum(axis=1)

        def emit(b, M, D):
            d2 = (M * M).sum(axis=1)[:, None] + nc - 2 * D
            return pa.record_batch({
                "vec_id": b.column("vec_id").cast(pa.int64()),
                "d2": pa.array(d2.min(axis=1)),
                "embedding": b.column("embedding").cast(pa.list_(pa.float64())),
            })
        return emit

    cids, C = _driver_matrix(
        df.orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id").limit(1),
        "corpus",
    )
    for _ in range(_KMPP_ROUNDS):
        # d2 > 0 keeps current centers (and exact duplicates of them)
        # from re-entering, so candidate cids stay unique; the top-l
        # rows carry their vectors, so no second pass fetches them
        far_ids, far = _driver_matrix(
            _driver_scan(df, (cids, C), mind2_emit,
                         "vec_id long, d2 long, embedding array<double>")
            .filter(F.col("d2") > 0)
            .orderBy(F.col("d2").desc(), F.col("vec_id").asc())
            .limit(l),
            "candidate set",
            empty_ok=True,
        )
        if len(far_ids):
            cids = np.concatenate([cids, far_ids])
            order = np.argsort(cids)
            cids, C = cids[order], np.concatenate([C, far])[order]
    t = (
        _driver_scan(df, (cids, C), _argmin_emit,
                     "vec_id long, centroid_id long")
        .groupBy("centroid_id")
        .count()
        .toArrow()
    )
    weights = dict(zip(t.column("centroid_id").to_pylist(),
                       t.column("count").to_pylist()))
    # Final selection over <= 1 + l*_KMPP_ROUNDS candidates: GREEDY WEIGHTED
    # FARTHEST-POINT (the deterministic stand-in for the paper's
    # weighted k-means++ recluster), plain python over the driver-
    # resident candidate set.  Seat 1 = highest attraction weight
    # (ties -> lowest vec_id); each further seat maximizes
    # weight * min-squared-distance-to-seated (ties -> lowest vec_id),
    # so a single dense cluster can claim at most one seat until every
    # other weighted region is represented — closing the r4-advice
    # hot-bucket caveat of pure weight ranking.  The product is taken
    # in Python ints, so weight * d2 cannot overflow at corpus scale
    # (the oracle uses HUGEINT for the same product).
    def _d2(i, j):
        return int(((C[i] - C[j]) ** 2).sum())

    w = [weights.get(int(c), 0) for c in cids]
    remaining = sorted(range(len(cids)), key=lambda i: (-w[i], cids[i]))
    final = [remaining.pop(0)]
    while len(final) < n_centroids and remaining:
        best = min(
            remaining,
            key=lambda i: (-w[i] * min(_d2(i, j) for j in final), cids[i]),
        )
        remaining.remove(best)
        final.append(best)
    return np.arange(len(final), dtype=np.int64), C[final]


def kmeans_parallel_seed(df: DataFrame, n_centroids: int = 8) -> DataFrame:
    """Deterministic k-means|| ("scalable k-means++", Bahmani et al.,
    VLDB 2012) seeding for the IVF codebook, replacing first-n-vectors
    seeding — which degenerates on corpora sorted or clustered by id
    (all n seeds can land in one cluster, collapsing the index into a
    single hot bucket).

    Determinism substitutions (bit-identical in both engines, no RNG):

    * the paper's per-point sampling with probability ``l*d2/phi``
      becomes "take the TOP-``l`` points by (d2 DESC, vec_id ASC)"
      each round, ``l = 2 * n_centroids`` over ``_KMPP_ROUNDS`` rounds
      — the same oversample-far-points pressure;
    * the final weighted reclustering of the candidate set becomes a
      GREEDY WEIGHTED FARTHEST-POINT pass (round 5; closes the
      r4-advice caveat): seat 1 = highest attraction weight, each
      further seat maximizes weight * min-d2-to-seated (all ties ->
      lowest vec_id).  Pure weight ranking could seat several
      near-colocated candidates of one dense cluster — the hot-bucket
      shape the seeding exists to fix; under farthest-point a dense
      cluster claims at most one seat until every other weighted
      region is represented.  Every greedy step is unrolled
      identically in the SQL oracle (HUGEINT product — weight * d2
      exceeds int64 at corpus scale);
    * the initial center is the vector with the smallest
      ``md5(vec_id)`` — a deterministic uniform draw that is NOT the
      lowest id (so sorted corpora get no special treatment).

    Scale shape: the center set never exceeds ``1 + l*_KMPP_ROUNDS``
    rows and lives on the driver between rounds as a numpy ``(cids,
    C)`` pair, so each round is one :func:`_driver_scan` whose top-``l`` rows
    (TakeOrderedAndProject, no global sort shuffle) carry their vectors
    back, and no round re-derives an earlier one; attraction weights
    are one partial-agg groupBy.  Total: ``_KMPP_ROUNDS + 2`` passes over
    the corpus, each embarrassingly parallel.

    Output: (cid, cvec), cid = 0..n_centroids-1 in weight order.
    """
    cids, C = _kmeans_parallel_centers(df, n_centroids)
    return df.sparkSession.createDataFrame(pa.table({
        "cid": pa.array(cids),
        "cvec": pa.array(C.tolist(), pa.list_(pa.int64())),
    }))


def kmeans_parallel_assign(df: DataFrame, n_centroids: int = 8) -> DataFrame:
    """Nearest-centroid assignment under the k-means|| codebook by
    exact quantized squared euclidean distance (ties -> lowest cid) —
    one broadcast pass.  Output: (vec_id, centroid_id)."""
    cents = _kmeans_parallel_centers(df, n_centroids)
    return _driver_scan(df, cents, _argmin_emit, "vec_id long, centroid_id long")


def ivf_topk_multiprobe(
    df: DataFrame, k: int = 5, n_centroids: int = 8, nprobe: int = 2
) -> DataFrame:
    """IVF top-k with multi-probe recall: each query searches its
    ``nprobe`` nearest centroid buckets (points stay indexed under their
    single nearest centroid, so the index is unchanged — only the probe
    fan-out grows).  Still an equi-join on centroid_id; candidate volume
    scales linearly with nprobe, the standard recall/cost dial.
    A (query, point) pair can collide at most once because point buckets
    are disjoint.  Vectorized per-bucket scoring via
    :func:`_ivf_bucket_topk_np` — but a query probing a foreign bucket
    (rn > 1) is a probe-only row there, never an index member.
    Output: (qid, pid, rank) by quantized inner product."""
    return _ivf_bucket_topk_np(df, k, n_centroids, nprobe=nprobe, cosine=False)


def _norm2_col() -> "F.Column":
    return F.aggregate(
        F.transform("qvec", lambda x: x * x),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )


def _exact_cosine_filter(pairs: DataFrame, threshold: float) -> DataFrame:
    """Exact verify stage: cos(a,b) >= t  <=>  dot > 0 and
    dot^2 * 10^4 >= t2_num * |a|^2 * |b|^2 — evaluated in DECIMAL(38,0)
    to avoid float ties, so both engines agree bit-for-bit.
    Input pairs carry (vec_a, vec_b, va, vb, na, nb)."""
    dot = F.aggregate(
        F.zip_with("va", "vb", lambda x, y: x * y),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    t2_num = int(round(threshold * 100)) ** 2
    lhs = (F.col("dot").cast("decimal(38,0)") * F.col("dot")).cast(
        "decimal(38,0)"
    ) * F.lit(10000).cast("decimal(38,0)")
    rhs = (
        F.col("na").cast("decimal(38,0)") * F.col("nb")
    ).cast("decimal(38,0)") * F.lit(t2_num).cast("decimal(38,0)")
    return (
        pairs.withColumn("dot", dot)
        .filter((F.col("dot") > 0) & (lhs >= rhs))
        .select("vec_a", "vec_b")
    )


def _with_vec_sides(df: DataFrame, pairs: DataFrame) -> DataFrame:
    qn = quantized(df).select("vec_id", "qvec").withColumn("n2", _norm2_col())
    a = qn.select(F.col("vec_id").alias("vec_a"), F.col("qvec").alias("va"),
                  F.col("n2").alias("na"))
    b = qn.select(F.col("vec_id").alias("vec_b"), F.col("qvec").alias("vb"),
                  F.col("n2").alias("nb"))
    return pairs.join(a, "vec_a").join(b, "vec_b")


def cosine_topk_ivf(df: DataFrame, k: int = 5, n_centroids: int = 8) -> DataFrame:
    """Cosine top-k through IVF buckets (nprobe=1) — the production
    path: candidate generation is an equi-join on centroid_id, ranking
    is by TRUE COSINE order via an exact integer key.

    Key: sign(dot) * ((dot^2 * 10^6) div nb); within a qid, na is
    constant, so dot^2/nb orders exactly like cos^2 — integer-only
    arithmetic, so both engines produce identical ranks (ties at the
    10^-6 key resolution break deterministically by pid).  The emitted
    ``cosine`` double is also bit-exact cross-engine: dot and na*nb are
    exact integers < 2^53 and IEEE sqrt/divide are correctly rounded.

    Output: (qid, pid, rank, cosine)."""
    return _ivf_bucket_topk_np(df, k, n_centroids, nprobe=1, cosine=True)


def embedding_near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.9,
    n_bands: int = 4,
    planes_per_band: int = 8,
    max_cand_per_vec: float | None = 32.0,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (a < b) — the scale path.

    Candidate generation is multi-band hyperplane LSH (equi-join on
    (band_idx, bucket); NO all-pairs scan anywhere in the plan), then
    the exact DECIMAL(38,0) cosine-threshold verify.  Recall is the
    standard LSH banding guarantee (1 - (1 - s^p)^b for sign-agreement
    rate s), not 100% — for exhaustive small-scale comparison use
    :func:`embedding_near_dup_pairs_exact`.

    ``max_cand_per_vec`` — candidate-volume guard: before building the
    pair join, one cheap aggregation over the bucket table computes the
    EXACT candidate volume the join would emit (sum of m*(m-1)/2 over
    band buckets) and raises ``ValueError`` if it exceeds
    ``max_cand_per_vec * n``.  This is what stops a bench-sized band
    width from silently shipping against a big corpus: bucket widths
    are a 2^p ceiling the corpus outgrows QUADRATICALLY (see
    :func:`lsh_band_buckets` for the p >= log2(n/(2c)) sizing rule), and
    without the guard the failure mode is an n^2/2^p shuffle, not an
    error.  The guard costs one scan + a tiny aggregation — O(corpus)
    work before an otherwise potentially O(corpus^2) join.  ``None``
    disables (recall experiments on fixtures)."""
    if max_cand_per_vec is not None:
        b = lsh_band_buckets(df, n_bands, planes_per_band)
        stats = (
            b.groupBy("band_idx", "bucket")
            .agg(F.count("*").alias("m"))
            .agg(
                F.sum(F.expr("m * (m - 1) / 2")).alias("pairs"),
                (F.sum("m") / n_bands).alias("n_vec"),
            )
            .first()
        )
        pairs, n_vec = stats["pairs"] or 0, stats["n_vec"] or 0
        if n_vec and pairs > max_cand_per_vec * n_vec:
            raise ValueError(
                f"LSH band width too small for this corpus: "
                f"{n_bands} bands x {planes_per_band} planes would emit "
                f"{int(pairs)} candidate pairs for {int(n_vec)} vectors "
                f"({pairs / n_vec:.1f}/vec > max_cand_per_vec="
                f"{max_cand_per_vec}).  Raise planes_per_band "
                f"(p >= log2(n/(2c)) for ~c candidates/vec/band; see "
                f"lsh_band_buckets), or raise/disable max_cand_per_vec."
            )
    cand = lsh_banded_candidate_pairs(df, n_bands, planes_per_band)
    return _exact_cosine_filter(_with_vec_sides(df, cand), threshold)


def embedding_near_dup_pairs_exact(
    df: DataFrame, threshold: float = 0.9
) -> DataFrame:
    """All-pairs exact variant — O(n^2) by construction; the
    small-scale baseline for recall measurement ONLY, never the
    production path at corpus scale.

    r6 shape (guide §4.2): the former broadcast cross join evaluated an
    interpreted 64-step dot fold plus DECIMAL(38,0) compares per pair —
    at 20k vectors (200M pairs) that ran for HOURS.  Now one
    :func:`_driver_scan` streams the corpus against the whole quantized
    corpus read to the driver (O(n) driver/executor residency —
    acceptable for a declared small-scale baseline; a corpus above
    ``_DRIVER_MAX_VECTORS`` raises :class:`VectorSetSizeError`) and
    evaluates the identical integer threshold test
    ``dot > 0 AND dot^2 * 10^4 >= t2num * na * nb`` without any int128
    intermediate: with ``q, rem = divmod(na * nb, 10^4)`` and
    ``L = dot^2 - t2num * q`` (|L| < 2^63 since dot^2 <= na*nb by
    Cauchy-Schwarz), the condition is ``L >= 0`` and
    ``L * 10^4 >= t2num * rem`` — and whenever ``L >= 10^10`` the
    right side (< 10^8) cannot win, so the multiply only happens where
    it provably fits.  Measured: hours -> ~8 s at sf1.0; identical
    pairs (DuckDB parity)."""
    t2num = int(round(threshold * 100)) ** 2

    def pair_emit(pids, P):
        n2p = (P * P).sum(axis=1)

        def emit(b, M, D):
            vids = b.column("vec_id").to_numpy(zero_copy_only=False)
            n2q = (M * M).sum(axis=1)
            out_a, out_b = [], []
            for g in range(len(D)):
                d = D[g]
                cand = (pids > vids[g]) & (d > 0)
                if not cand.any():
                    continue
                dv = d[cand]
                q_, rem = np.divmod(n2q[g] * n2p[cand], 10_000)
                L = dv * dv - t2num * q_
                rhs = t2num * rem
                ok = (L >= 10_000_000_000) | ((L >= 0) & (L * 10_000 >= rhs))
                if ok.any():
                    hit = pids[cand][ok]
                    out_a.extend([int(vids[g])] * len(hit))
                    out_b.extend(hit.tolist())
            return pa.record_batch({
                "vec_a": pa.array(out_a, type=pa.int64()),
                "vec_b": pa.array(out_b, type=pa.int64()),
            })
        return emit

    return _driver_scan(
        df, _driver_matrix(df, "corpus", empty_ok=True), pair_emit,
        "vec_a long, vec_b long",
    )
