"""Seeded input generator for the benchmark workloads.

Writes sf0.1-shaped parquet tables (the column names and key relations
of the repo's testdata: ``documents``, ``embeddings``, ``part``,
``orders``, ``lineitem``, ``nation``) into a directory, one
sub-directory of part files per table, so that Spark reads each table
with one partition per file and DuckDB reads it with a glob.  The same
seed always gives byte-identical tables.  What the seed moves:

* the document text (word draws, lengths, which documents are copies)
  and, unless the ids are dense, the replica key offsets of the
  document ids: base document ``i`` gets id ``i * REPLICAS + r_i`` with
  ``r_i`` drawn from the seed, the id scheme of
  ``synth.pages_df(replicate=...)``.  The geo points that ``synth``
  derives from ``doc_id`` then change with the seed;
* the embedding vectors;
* the way-node lists (``lineitem`` part keys and line numbers);
* the jitter of the 100-box polygon set (:func:`many_boxes`).

Key relations every seed keeps: every ``lineitem`` row points at an
existing order and part, every order has at least one line, and the
relation fixtures' member refs (node ids ``n*20+3``, way ids
``n*13+1`` and ``n*9+{3,6,12,15}`` for ``n < 25``) exist when the node
ids are dense (``dense_ids=True``).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from osmgraft import synth
from osmgraft.geometry import Polygon, Ring

REPLICAS = 4

# the testdata corpus's 30 query-engine words, then a long tail, drawn
# with Zipf-like weights: unrelated documents rarely share a token set,
# so the simhash near-dup pairs are the planted copies below
VOCAB = np.array(
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window".split()
    + [f"w{i}" for i in range(1970)]
)
VOCAB_P = 1.0 / (np.arange(len(VOCAB)) + 10.0)
VOCAB_P /= VOCAB_P.sum()
LANGS = np.array(["en", "zh", "es", "fr", "de"])
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
# near-dup clusters: a document and two exact copies at random places.
# Every seed gets the same cluster shapes, so the connected-components
# loop runs the same number of rounds on every seed.
DUP_CLUSTERS_PER_DOC = 0.03


def _write(table: pa.Table, out_dir: str, name: str, n_files: int) -> None:
    tdir = os.path.join(out_dir, f"{name}.parquet")
    os.makedirs(tdir, exist_ok=True)
    bounds = np.linspace(0, table.num_rows, n_files + 1).astype(int)
    for i in range(n_files):
        pq.write_table(
            table.slice(bounds[i], bounds[i + 1] - bounds[i]),
            os.path.join(tdir, f"part-{i:05d}.parquet"),
        )


def documents(rng: np.random.Generator, n: int, dense_ids: bool) -> pa.Table:
    lengths = rng.integers(8, 100, n)
    words = rng.choice(len(VOCAB), int(lengths.sum()), p=VOCAB_P)
    ends = np.cumsum(lengths)
    texts = [
        " ".join(VOCAB[words[e - k:e]]) for e, k in zip(ends, lengths)
    ]
    perm = rng.permutation(n)
    n_clusters = int(n * DUP_CLUSTERS_PER_DOC)
    for j in range(n_clusters):
        base = texts[perm[j]]
        texts[perm[n_clusters + 2 * j]] = texts[perm[n_clusters + 2 * j + 1]] = base
    if dense_ids:
        doc_id = np.arange(n, dtype=np.int64)
    else:
        doc_id = np.arange(n, dtype=np.int64) * REPLICAS + rng.integers(
            0, REPLICAS, n
        )
    return pa.table({
        "doc_id": doc_id,
        "text": texts,
        "lang": LANGS[rng.choice(len(LANGS), n, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    centers = rng.normal(0.0, 0.1, (10, dim))
    label = rng.integers(0, 10, n).astype(np.int32)
    vecs = (centers[label] + rng.normal(0.0, 0.075, (n, dim))).astype(np.float32)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(vecs.ravel()), dim
        ).cast(pa.list_(pa.float32())),
        "label": label,
    })


def osm_tables(rng: np.random.Generator, n_orders: int, n_parts: int) -> dict:
    lines = rng.integers(1, 8, n_orders)
    order_of_line = np.repeat(np.arange(n_orders, dtype=np.int64), lines)
    return {
        "part": pa.table({"p_partkey": np.arange(n_parts, dtype=np.int64)}),
        "orders": pa.table({"o_orderkey": np.arange(n_orders, dtype=np.int64)}),
        "lineitem": pa.table({
            "l_orderkey": order_of_line,
            "l_partkey": rng.integers(0, n_parts, order_of_line.size),
            # not unique within an order, as in the testdata
            "l_linenumber": rng.integers(1, 8, order_of_line.size).astype(np.int32),
        }),
        "nation": pa.table({
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        }),
    }


def many_boxes(seed: int, n: int = 100) -> list[Polygon]:
    """``n`` boxes (ids 101..100+n) jittered around the urban centers —
    the shape of ``synth.boundaries_many`` with the jitter drawn from
    the seed, so the covers and the refine work move with it."""
    rng = np.random.default_rng([seed, 1])
    polys = []
    for i in range(n):
        cx, cy = synth.CENTERS[i % 3]
        cx += int(rng.integers(-20, 21)) * 500_000
        cy += int(rng.integers(-20, 21)) * 500_000
        hw = 200_000 + int(rng.integers(0, 7)) * 150_000
        hh = 200_000 + int(rng.integers(0, 5)) * 150_000
        polys.append(Polygon(101 + i, f"box_{i}", [
            Ring([cx - hw, cx + hw, cx + hw, cx - hw],
                 [cy - hh, cy - hh, cy + hh, cy + hh]),
        ]))
    return polys


def generate(out_dir: str, seed: int, sizes: dict, n_files: int) -> None:
    """Write every table named in ``sizes`` into ``out_dir``.

    ``sizes`` keys: ``docs`` (+ ``dense_ids``), ``vectors``,
    ``orders`` + ``parts``."""
    rng = np.random.default_rng([seed, 0])
    if "docs" in sizes:
        _write(documents(rng, sizes["docs"], sizes.get("dense_ids", False)),
               out_dir, "documents", n_files)
    if "vectors" in sizes:
        _write(embeddings(rng, sizes["vectors"]), out_dir, "embeddings", n_files)
    if "orders" in sizes:
        for name, t in osm_tables(rng, sizes["orders"], sizes["parts"]).items():
            _write(t, out_dir, name, 1 if name == "nation" else n_files)
