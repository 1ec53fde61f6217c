"""Extraction tests: the codegen path against a per-row Python
reference parser, byte-identical slices."""

import re
from collections.abc import Iterator

import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from osmgraft import synth
from osmgraft.extract import ENTITY_SCHEMA, _check_passthrough, _resolve_columns
from osmgraft.extract import extract_entities

pytestmark = pytest.mark.spark

MENTION_RE = re.compile(rb"@place\{([^{}|]*)\|(-?\d+)\|(-?\d+)\}")

_FIELD_DTYPE = {
    "url": "object",
    "doc_id": "int64",
    "ent_idx": "int32",
    "name": "object",
    "lat_e7": "int64",
    "lon_e7": "int64",
    "mention": "object",
}


def _make_extractor(out_cols: tuple[str, ...]):
    """Batch parser emitting only ``out_cols``: a Python regex over the
    page's UTF-8 bytes, one row per match.  Nested, so the Python
    workers receive it by value and need not import this module."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            cols: dict[str, list] = {c: [] for c in out_cols}
            doc_ids = pdf["doc_id"] if "doc_id" in pdf.columns else [-1] * len(pdf)
            urls = pdf["url"] if "url" in pdf.columns else [None] * len(pdf)
            for url, doc_id, text in zip(urls, doc_ids, pdf["text"]):
                raw = text.encode("utf-8")  # slice in byte space, decode names only
                for i, m in enumerate(MENTION_RE.finditer(raw)):
                    row = {
                        "url": url,
                        "doc_id": doc_id,
                        "ent_idx": i,
                        "name": m.group(1).decode("utf-8"),
                        "lat_e7": int(m.group(2)),
                        "lon_e7": int(m.group(3)),
                        "mention": m.group(0),
                    }
                    for c in out_cols:
                        cols[c].append(row[c])
            yield pd.DataFrame(
                {c: pd.Series(v, dtype=_FIELD_DTYPE[c]) for c, v in cols.items()}
            )

    return run


def reference_entities(pages, columns=None):
    """The mapInPandas reference for :func:`extract_entities`: same
    projection rules, per-row Python parsing."""
    out_fields = _resolve_columns(columns)
    _check_passthrough(pages, out_fields)
    in_cols = [
        c for c in ("url", "doc_id") if c in pages.columns and c in out_fields
    ] + ["text"]
    schema = T.StructType([f for f in ENTITY_SCHEMA.fields if f.name in out_fields])
    return pages.select(*in_cols).mapInPandas(_make_extractor(tuple(out_fields)), schema)


def _assert_mentions_are_slices(pages, rows):
    """Every mention is an exact byte slice of its page's text."""
    text = {
        r.doc_id: r.text.encode("utf-8")
        for r in pages.select("doc_id", "text").collect()
    }
    assert rows
    for r in rows:
        assert bytes(r.mention) in text[r.doc_id]


def test_extracted_entities_match_arithmetic_derivation(spark, sf_dir):
    pages = synth.pages_df(spark, sf_dir)
    got = extract_entities(pages)
    want = synth.geo_entities_df(spark, sf_dir)
    g = {
        (r.doc_id, r.ent_idx, r.name, r.lat_e7, r.lon_e7)
        for r in got.select("doc_id", "ent_idx", "name", "lat_e7", "lon_e7").collect()
    }
    w = {
        (r.doc_id, r.ent_idx, r.name, r.lat_e7, r.lon_e7)
        for r in want.collect()
    }
    assert g == w
    assert len(g) > 0


def test_mention_bytes_are_exact_slices(spark, sf_dir):
    """Byte-identity invariant: every extracted mention is an exact byte
    slice of the page text (the reference's lossless-UTF contract)."""
    pages = synth.pages_df(spark, sf_dir)
    ents = extract_entities(pages)
    joined = (
        ents.alias("e")
        .join(pages.select("url", "text").alias("p"), "url")
        .select("e.mention", "p.text")
        .collect()
    )
    assert joined
    multibyte = 0
    for r in joined:
        assert bytes(r.mention) in r.text.encode("utf-8")
        if max(bytes(r.mention)) > 127:
            multibyte += 1
    assert multibyte > 0, "multi-byte UTF-8 names not exercised"


def test_no_mention_docs_yield_no_entities(spark, sf_dir):
    pages = synth.pages_df(spark, sf_dir)
    ents = extract_entities(pages)
    bad = ents.filter((F.col("doc_id") % 7) == 0).count()
    assert bad == 0


def test_jvm_path_equals_pandas_path(spark, sf_dir):
    pages = synth.pages_df(spark, sf_dir)
    want = reference_entities(pages).collect()
    got = extract_entities(pages).collect()

    def row(r):
        return (r.url, r.doc_id, r.ent_idx, r.name, r.lat_e7, r.lon_e7,
                bytes(r.mention))

    assert sorted(map(row, got)) == sorted(map(row, want)) and got
    _assert_mentions_are_slices(pages, got)


def test_jvm_pruned_projection_equals_arrow(spark, sf_dir):
    pages = synth.pages_df(spark, sf_dir)
    cols = ("doc_id", "ent_idx", "lat_e7", "lon_e7")
    a_df = reference_entities(pages, columns=cols)
    b_df = extract_entities(pages, columns=cols)
    assert a_df.columns == b_df.columns == list(cols)
    assert sorted(map(tuple, a_df.collect())) == sorted(map(tuple, b_df.collect()))
    # a pruned projection that keeps the mention keeps its bytes
    cols = ("doc_id", "ent_idx", "mention")
    a = [(r.doc_id, r.ent_idx, bytes(r.mention))
         for r in reference_entities(pages, columns=cols).collect()]
    b_rows = extract_entities(pages, columns=cols).collect()
    b = [(r.doc_id, r.ent_idx, bytes(r.mention)) for r in b_rows]
    assert sorted(a) == sorted(b) and b
    _assert_mentions_are_slices(pages, b_rows)
    # pure-id projection (no derived field) still explodes per mention
    ids = extract_entities(pages, columns=("doc_id", "ent_idx"))
    assert ids.columns == ["doc_id", "ent_idx"]
    assert ids.count() == len(a)


def test_projection_pushdown_equals_full_path(spark, sf_dir):
    pages = synth.pages_df(spark, sf_dir)
    full = {
        (r.doc_id, r.ent_idx, r.lat_e7, r.lon_e7)
        for r in extract_entities(pages).collect()
    }
    pruned_df = extract_entities(
        pages, columns=("doc_id", "ent_idx", "lat_e7", "lon_e7")
    )
    assert pruned_df.columns == ["doc_id", "ent_idx", "lat_e7", "lon_e7"]
    pruned = {tuple(r) for r in pruned_df.collect()}
    assert pruned == full and full
    # order of the requested tuple must not matter (schema order wins)
    reordered = extract_entities(
        pages, columns=("lon_e7", "doc_id", "lat_e7", "ent_idx")
    )
    assert reordered.columns == ["doc_id", "ent_idx", "lat_e7", "lon_e7"]


def test_projection_pushdown_rejects_unknown_column(spark, sf_dir):
    import pytest as _pytest

    pages = synth.pages_df(spark, sf_dir)
    with _pytest.raises(ValueError):
        extract_entities(pages, columns=("doc_id", "nope"))


def test_missing_passthrough_column_fails_identically_in_both_engines(spark):
    """Requesting `url` when the input has no url column raises the
    same ValueError at plan time in the library path and the reference
    (it once null-filled in one of them); an engine other than "jvm"
    is rejected."""
    pages = spark.createDataFrame(
        [(1, "no mentions here")], schema="doc_id LONG, text STRING"
    )
    for extract in (extract_entities, reference_entities):
        with pytest.raises(ValueError, match="passthrough"):
            extract(pages, columns=("url", "doc_id"))
    with pytest.raises(ValueError, match="engine"):
        extract_entities(pages, engine="arrow")
