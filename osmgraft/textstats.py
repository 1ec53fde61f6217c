"""Text-analysis operators: language ID, quality scoring, BPE token
counts, URL normalization, document fingerprinting.  All JVM-side
expressions (codegen'd) — no Python in the path; every op is
engine-portable for oracle checking.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

EN_STOPWORDS = [
    "the", "a", "of", "and", "to", "in", "is", "it", "for", "on",
]

# single-pass stopword-occurrence counter (r6, guide §4.1): one
# regexp_count scan replaces the former interpreted higher-order
# filter-per-token (`F.filter(toks, ..array_contains..)` lambdas run
# outside whole-stage codegen).  Token semantics match split(' ')
# exactly: a "token" is a maximal run between single spaces (or the
# string ends), so the stopword must be flanked by start/space and
# space/end — tokens containing other whitespace (e.g. "the\nand") are
# single non-matching tokens under both forms.  Equality vs the filter
# form is pinned over the corpus by the DuckDB parity suite
# (list_filter oracles unchanged).
import re as _re

_STOP_RE = (
    "(?:^|(?<= ))(?:"
    + "|".join(_re.escape(w) for w in EN_STOPWORDS)
    + ")(?=$| )"
)


def stop_count_col(text_col: str = "text") -> "F.Column":
    return F.regexp_count(F.col(text_col), F.lit(_STOP_RE))


def lang_id(df: DataFrame, threshold: float = 0.05) -> DataFrame:
    """Stopword-ratio language heuristic: share of tokens that are
    English stopwords; >= threshold => 'en'."""
    toks = F.split(F.col("text"), " ")
    n_stop = stop_count_col()
    ratio = n_stop.cast("double") / F.size(toks)
    return df.select(
        "doc_id",
        n_stop.cast("bigint").alias("n_stop"),
        ratio.alias("stop_ratio"),
        F.when(ratio >= threshold, "en").otherwise("other").alias("pred_lang"),
    )


def quality_score(df: DataFrame) -> DataFrame:
    """Composite quality signal: length band + lexical diversity +
    stopword presence (a la C4/Gopher-style filters, integer-exact)."""
    toks = F.split(F.col("text"), " ")
    n_tok = F.size(toks)
    uniq = F.size(F.array_distinct(toks)).cast("double") / n_tok
    has_stop = stop_count_col() > 0
    score = (
        F.when((n_tok >= 10) & (n_tok <= 1000), 1).otherwise(0)
        + F.when(uniq >= 0.3, 1).otherwise(0)
        + F.when(has_stop, 1).otherwise(0)
    )
    return df.select(
        "doc_id",
        n_tok.cast("bigint").alias("n_tokens"),
        score.cast("int").alias("quality"),
        (score >= 2).alias("keep"),
    )


# BPE-ish pre-tokenizer: letter runs, digit runs, punctuation runs,
# each with an optional leading space (GPT-2-style splitting, ASCII
# classes so Java regex and RE2 count identically)
BPE_SPLIT_RE = " ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+"


def bpe_token_count(df: DataFrame) -> DataFrame:
    """Subword-style token counts from the BPE pre-tokenizer regex —
    the train-data budget number (whitespace tokens undercount code /
    punctuation-heavy text).  Pure JVM ``regexp_count``."""
    return df.select(
        "doc_id",
        F.regexp_count(F.col("text"), F.lit(BPE_SPLIT_RE))
        .cast("bigint")
        .alias("n_bpe"),
        F.size(F.split(F.col("text"), " ")).cast("bigint").alias("n_ws"),
    )


def url_normalize(df: DataFrame, url_col: str = "url") -> DataFrame:
    """Crawl-grade URL canonicalization — the dedup key every web
    pipeline derives before content hashing.  All JVM regex/array ops
    (codegen, engine-portable): drop the fragment, lowercase
    scheme://host, strip the default https port, drop ``utm_*``
    tracking params, sort the remaining query params.

    Output columns: (url_norm, host) appended to the input row.
    """
    u = F.col(url_col)
    no_frag = F.regexp_replace(u, "#.*$", "")
    scheme = F.lower(F.regexp_extract(no_frag, "^([^:]+)://", 1))
    host_raw = F.lower(F.regexp_extract(no_frag, "^[^:]+://([^/?#]+)", 1))
    host = F.when(
        scheme == "https", F.regexp_replace(host_raw, ":443$", "")
    ).otherwise(host_raw)
    path = F.regexp_extract(no_frag, "^[^:]+://[^/?#]+([^?#]*)", 1)
    qs = F.regexp_extract(no_frag, "\\?(.*)$", 1)
    params = F.filter(
        F.split(qs, "&"),
        lambda p: (~p.startswith("utm_")) & (p != F.lit("")),
    )
    qn = F.array_join(F.array_sort(params), "&")
    url_norm = F.concat(
        scheme, F.lit("://"), host, path,
        F.when(qn != "", F.concat(F.lit("?"), qn)).otherwise(F.lit("")),
    )
    return df.withColumn("url_norm", url_norm).withColumn("host", host)


def fingerprint(df: DataFrame) -> DataFrame:
    """Normalized-content fingerprint: md5 over lowercased,
    whitespace-collapsed text (the U2/U3 idempotence key)."""
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), "\\s+", " "))
    return df.select("doc_id", F.md5(norm).alias("fp"))
