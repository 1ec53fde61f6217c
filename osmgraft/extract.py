"""Geo-entity extraction from page text — the parse stage of the pipeline.

Analog of the reference's streaming XML element extraction
(``osmc/osm.c:123-174``, ``osmc/osm.c:351-398``): one input page yields
0..N typed geo entities, with **byte-identical text slices** — the
extracted ``mention`` bytes are exact substrings of the page text,
never re-encoded (the lossless lesson of the reference's strict UTF
pipeline, ``osmc/utf.c:95-165``).

One extraction path, :func:`extract_entities`: a ``regexp_extract_all``
pass that stays inside whole-stage codegen (no Python, no Arrow
exchange).  ``tests/test_extract.py`` keeps a per-row Python parser as
the reference it is equality-tested against.

Mention grammar: ``@place{name|lat_e7|lon_e7}`` with integer e7
coordinates (reference fixed-point contract, ``osmc/MapperTypes.h:28``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

ENTITY_SCHEMA = T.StructType([
    T.StructField("url", T.StringType()),
    T.StructField("doc_id", T.LongType()),
    T.StructField("ent_idx", T.IntegerType()),
    T.StructField("name", T.StringType()),
    T.StructField("lat_e7", T.LongType()),
    T.StructField("lon_e7", T.LongType()),
    T.StructField("mention", T.BinaryType()),  # byte-identical slice
])

_MENTION_SQL_RE = r"@place\{([^{}|]*)\|(-?\d+)\|(-?\d+)\}"


def _resolve_columns(columns: tuple[str, ...] | None) -> list[str]:
    """Validate a requested projection and return it in schema order."""
    if columns is None:
        return [f.name for f in ENTITY_SCHEMA.fields]
    known = {f.name for f in ENTITY_SCHEMA.fields}
    bad = [c for c in columns if c not in known]
    if bad:
        raise ValueError(f"unknown entity columns: {bad}")
    return [f.name for f in ENTITY_SCHEMA.fields if f.name in columns]


def _check_passthrough(pages: DataFrame, out_fields: list[str]) -> None:
    """Fail at plan time, with a clear message, when a requested
    passthrough column is missing from the input (instead of
    null-filling it)."""
    missing = [
        c for c in ("url", "doc_id") if c in out_fields and c not in pages.columns
    ]
    if missing:
        raise ValueError(
            f"requested passthrough columns {missing} absent from input "
            f"(input columns: {pages.columns}); project them in or drop "
            "them from `columns`"
        )


def extract_entities(
    pages: DataFrame,
    columns: tuple[str, ...] | None = None,
    engine: str = "jvm",
) -> DataFrame:
    """pages(url, doc_id, text, ...) -> geo entity rows (0..N per page).

    The whole extraction stays inside whole-stage codegen
    (``regexp_extract_all`` + ``posexplode``).  Byte-identity holds
    because the mention is a regex match over the text: casting the
    matched substring to binary reproduces its exact UTF-8 bytes.

    ``columns`` is a projection: only the requested output columns are
    computed, and passthrough input columns that feed none of them are
    not read.  ``url`` + ``mention`` are ~2/3 of the output bytes and
    most pipelines (e.g. the tile cut) never read them.  Requesting a
    passthrough column (``url``/``doc_id``) the input lacks raises
    ``ValueError``.
    """
    # ``engine`` names the one path; it stays as a keyword only because
    # bench.py passes engine="jvm".
    if engine != "jvm":
        raise ValueError(f"unknown extraction engine {engine!r}")
    out_fields = _resolve_columns(columns)
    _check_passthrough(pages, out_fields)
    # One regex pass: extract the whole match (group 0) once, then
    # derive name/lat/lon by slicing the short mention string.  The
    # match grammar is rigid ("@place{" name "|" lat "|" lon "}", name
    # matched [^{}|]*), so substring(8 .. len-8) + split('|') reproduces
    # the regex groups exactly (measured 0.97 -> 0.79 s per flagship
    # extract pass at sf1.0 against one regex pass per derived field).
    passthrough = [c for c in ("url", "doc_id") if c in out_fields]
    mentions = F.regexp_extract_all("text", F.lit(_MENTION_SQL_RE), F.lit(0))
    out = pages.select(
        *passthrough, F.posexplode(mentions).alias("ent_idx", "_m")
    )
    if any(c in out_fields for c in ("name", "lat_e7", "lon_e7")):
        out = out.withColumn(
            "_in",
            F.split(F.expr("substring(_m, 8, length(_m) - 8)"), r"\|"),
        )
    exprs = {
        "url": F.col("url"),
        "doc_id": F.col("doc_id").cast("long"),
        "ent_idx": F.col("ent_idx").cast("int"),
        "name": F.element_at("_in", 1),
        "lat_e7": F.element_at("_in", 2).cast("long"),
        "lon_e7": F.element_at("_in", 3).cast("long"),
        "mention": F.col("_m").cast("binary"),
    }
    return out.select(*(exprs[c].alias(c) for c in out_fields))
