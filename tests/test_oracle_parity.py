"""Local replica of the driver's DuckDB-oracle gate.

Runs every QUERIES[name] on Spark and ORACLES[name] on DuckDB over the
same parquet, then compares row count, column names, and an
order-insensitive multiset of value tuples (floats to 9 significant
digits — stricter than any hash the driver might use).
"""

import math
import re

import duckdb
import pytest

from osmgraft.queries import ORACLES, QUERIES

pytestmark = pytest.mark.spark

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def _duck(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def _canon_type(t: str) -> str:
    """Normalize a Spark dtype / Arrow type string to a shared canonical
    form so engine-level type divergence (e.g. DuckDB HUGEINT ->
    decimal128(38,0) vs Spark BIGINT) fails the gate locally — the
    driver's value hash is type-sensitive (round-1 dedup_minhash_lsh)."""
    t = t.strip().lower()
    t = re.sub(r"^large_", "", t)
    t = re.sub(r"\[[^\]]*\]", "", t)  # timestamp[us, tz=UTC] -> timestamp
    # naive timestamps: Spark TIMESTAMP_NTZ == DuckDB TIMESTAMP (values
    # hash identically in the driver; only the name differs)
    t = re.sub(r"^timestamp_ntz$", "timestamp", t)
    t = re.sub(r"decimal128", "decimal", t)
    t = re.sub(r"list<item:\s*", "array<", t).replace("list<", "array<")
    t = {
        "long": "bigint", "int64": "bigint", "hugeint": "decimal(38,0)",
        "int32": "int", "integer": "int", "int16": "smallint",
        "int8": "tinyint", "float64": "double", "float32": "float",
        "utf8": "string", "varchar": "string", "bool": "boolean",
        "date32": "date", "date64": "date",
    }.get(t, t)
    return t


def _norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.9e}"
    if isinstance(v, bytes):
        return v.hex()
    return v


def _rows_to_multiset(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = {}
    for r in rows:
        key = tuple(_norm(r[i]) for i in order)
        out[key] = out.get(key, 0) + 1
    return out


def assert_matches_oracle(name, df, spark_rows, oracle_sql, sf_dir):
    """``df``'s collected ``spark_rows`` against ``oracle_sql`` run in
    DuckDB over ``sf_dir``: same column names and canonical types, same
    row count, same order-insensitive multiset of values."""
    spark_cols = df.columns
    con = _duck(sf_dir)
    arrow = con.execute(oracle_sql).fetch_arrow_table()
    duck_cols = arrow.schema.names
    duck_rows = [tuple(r.values()) for r in arrow.to_pylist()]

    assert sorted(spark_cols) == sorted(duck_cols), (
        f"{name}: column mismatch {spark_cols} vs {duck_cols}"
    )
    spark_types = {c: _canon_type(t) for c, t in df.dtypes}
    duck_types = {
        f.name: _canon_type(str(f.type)) for f in arrow.schema
    }
    assert spark_types == duck_types, (
        f"{name}: TYPE mismatch (driver hash is type-sensitive): "
        f"spark={spark_types} duck={duck_types}"
    )
    assert len(spark_rows) == len(duck_rows), (
        f"{name}: row count {len(spark_rows)} vs {len(duck_rows)}"
    )
    s = _rows_to_multiset(spark_rows, spark_cols)
    d = _rows_to_multiset(duck_rows, duck_cols)
    if s != d:
        only_s = {k: v for k, v in s.items() if d.get(k) != v}
        only_d = {k: v for k, v in d.items() if s.get(k) != v}
        raise AssertionError(
            f"{name}: value mismatch; spark-only={list(only_s.items())[:5]} "
            f"duck-only={list(only_d.items())[:5]}"
        )


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(spark, sf_dir, name):
    df = QUERIES[name](spark, sf_dir)
    spark_rows = [tuple(r) for r in df.collect()]

    # nulls in output values are hash/sort hazards for the driver's
    # compare — all registered queries must emit sentinel values instead
    for r in spark_rows[:2000]:
        assert all(v is not None for v in r), f"{name}: NULL in output row {r}"

    if name not in ORACLES:
        assert len(spark_rows) >= 0  # rows-only check
        return

    assert_matches_oracle(name, df, spark_rows, ORACLES[name], sf_dir)
