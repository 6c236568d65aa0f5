"""Mimics the driver's correctness gate: every queries() entry vs its
oracle_sql() under DuckDB on the same parquet — row count, column names,
and an order-insensitive value comparison."""

import math
import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as E  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return con


def _norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return round(v, 9)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return v


def _rows_to_multiset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(
        tuple(_norm_cell(r[i]) for i in order) for r in rows
    )


QUERIES = sorted(E.queries().keys())


@pytest.mark.parametrize("name", QUERIES)
def test_query_matches_oracle(spark, duck, oracles, name):
    q = E.queries()[name]
    sql = oracles.get(name)
    assert sql is not None, f"{name}: no oracle"
    sdf = q(spark, SF_DIR)
    s_cols = sdf.columns
    s_rows = [tuple(r) for r in sdf.collect()]
    rel = duck.sql(sql)
    d_cols = rel.columns
    d_rows = rel.fetchall()
    assert sorted(s_cols) == sorted(d_cols), f"{name}: columns {s_cols} vs {d_cols}"
    assert len(s_rows) == len(d_rows), f"{name}: rows {len(s_rows)} vs {len(d_rows)}"
    ms, md = _rows_to_multiset(s_cols, s_rows), _rows_to_multiset(d_cols, d_rows)
    if ms != md:
        diffs = [(a, b) for a, b in zip(ms, md) if a != b][:5]
        raise AssertionError(f"{name}: value mismatch, first diffs: {diffs}")


def test_entry_smoke(spark):
    df = E.entry(spark)
    rows = df.limit(5).collect()
    assert df.count() >= 0
    assert set(df.columns) == {"doc_id", "kind", "text", "media_ref", "order"}
    assert rows
