"""Discounted-revenue sums round half a cent up in Spark and in the
DuckDB oracle alike. One lineitem row at 2.01 with a 50% discount is
exactly 1.005; summed as DOUBLE it is 1.00499..., which rounds to 1.00.
q6 sums price * discount and filters on a 3-7% discount, so it gets its
own row: 2.30 at 5% is exactly 0.115, which as DOUBLE Spark rounds to
0.11 and DuckDB to 0.12."""

import datetime as dt

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from basicocr_spark import queries as Q

TS = dt.datetime(1995, 3, 1)

ONE_ROW = {
    "lineitem": {
        "l_orderkey": [1], "l_suppkey": [1], "l_quantity": [1.0],
        "l_extendedprice": [2.01], "l_discount": [0.50],
        "l_returnflag": ["N"], "l_linestatus": ["O"], "l_shipdate": [TS],
    },
    "orders": {
        "o_orderkey": [1], "o_custkey": [1], "o_orderdate": [TS],
        "o_orderpriority": ["1-URGENT"],
    },
    "customer": {"c_custkey": [1], "c_nationkey": [0], "c_mktsegment": ["BUILDING"]},
    "supplier": {"s_suppkey": [1], "s_nationkey": [0]},
    "nation": {"n_nationkey": [0], "n_name": ["ALGERIA"], "n_regionkey": [0]},
    "region": {"r_regionkey": [0], "r_name": ["AFRICA"]},
}


Q6_LINEITEM = {**ONE_ROW["lineitem"], "l_extendedprice": [2.30], "l_discount": [0.05]}


@pytest.mark.parametrize(
    "query, oracle, col, lineitem, want",
    [
        (Q.q1_pricing_summary, Q.Q1_SQL, "sum_disc_price", ONE_ROW["lineitem"], 1.01),
        (Q.q3_top_orders, Q.Q3_SQL, "revenue", ONE_ROW["lineitem"], 1.01),
        (Q.q5_region_revenue, Q.Q5_SQL, "revenue", ONE_ROW["lineitem"], 1.01),
        (Q.q6_revenue_band, Q.Q6_SQL, "revenue", Q6_LINEITEM, 0.12),
    ],
    ids=["q1", "q3", "q5", "q6"],
)
def test_half_cent_revenue_rounds_up(spark, tmp_path, query, oracle, col, lineitem, want):
    for name, cols in {**ONE_ROW, "lineitem": lineitem}.items():
        pq.write_table(pa.table(cols), str(tmp_path / f"{name}.parquet"))
    (row,) = query(spark, str(tmp_path)).collect()
    assert row[col] == want

    con = duckdb.connect()
    for name in ONE_ROW:
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{tmp_path}/{name}.parquet'")
    rel = con.sql(oracle)
    (duck,) = rel.fetchall()
    assert duck[rel.columns.index(col)] == want
