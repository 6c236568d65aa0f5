"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed (numpy PCG64): the same
seed gives byte-identical parquet. The tables mimic the shape of the
project's sf0.1 synthetic test data (TESTDATA.md: same schemas, row-count
ratios and value distributions) so the catalog queries see the workload
they were written for, while the benchmark reads nothing outside its
checkout.

GEN_VERSION is part of every input path: bump it whenever a generator's
output changes, so an input written by older code is never reused.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GEN_VERSION = 1

# The documents table's vocabulary: 30 words, uniform (as in sf0.1).
DOC_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
N_SOURCES = 20
DUP_FRAC = 0.05  # share of docs that are another doc's text + " dup"


def rng_for(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per (seed, stream): adding a table never
    shifts another table's values."""
    return np.random.default_rng([seed, GEN_VERSION, *stream.encode()])


def documents_table(seed: int, n_docs: int) -> pa.Table:
    """Flat documents(doc_id, text, lang, source, n_chars), sf0.1-shaped:
    10-100 words per doc over DOC_WORDS, and DUP_FRAC near-duplicates
    (another doc's text with " dup" appended) for the dedup queries."""
    rng = rng_for(seed, "documents")
    n_words = rng.integers(10, 101, n_docs)
    words = np.array(DOC_WORDS, dtype=object)[rng.integers(0, len(DOC_WORDS), n_words.sum())]
    ends = np.cumsum(n_words)
    texts = [" ".join(words[e - k : e]) for e, k in zip(ends, n_words)]
    n_dup = int(n_docs * DUP_FRAC)
    dup_ix = rng.choice(n_docs, n_dup, replace=False)
    src_ix = rng.integers(0, n_docs, n_dup)
    for d, s in zip(dup_ix, src_ix):
        if d != s:
            texts[d] = texts[s] + " dup"
    doc_id = np.arange(n_docs, dtype=np.int64)
    return pa.table(
        {
            "doc_id": doc_id,
            "text": texts,
            "lang": rng.choice(LANGS, n_docs, p=LANG_P).tolist(),
            "source": [f"src{i % N_SOURCES}" for i in doc_id],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _dates(rng, start: str, days: int, n: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + rng.integers(0, days, n).astype("timedelta64[D]").astype("timedelta64[us]")


def relational_tables(seed: int, scale: float) -> dict[str, pa.Table]:
    """region/nation/customer/supplier/orders/lineitem at `scale` times
    the sf0.1 row counts (15k customers, 150k orders, 600k lineitems)."""
    rng = rng_for(seed, "relational")
    n_cust = int(15_000 * scale)
    n_supp = max(int(1_000 * scale), 25)
    n_ord = int(150_000 * scale)
    n_li = int(600_000 * scale)
    region = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    nation = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    customer = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust
            ).tolist(),
        }
    )
    supplier = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    orders = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": rng.choice(["O", "F", "P"], n_ord).tolist(),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _dates(rng, "1995-01-01", 2404, n_ord),
            "o_orderpriority": rng.choice(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
            ).tolist(),
        }
    )
    lineitem = pa.table(
        {
            "l_orderkey": rng.integers(0, n_ord, n_li),
            "l_partkey": rng.integers(0, int(20_000 * scale) or 1, n_li),
            "l_suppkey": rng.integers(0, n_supp, n_li),
            "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_li).tolist(),
            "l_linestatus": rng.choice(["O", "F"], n_li).tolist(),
            "l_shipdate": _dates(rng, "1995-01-02", 2500, n_li),
        }
    )
    return {
        "region": region,
        "nation": nation,
        "customer": customer,
        "supplier": supplier,
        "orders": orders,
        "lineitem": lineitem,
    }


def events_table(seed: int, n_events: int, n_users: int = 1_500) -> pa.Table:
    """events(event_id, ts, user_id, event_type, value, props) over 30
    days, event_id in ts order (sf0.1 shape: 100k events, 1.5k users)."""
    rng = rng_for(seed, "events")
    span_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.choice(span_us, n_events, replace=False))
    return pa.table(
        {
            "event_id": np.arange(n_events, dtype=np.int64),
            "ts": np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]"),
            "user_id": rng.integers(0, n_users, n_events),
            "event_type": rng.choice(
                ["view", "click", "purchase", "signup", "error"], n_events
            ).tolist(),
            "value": np.round(rng.exponential(50.0, n_events), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
        }
    )


def write_table(table: pa.Table, path: str) -> int:
    """Write one parquet file at `path` (a .parquet path the catalog reads
    as `<dir>/<name>.parquet`); returns bytes written."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
    return os.path.getsize(path)


def write_interleaved(docs: list[tuple[str, list[dict]]], path: str, rows_per_file: int) -> int:
    """Interleaved (doc_id, spans) rows -> parquet files of
    `rows_per_file` rows in the program's DOCUMENTS schema order. Returns
    bytes written."""
    span_t = pa.struct(
        [
            ("kind", pa.string()),
            ("text", pa.string()),
            ("media_ref", pa.string()),
            ("offset", pa.int32()),
        ]
    )
    schema = pa.schema([("doc_id", pa.string()), ("spans", pa.list_(span_t))])
    os.makedirs(path, exist_ok=True)
    total = 0
    for i in range(0, len(docs), rows_per_file):
        chunk = docs[i : i + rows_per_file]
        t = pa.table(
            {"doc_id": [d for d, _ in chunk], "spans": [s for _, s in chunk]}, schema=schema
        )
        f = os.path.join(path, f"part-{i // rows_per_file:05d}.parquet")
        pq.write_table(t, f)
        total += os.path.getsize(f)
    return total
