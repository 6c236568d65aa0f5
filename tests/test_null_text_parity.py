"""Cross-engine parity on NULL text for the round-5 cleaning/dedup
operators: Spark's string/array expressions are NULL-propagating while
the DuckDB oracles coalesce, so a one-sided guard silently diverges the
first time a corpus carries a NULL text. Both sides now normalize NULL
to '' — pin that on a table the driver corpus never ships."""

import math
import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as E  # noqa: E402

DOCS = [
    (0, None, "en", "s0"),
    (1, "Real text right here today folks. More real text follows now!\n"
        "And a third full sentence to pass the gate.", "en", "s0"),
    (2, "the be plain words here repeated plain words here", "zh", "s1"),
]

OPS = [
    "docs_c4_clean",
    "docs_gopher_rules",
    "docs_exact_substring_removal",
    "docs_pipeline_funnel",
]


@pytest.fixture(scope="module")
def null_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("null_sf"))
    spark.createDataFrame(
        DOCS, "doc_id long, text string, lang string, source string"
    ).coalesce(1).write.mode("overwrite").parquet(os.path.join(d, "documents.parquet"))
    return d


def _norm(v):
    if isinstance(v, float):
        return "nan" if math.isnan(v) else round(v, 9)
    return v


@pytest.mark.parametrize("name", OPS)
def test_null_text_parity(spark, null_dir, oracles, name):
    sdf = E.queries()[name](spark, null_dir)
    cols = sorted(sdf.columns)
    order = [sdf.columns.index(c) for c in cols]
    s_rows = sorted(tuple(_norm(r[i]) for i in order) for r in sdf.collect())
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"'{os.path.join(null_dir, 'documents.parquet')}/*.parquet'"
    )
    rel = con.sql(oracles[name])
    d_order = [rel.columns.index(c) for c in cols]
    d_rows = sorted(tuple(_norm(r[i]) for i in d_order) for r in rel.fetchall())
    assert s_rows == d_rows
    # the NULL-text doc must be present, not silently dropped
    if "doc_id" in cols:
        id_idx = cols.index("doc_id")
        assert any(r[id_idx] == 0 for r in s_rows)
    else:  # the funnel's single summary row must count all three docs
        assert s_rows[0][cols.index("n_docs")] == 3
