"""The Aho-Corasick strip must equal the canonical longest-first regex
alternation (reference.stop_term_pattern + re.sub) on every input —
including adversarial overlapping dictionaries — and the DataFrame
routing must pick the automaton only at dictionary scale."""

import os
import random
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from basicocr_spark import reference as R  # noqa: E402
from basicocr_spark.functions.aho import (  # noqa: E402
    AC_TERM_THRESHOLD,
    AhoCorasick,
    strip_terms_ac_df,
)

ADVERSARIAL_DICTS = [
    ["he", "she", "his", "hers"],  # classic fail-link suffix family
    ["ab", "abc", "bc"],  # prefix + overlap
    ["aa", "aaa"],  # self-overlapping runs
    ["abc", "bcd", "cde"],  # chained overlaps
    ["x"],  # single char
    ["the ", "batch", "data"],  # the fixture stop terms
    ["大数据", "数据表", "表格"],  # CJK overlaps
    ["a b", "b c", "a b c"],  # phrases with shared words
]

TEXTS = [
    "",
    "ushers",
    "aaaa",
    "aaaaaaa",
    "abcde",
    "abcdabcd",
    "the batch data the ",
    "xxhexshex",
    "大数据表格里的大数据",
    "a b c d a b",
    "no match here at all",
    "hehehehe",
    "shersheshers",
]


def _ref_strip(text, terms):
    return re.sub(R.stop_term_pattern(terms), "", text)


def test_ac_matches_reference_regex_on_adversarial_dicts():
    for terms in ADVERSARIAL_DICTS:
        ac = AhoCorasick(terms)
        for t in TEXTS:
            assert ac.strip(t) == _ref_strip(t, terms), (terms, t)


def test_ac_matches_reference_regex_randomized():
    rng = random.Random(1234)
    alphabet = "abc"
    for trial in range(60):
        terms = list(
            {
                "".join(rng.choice(alphabet) for _ in range(rng.randint(1, 4)))
                for _ in range(rng.randint(1, 8))
            }
        )
        text = "".join(rng.choice(alphabet + " ") for _ in range(rng.randint(0, 80)))
        ac = AhoCorasick(terms)
        assert ac.strip(text) == _ref_strip(text, terms), (terms, text)


def test_ac_df_equals_regexp_column_path(spark):
    """Both DataFrame paths over real fixture docs + a large phrase
    dictionary must agree row for row."""
    from pyspark.sql import functions as F

    from basicocr_spark.operators.boilerplate import strip_stop_content

    sf = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    d = spark.read.parquet(f"{sf}/documents.parquet").select("doc_id", "text").limit(200)
    words = ["table", "row", "query", "join", "stream", "merge", "batch", "scan"]
    terms = [f"{a} {b}" for a in words for b in words]
    assert len(terms) >= AC_TERM_THRESHOLD
    got = {
        r["doc_id"]: r["clean"]
        for r in strip_terms_ac_df(d, terms, "text", "clean").collect()
    }
    want = {
        r["doc_id"]: r["clean"]
        for r in d.withColumn("clean", strip_stop_content(F.col("text"), terms)).collect()
    }
    assert got == want


def test_routing_picks_automaton_only_at_scale(spark):
    from basicocr_spark.operators.boilerplate import strip_stop_content_df

    d = spark.createDataFrame([(0, "a b c")], "doc_id long, text string")
    small = strip_stop_content_df(d, ["a b"])
    big = strip_stop_content_df(d, [f"t{i} u{i}" for i in range(AC_TERM_THRESHOLD)])
    assert "MapInPandas" not in small._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in big._jdf.queryExecution().executedPlan().toString()

