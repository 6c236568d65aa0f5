"""End-to-end span-sequence equality — the north-rule correctness gate.

The production kernel (zero-shuffle mapInArrow) and the declarative
Catalyst oracle must both reproduce the pure-Python reference extractor
exactly: per-doc span tuples (kind, text, media_ref, order).
"""

from pyspark.sql import functions as F

from basicocr_spark.fixtures import STOP_TERMS, gen_dictionary, gen_media_logits
from basicocr_spark.operators.extraction import (
    extract_documents_fused_arrow,
    extract_documents_sql,
    flatten_extracted,
)


def _as_map(extracted_df):
    rows = flatten_extracted(extracted_df).collect()
    out = {}
    for r in rows:
        out.setdefault(r.doc_id, []).append((r.order, r.kind, r.text, r.media_ref))
    return {k: [t[1:] for t in sorted(v)] for k, v in out.items()}


def _gold_map(fx):
    return _as_map(fx["golden"])


def test_sql_pipeline_span_equality(fx):
    out = extract_documents_sql(
        fx["documents"], fx["media_logits"], fx["dictionary"], STOP_TERMS
    )
    got, want = _as_map(out), _gold_map(fx)
    assert set(got) == set(want)
    for doc_id in want:
        assert got[doc_id] == want[doc_id], doc_id


def test_fused_arrow_pipeline_span_equality(fx):
    logits_rows = [(r.media_ref, [list(x) for x in r.logits], r.gold_text) for r in fx["media_logits"].collect()]
    out = extract_documents_fused_arrow(
        fx["documents"], logits_rows, fx["dict_lines"], STOP_TERMS
    )
    got, want = _as_map(out), _gold_map(fx)
    assert set(got) == set(want)
    for doc_id in want:
        assert got[doc_id] == want[doc_id], doc_id


def test_fused_arrow_plan_has_no_shuffle(fx):
    logits_rows = [(r.media_ref, [list(x) for x in r.logits], r.gold_text) for r in fx["media_logits"].collect()]
    out = extract_documents_fused_arrow(fx["documents"], logits_rows, fx["dict_lines"], STOP_TERMS)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # linear scan: zero shuffle by construction
