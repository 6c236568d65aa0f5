"""Skew salting: bounded slices, pass-through for light docs, and
end-to-end equality of salted extraction vs the unsalted golden."""

from pyspark.sql import functions as F

from basicocr_spark.fixtures import STOP_TERMS
from basicocr_spark.operators.extraction import extract_documents_fused_arrow, flatten_extracted
from basicocr_spark.operators.salting import (
    DEFAULT_MAX_SPANS,
    merge_salted_extraction,
    salt_heavy_docs,
)


def test_salting_bounds_and_coverage(spark, fx):
    max_spans = 16
    salted = salt_heavy_docs(fx["documents"], max_spans=max_spans)
    rows = salted.select("doc_id", "salt", F.size("spans").alias("n")).collect()
    assert max(r.n for r in rows) <= max_spans
    # span totals preserved
    tot_before = fx["documents"].selectExpr("sum(size(spans)) n").first().n
    tot_after = salted.selectExpr("sum(size(spans)) n").first().n
    assert tot_before == tot_after
    # at least one doc actually split (fixture is heavy-tailed)
    per_doc = {}
    for r in rows:
        per_doc.setdefault(r.doc_id, []).append(r.salt)
    assert any(len(v) > 1 for v in per_doc.values())
    # light docs pass through with salt 0 only
    light = [v for v in per_doc.values() if len(v) == 1]
    assert all(v == [0] for v in light)


def test_salted_extraction_matches_golden(spark, fx):
    logits_rows = [
        (r.media_ref, [list(x) for x in r.logits], r.gold_text)
        for r in fx["media_logits"].collect()
    ]
    salted = salt_heavy_docs(fx["documents"], max_spans=8)
    extracted = extract_documents_fused_arrow(
        salted.select(F.concat_ws("#", "doc_id", "salt").alias("doc_id"), "spans"),
        logits_rows,
        fx["dict_lines"],
        STOP_TERMS,
    )
    # restore (doc_id, salt) from the composite key, then merge
    parts = extracted.select(
        F.split("doc_id", "#")[0].alias("doc_id"),
        F.split("doc_id", "#")[1].cast("int").alias("salt"),
        "spans",
    )
    merged = merge_salted_extraction(parts)
    got = flatten_extracted(merged)
    gold = flatten_extracted(fx["golden"])
    assert got.exceptAll(gold).count() == 0
    assert gold.exceptAll(got).count() == 0
