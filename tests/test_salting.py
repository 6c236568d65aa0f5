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


def _plan_nodes(node):
    """Pre-order walk of a JVM SparkPlan tree."""
    yield node
    kids = node.children()
    for i in range(kids.size()):
        yield from _plan_nodes(kids.apply(i))


def test_run_salts_heavy_docs_below_the_range_exchange(spark, tmp_path, monkeypatch):
    """run_extraction.run salts before it range-partitions on (doc_id,
    salt), so a heavy doc's slices can reach other tasks: the salting
    Generate sits below that Exchange in the plan handed to commit()."""
    import run_extraction as RX
    from basicocr_spark import schemas as S
    from basicocr_spark.plans.checkpoint import SnapshotWriter

    heavy = [("text", f"<p>span {i} of a long doc</p>", None, i) for i in range(10)]
    docs = spark.createDataFrame(
        [("a", heavy), ("b", heavy[:2]), ("c", heavy[:3])], schema=S.DOCUMENTS
    )
    inp = str(tmp_path / "in")
    docs.write.parquet(inp)
    committed = []
    orig = SnapshotWriter.commit

    def capture(writer, extracted, snapshot_id=None):
        committed.append(extracted)
        return orig(writer, extracted, snapshot_id)

    monkeypatch.setattr(SnapshotWriter, "commit", capture)
    stats = RX.run(spark, inp, str(tmp_path / "out"), batch_size=10, max_spans=4)
    assert stats["docs"] == 3 and len(committed) == 1

    plan = committed[0]._jdf.queryExecution().sparkPlan()
    exchanges = [
        n for n in _plan_nodes(plan)
        if n.nodeName() == "Exchange"
        and n.outputPartitioning().toString().startswith("rangepartitioning(doc_id")
    ]
    assert len(exchanges) == 1
    keys = exchanges[0].outputPartitioning().toString()
    assert ", salt#" in keys, keys
    # under the exchange: the salting Generate; above it: the merge's
    below = [n.nodeName() for n in _plan_nodes(exchanges[0])]
    assert below.count("Generate") == 1 and "MapInArrow" not in below
    everywhere = [n.nodeName() for n in _plan_nodes(plan)]
    assert everywhere.count("Generate") == 2 and "MapInArrow" in everywhere
