"""Adversarial inputs: empty span arrays, unknown media_refs, null text,
duplicate offsets, out-of-contract kinds. The Arrow kernel and both
oracles (SQL pipeline, pure-Python reference) must agree span-for-span."""

import pytest

from basicocr_spark import reference as R
from basicocr_spark import schemas as S
from basicocr_spark.fixtures import STOP_TERMS
from basicocr_spark.operators.extraction import (
    extract_documents_fused_arrow,
    extract_documents_sql,
)

ADVERSARIAL = [
    ("empty", []),
    ("unknown_media", [("media", None, "m_NOPE", 1)]),
    ("null_text", [("text", None, None, 1), ("media", None, "m000001", 2)]),
    (
        "dup_offset",
        [
            ("text", "<p>one two three four five six seven</p>", None, 3),
            ("media", None, "m000002", 3),
        ],
    ),
    ("reversed_offsets", [("text", "<p>later words one two three four five</p>", None, 9),
                          ("media", None, "m000003", 2)]),
    # out-of-contract kind: kind passes through as data, routing is
    # text vs non-text -> the media/recognition leg handles it
    ("unknown_kind", [("figure", None, "m000001", 1),
                      ("text", "<p>hello world one two three</p>", None, 2)]),
    # kind='pdf' without a blob table: just another non-text kind, so it
    # takes the media leg and is recognized like any media span
    ("pdf_kind", [("pdf", None, "m000002", 1),
                  ("text", "<p>a pdf sits beside this text span</p>", None, 2)]),
]


@pytest.fixture(scope="module")
def adv_docs(spark):
    return spark.createDataFrame(ADVERSARIAL, schema=S.DOCUMENTS)


def _spans_map(df):
    return {
        r.doc_id: [(s["kind"], s["text"], s["media_ref"], s["order"]) for s in r.spans]
        for r in df.collect()
    }


def _oracle_map(fx):
    logits_by_ref = {r.media_ref: [list(x) for x in r.logits] for r in fx["media_logits"].collect()}
    entries = R.load_dictionary(fx["dict_lines"])
    out = {}
    for doc_id, spans in ADVERSARIAL:
        span_dicts = [
            {"kind": k, "text": t, "media_ref": m, "offset": o} for k, t, m, o in spans
        ]
        # oracle raises KeyError on unknown refs; pipelines emit '' —
        # mirror the pipeline contract here
        safe_logits = dict(logits_by_ref)
        safe_logits.setdefault("m_NOPE", [])
        out[doc_id] = [
            (s["kind"], s["text"], s["media_ref"], s["order"])
            for s in R.extract_document(span_dicts, safe_logits, entries, STOP_TERMS)
        ]
    return out


def test_all_three_agree_on_edges(spark, fx, adv_docs):
    want = _oracle_map(fx)
    sql_map = _spans_map(
        extract_documents_sql(adv_docs, fx["media_logits"], fx["dictionary"], STOP_TERMS)
    )
    logits_rows = [
        (r.media_ref, [list(x) for x in r.logits], r.gold_text)
        for r in fx["media_logits"].collect()
    ]
    arrow_map = _spans_map(
        extract_documents_fused_arrow(adv_docs, logits_rows, fx["dict_lines"], STOP_TERMS)
    )
    assert set(sql_map) == set(arrow_map) == set(want)
    for doc_id in want:
        assert sql_map[doc_id] == want[doc_id], ("sql", doc_id)
        assert arrow_map[doc_id] == want[doc_id], ("arrow", doc_id)
    # the pdf span was recognized (media leg), not blanked by the text leg
    pdf_span = want["pdf_kind"][0]
    assert pdf_span[0] == "pdf" and pdf_span[1]


def test_null_kind_routes_to_media_leg_everywhere(spark, fx):
    """Out-of-contract NULL kind (schema says non-null, parquet doesn't
    enforce it): the SQL pipeline must route it to the media leg via
    null-safe comparison, exactly like the Arrow kernel and the Python
    oracle — not silently drop the span (kind != 'text' is null-valued
    and filters it out)."""
    from pyspark.sql import types as T

    nullable_span = T.StructType(
        [
            T.StructField("kind", T.StringType(), True),
            T.StructField("text", T.StringType(), True),
            T.StructField("media_ref", T.StringType(), True),
            T.StructField("offset", T.IntegerType(), False),
        ]
    )
    schema = T.StructType(
        [
            T.StructField("doc_id", T.StringType(), False),
            T.StructField("spans", T.ArrayType(nullable_span), False),
        ]
    )
    rows = [
        ("null_kind", [(None, None, "m000001", 1),
                       ("text", "<p>one two three four five six</p>", None, 2)]),
    ]
    docs = spark.createDataFrame(rows, schema=schema)

    logits_by_ref = {r.media_ref: [list(x) for x in r.logits] for r in fx["media_logits"].collect()}
    entries = R.load_dictionary(fx["dict_lines"])
    want = {
        doc_id: [
            (s["kind"], s["text"], s["media_ref"], s["order"])
            for s in R.extract_document(
                [{"kind": k, "text": t, "media_ref": m, "offset": o} for k, t, m, o in spans],
                logits_by_ref,
                entries,
                STOP_TERMS,
            )
        ]
        for doc_id, spans in rows
    }
    sql_map = _spans_map(
        extract_documents_sql(docs, fx["media_logits"], fx["dictionary"], STOP_TERMS)
    )
    logits_rows = [
        (r.media_ref, [list(x) for x in r.logits], r.gold_text)
        for r in fx["media_logits"].collect()
    ]
    arrow_map = _spans_map(
        extract_documents_fused_arrow(docs, logits_rows, fx["dict_lines"], STOP_TERMS)
    )
    assert sql_map == want  # two spans survive, null kind on the media leg
    assert arrow_map == want
    assert len(sql_map["null_kind"]) == 2


def test_null_vs_empty_kind_tie_orders_identically(spark, fx):
    """Pathological tie: two spans at the same offset, same media_ref,
    same recognized text, one kind=NULL and one kind='' — they tie on
    every coalesced sort key and differ only in nullness. The kernel and
    both oracles must order them identically (null first, via the
    explicit null-presence flag keys); before the flags, Spark's struct
    comparison fell through to raw fields (nulls first) while the
    kernels' stable sorts kept arrival order."""
    from pyspark.sql import types as T

    nullable_span = T.StructType(
        [
            T.StructField("kind", T.StringType(), True),
            T.StructField("text", T.StringType(), True),
            T.StructField("media_ref", T.StringType(), True),
            T.StructField("offset", T.IntegerType(), False),
        ]
    )
    schema = T.StructType(
        [
            T.StructField("doc_id", T.StringType(), False),
            T.StructField("spans", T.ArrayType(nullable_span), False),
        ]
    )
    # empty-string kind FIRST in arrival order: a stable sort would keep
    # it first, the flag key must move the null-kind span ahead of it
    rows = [("tie", [("", None, "m000001", 5), (None, None, "m000001", 5)])]
    docs = spark.createDataFrame(rows, schema=schema)
    logits_rows = [
        (r.media_ref, [list(x) for x in r.logits], r.gold_text)
        for r in fx["media_logits"].collect()
    ]
    sql_map = _spans_map(
        extract_documents_sql(docs, fx["media_logits"], fx["dictionary"], STOP_TERMS)
    )
    arrow_map = _spans_map(
        extract_documents_fused_arrow(docs, logits_rows, fx["dict_lines"], STOP_TERMS)
    )
    logits_by_ref = {r.media_ref: [list(x) for x in r.logits] for r in fx["media_logits"].collect()}
    entries = R.load_dictionary(fx["dict_lines"])
    ref_out = [
        (s["kind"], s["text"], s["media_ref"], s["order"])
        for s in R.extract_document(
            [{"kind": k, "text": t, "media_ref": m, "offset": o} for k, t, m, o in rows[0][1]],
            logits_by_ref,
            entries,
            STOP_TERMS,
        )
    ]
    assert sql_map["tie"] == arrow_map["tie"] == ref_out
    assert sql_map["tie"][0][0] is None and sql_map["tie"][1][0] == ""  # null first


def test_sql_preserves_empty_doc(spark, fx, adv_docs):
    out = extract_documents_sql(adv_docs, fx["media_logits"], fx["dictionary"], STOP_TERMS)
    row = {r.doc_id: r.spans for r in out.collect()}["empty"]
    assert row == []
