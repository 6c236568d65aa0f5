"""Extraction-operator queries checked against reference-computed oracles.

The driver's DuckDB oracle can't run a CTC decode or the trie tie-break
in SQL — but it CAN compare against constants. So for the
extraction-specific operators we inline the expected output (computed by
the pure-Python reference implementation over the same deterministic
seeded fixtures) as VALUES clauses. That makes the driver's check a true
cross-implementation test: seeded fixture -> Spark operator pipeline vs
seeded fixture -> pure-Python reference semantics.

Everything here is deterministic: seed-pinned generators, no wall clock.
"""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from . import fixtures as FX
from . import reference as R
from . import schemas as S
from .functions.ctc import ctc_greedy_decode
from .operators.boilerplate import extract_main_text
from .operators.correction import correct_tokens
from .operators.extraction import extract_documents_sql, flatten_extracted

N_MEDIA = 24
N_DOCS = 24
SEED = 42


def _sql_quote(s: str | None) -> str:
    if s is None:
        return "NULL"
    return "'" + s.replace("'", "''") + "'"


def _values_sql(rows: list[tuple], cols: list[str]) -> str:
    def lit(v):
        if v is None:
            return "NULL"
        if isinstance(v, bool):
            return "TRUE" if v else "FALSE"
        if isinstance(v, float):
            # bare decimal literals parse as DECIMAL in DuckDB; the Spark
            # side emits DOUBLE and e.g. Decimal('0.958667') != 0.958667
            return f"CAST({v!r} AS DOUBLE)"
        if isinstance(v, int):
            return repr(v)
        return _sql_quote(str(v))

    body = ",\n".join("(" + ", ".join(lit(v) for v in row) + ")" for row in rows)
    collist = ", ".join(f'"{c}"' for c in cols)  # quote reserved words (e.g. "order")
    return f"SELECT * FROM (VALUES\n{body}\n) AS t({collist})"


# ---------------------------------------------------------------------------
# ctc_decode: Spark pure-SQL decode of planted logits vs planted labels
# ---------------------------------------------------------------------------

def ctc_decode_fixture(spark, sf_dir):
    """W1/W2 CTC greedy decode (argmax -> collapse repeats -> drop blanks) over seeded logits, checked against reference-computed constants."""
    rows = FX.gen_media_logits(N_MEDIA, SEED)
    df = spark.createDataFrame(rows, schema=S.MEDIA_LOGITS)
    return df.select(
        "media_ref", ctc_greedy_decode(F.col("logits")).alias("decoded")
    )


def ctc_decode_oracle_sql() -> str:
    rows = FX.gen_media_logits(N_MEDIA, SEED)
    return _values_sql([(r, gold) for r, _, gold in rows], ["media_ref", "decoded"])


# ---------------------------------------------------------------------------
# ctc_beam_decode: prefix beam search over SOFT planted logits — where the
# best labeling (mass summed over alignments) differs from greedy's best
# alignment on 17 of the 24 seeded rows
# ---------------------------------------------------------------------------

def ctc_beam_decode_fixture(spark, sf_dir):
    """CTC prefix beam search (W=3; Graves 2006 / Hannun 2014 —
    functions/ctc_beam.py) over seeded SOFT logits, checked against the
    independent pure-Python implementation. Greedy (utils.py:25-101
    semantics) disagrees on most of these rows by construction — the
    fixture pins the labeling-vs-alignment distinction, not a re-run of
    ctc_decode."""
    from .functions.ctc_beam import make_ctc_beam_decode_udf

    rows = FX.gen_soft_logits(N_MEDIA, SEED)
    df = spark.createDataFrame(
        rows, schema="media_ref string, logits array<array<float>>"
    )
    return df.select(
        "media_ref", make_ctc_beam_decode_udf()(F.col("logits")).alias("decoded")
    )


def ctc_beam_decode_oracle_sql() -> str:
    from .functions.ctc_beam import ctc_beam_decode_py

    rows = FX.gen_soft_logits(N_MEDIA, SEED)
    return _values_sql(
        [(r, ctc_beam_decode_py(lg)) for r, lg in rows], ["media_ref", "decoded"]
    )


# ---------------------------------------------------------------------------
# attention_decode: autoregressive attention decode of the same planted
# logits — Arrow-batched numpy kernel vs the pure-Python scalar-loop twin
# ---------------------------------------------------------------------------

def attention_decode_fixture(spark, sf_dir):
    """Attention greedy decode (encoder-state softmax -> content-attention
    -> autoregressive argmax emission until EOS; functions/attention.py —
    the docs-tier attention-OCR decoder variant, docs/yangmiao) over the
    same seeded logits as ctc_decode, checked against the independent
    pure-Python scalar-loop implementation."""
    from .functions.attention import make_attention_decode_udf

    rows = FX.gen_media_logits(N_MEDIA, SEED)
    df = spark.createDataFrame(rows, schema=S.MEDIA_LOGITS)
    return df.select(
        "media_ref", make_attention_decode_udf()(F.col("logits")).alias("decoded")
    )


def attention_decode_oracle_sql() -> str:
    from .functions.attention import attention_greedy_decode_py

    rows = FX.gen_media_logits(N_MEDIA, SEED)
    return _values_sql(
        [(r, attention_greedy_decode_py(lg)) for r, lg, _ in rows],
        ["media_ref", "decoded"],
    )


# ---------------------------------------------------------------------------
# correction: broadcast levenshtein pipeline vs reference.correct_word
# ---------------------------------------------------------------------------

def _correction_tokens() -> list[str]:
    dict_lines = FX.gen_dictionary(SEED)
    entries = R.load_dictionary(dict_lines)
    rng = random.Random(SEED * 23 + 9)
    alpha = R.uniform(R.DEFAULT_ALPHABET)
    toks: set[str] = set()
    words = [e.word for e in entries]
    for _ in range(60):
        w = rng.choice(words)
        m = rng.random()
        if m < 0.25:
            toks.add(w)
        elif m < 0.55 and len(w) > 2:
            i = rng.randrange(len(w))
            toks.add(w[:i] + rng.choice(alpha) + w[i + 1 :])
        elif m < 0.75:
            toks.add(w + rng.choice(alpha))
        elif m < 0.9:
            toks.add(w[:-1] or w)
        else:
            toks.add("qx" + str(rng.randrange(1000)))
    return sorted(toks)


def correction_fixture(spark, sf_dir):
    """J4/J5 dictionary correction (levenshtein band + escalating radius + exact tie-break quirk) on seeded tokens vs reference constants."""
    dict_lines = FX.gen_dictionary(SEED)
    entries = R.load_dictionary(dict_lines)
    dict_df = spark.createDataFrame(
        [(e.line_id, e.word, e.freq) for e in entries], schema=S.DICTIONARY
    )
    toks_df = spark.createDataFrame([(t,) for t in _correction_tokens()], "token string")
    return correct_tokens(toks_df, dict_df, max_cost=3)


def correction_oracle_sql() -> str:
    entries = R.load_dictionary(FX.gen_dictionary(SEED))
    rows = [(R.uniform(t), R.correct_word(t, entries, 3)) for t in _correction_tokens()]
    return _values_sql(sorted(set(rows)), ["token", "corrected"])


# ---------------------------------------------------------------------------
# boilerplate: column pipeline vs reference.extract_main_text
# ---------------------------------------------------------------------------

def _boilerplate_inputs() -> list[tuple[int, str]]:
    rng = random.Random(SEED * 29 + 11)
    return [(i, FX.gen_text_span(rng)) for i in range(30)]


def boilerplate_fixture(spark, sf_dir):
    """HTML boilerplate strip (block scoring: text/link density + class weights) on seeded pages vs reference-computed constants."""
    df = spark.createDataFrame(_boilerplate_inputs(), "span_id int, raw string")
    return df.select(
        "span_id", extract_main_text(F.col("raw"), FX.STOP_TERMS).alias("main_text")
    )


def boilerplate_oracle_sql() -> str:
    rows = [
        (i, R.extract_main_text(raw, FX.STOP_TERMS)) for i, raw in _boilerplate_inputs()
    ]
    return _values_sql(rows, ["span_id", "main_text"])


# ---------------------------------------------------------------------------
# extraction_e2e: full SQL pipeline, flattened, vs reference extractor
# ---------------------------------------------------------------------------

def extraction_e2e_fixture(spark, sf_dir):
    """Full extraction pipeline (route -> strip/recognize/correct -> stitch) on the seeded interleaved fixture, span-for-span vs the reference."""
    docs = FX.gen_documents(N_DOCS, N_MEDIA, SEED)
    logits = FX.gen_media_logits(N_MEDIA, SEED)
    dict_lines = FX.gen_dictionary(SEED)
    entries = R.load_dictionary(dict_lines)
    docs_df = spark.createDataFrame(
        [
            (d, [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in spans])
            for d, spans in docs
        ],
        schema=S.DOCUMENTS,
    )
    logits_df = spark.createDataFrame(logits, schema=S.MEDIA_LOGITS)
    dict_df = spark.createDataFrame(
        [(e.line_id, e.word, e.freq) for e in entries], schema=S.DICTIONARY
    )
    out = extract_documents_sql(docs_df, logits_df, dict_df, FX.STOP_TERMS)
    return flatten_extracted(out).select(
        "doc_id", "order", "kind", "text", F.coalesce("media_ref", F.lit("")).alias("media_ref")
    )


def extraction_e2e_oracle_sql() -> str:
    docs = FX.gen_documents(N_DOCS, N_MEDIA, SEED)
    logits = FX.gen_media_logits(N_MEDIA, SEED)
    dict_lines = FX.gen_dictionary(SEED)
    gold = FX.golden_extraction(docs, logits, dict_lines)
    rows = [
        (doc_id, s["order"], s["kind"], s["text"], s["media_ref"] or "")
        for doc_id, spans in gold
        for s in spans
    ]
    return _values_sql(rows, ["doc_id", "order", "kind", "text", "media_ref"])


# ---------------------------------------------------------------------------
# recognition accuracy (A3: n_correct / n_total — crnn_main.py:158-190)
# ---------------------------------------------------------------------------

def recognition_accuracy_fixture(spark, sf_dir):
    """Exact-match accuracy of the pure-SQL CTC decode against the
    planted labels — the reference's val() metric as one aggregation."""
    rows = FX.gen_media_logits(N_MEDIA, SEED)
    df = spark.createDataFrame(rows, schema=S.MEDIA_LOGITS)
    decoded = df.select(
        "gold_text", ctc_greedy_decode(F.col("logits")).alias("decoded")
    )
    return decoded.agg(
        F.sum(F.when(F.col("decoded") == F.col("gold_text"), 1).otherwise(0))
        .cast("long")
        .alias("n_correct"),
        F.count(F.lit(1)).alias("n_total"),
        F.round(
            F.sum(F.when(F.col("decoded") == F.col("gold_text"), 1).otherwise(0))
            / F.count(F.lit(1)),
            6,
        ).alias("accuracy"),
    )


def recognition_accuracy_oracle_sql() -> str:
    rows = FX.gen_media_logits(N_MEDIA, SEED)
    n_correct = sum(1 for _, lg, gold in rows if R.ctc_greedy_decode(lg) == gold)
    n = len(rows)
    return _values_sql(
        [(n_correct, n, round(n_correct / n, 6))], ["n_correct", "n_total", "accuracy"]
    )


# ---------------------------------------------------------------------------
# PDF/layout parse: Spark Arrow parse of generated PDFs vs the
# generation-time ground-truth runs (independent oracle — the expected
# blocks are the INPUTS the bytes were built from, not parser output)
# ---------------------------------------------------------------------------

import functools


@functools.lru_cache(maxsize=1)
def _pdf_fixture():
    """Deterministic, so memoized — the triad fixture + oracles would
    otherwise rebuild and re-compress all 16 PDFs O(6) times per pass."""
    from .operators.pdfparse import gen_pdf_fixture

    return gen_pdf_fixture(16, SEED)


def pdf_layout_blocks_fixture(spark, sf_dir):
    """PDF text-layer parse (BT/ET grammar, FlateDecode) of generated PDFs: per-block page/x/y/text vs the generation-time layout."""
    from .operators.pdfparse import parse_pdf_layout

    fixture = _pdf_fixture()
    blobs = spark.createDataFrame(
        [(ref, content) for ref, _, content in fixture],
        "media_ref string, content binary",
    )
    return parse_pdf_layout(blobs)


def pdf_layout_blocks_oracle_sql() -> str:
    rows = []
    for ref, pages, _ in _pdf_fixture():
        for page_no, runs in enumerate(pages):
            for x, y, text in runs:
                rows.append((ref, page_no, x, y, text))
    return _values_sql(rows, ["media_ref", "page", "x", "y", "text"])


def pdf_reading_order_fixture(spark, sf_dir):
    """PDF reading order: line-group blocks by (page, y, x) into the deterministic text sequence, checked against the known layout."""
    from .operators.pdfparse import pdf_documents_text

    fixture = _pdf_fixture()
    blobs = spark.createDataFrame(
        [(ref, content) for ref, _, content in fixture],
        "media_ref string, content binary",
    )
    return pdf_documents_text(blobs)


def pdf_reading_order_oracle_sql() -> str:
    from .operators.pdfparse import reading_order_text

    rows = []
    for ref, pages, _ in _pdf_fixture():
        blocks = [
            {"page": p, "x": x, "y": y, "text": t}
            for p, runs in enumerate(pages)
            for x, y, t in runs
        ]
        if blocks:
            rows.append((ref, reading_order_text(blocks)))
    return _values_sql(rows, ["media_ref", "text"])


# ---------------------------------------------------------------------------
# triad extraction: text + media + pdf spans in one interleaved corpus
# ---------------------------------------------------------------------------

def _triad_fixture():
    """Interleaved docs mixing all three span kinds. Expected output is
    computed from independent ground truths: text spans via the
    pure-Python reference boilerplate, media spans via the reference
    decode+correct, pdf spans via the generation-time layout runs."""
    from .operators.pdfparse import reading_order_text

    pdfs = _pdf_fixture()
    logits = FX.gen_media_logits(N_MEDIA, SEED)
    entries = R.load_dictionary(FX.gen_dictionary(SEED))
    rng = random.Random(SEED * 77)
    docs, expected = [], []
    for i in range(18):
        doc_id = f"t{i:04d}"
        spans, exp = [], []
        off = 1
        spans.append(("text", f"<p>body words alpha beta {i}</p>", None, off)); off += 1
        m_ref, m_logits, _ = logits[rng.randrange(len(logits))]
        spans.append(("media", None, m_ref, off)); off += 1
        pdf_ref, pages, _ = pdfs[rng.randrange(len(pdfs))]
        spans.append(("pdf", None, pdf_ref, off)); off += 1
        docs.append((doc_id, spans))

        txt = R.extract_main_text(spans[0][1], FX.STOP_TERMS)
        exp.append(("text", txt, None))
        raw = R.ctc_greedy_decode(m_logits)
        corrected = (
            " ".join(R.correct_word(t, entries, 3) for t in raw.split()) if raw else raw
        )
        exp.append(("media", corrected, m_ref))
        blocks = [
            {"page": p, "x": x, "y": y, "text": t}
            for p, runs in enumerate(pages)
            for x, y, t in runs
        ]
        pdf_text = reading_order_text(blocks) if blocks else ""
        exp.append(("pdf", pdf_text, pdf_ref))
        for order, (kind, text, mref) in enumerate(exp):
            expected.append((doc_id, kind, text, mref, order))
    return docs, expected


def triad_extraction_fixture(spark, sf_dir):
    """The full north-rule triad in one pipeline: text + media + pdf spans extracted and stitched, span-for-span vs the reference."""
    docs, _ = _triad_fixture()
    docs_df = spark.createDataFrame(
        [(d, [(k, t, m, o) for k, t, m, o in spans]) for d, spans in docs],
        schema=S.DOCUMENTS,
    )
    logits_df = spark.createDataFrame(FX.gen_media_logits(N_MEDIA, SEED), schema=S.MEDIA_LOGITS)
    entries = R.load_dictionary(FX.gen_dictionary(SEED))
    dict_df = spark.createDataFrame(
        [(e.line_id, e.word, e.freq) for e in entries], schema=S.DICTIONARY
    )
    pdf_blobs = spark.createDataFrame(
        [(ref, content) for ref, _, content in _pdf_fixture()],
        "media_ref string, content binary",
    )
    out = extract_documents_sql(
        docs_df, logits_df, dict_df, FX.STOP_TERMS, pdf_blobs=pdf_blobs
    )
    return flatten_extracted(out).select(
        "doc_id", "kind", "text", F.coalesce("media_ref", F.lit("")).alias("media_ref"), "order"
    )


def triad_extraction_oracle_sql() -> str:
    _, expected = _triad_fixture()
    rows = [(d, k, t, m or "", o) for d, k, t, m, o in expected]
    return _values_sql(rows, ["doc_id", "kind", "text", "media_ref", "order"])


# ---------------------------------------------------------------------------
# detection: anchor-proposal grouping (α/β filter + union-find + Alg.1
# combine) vs the reference union-find ground truth
# ---------------------------------------------------------------------------

def detection_groups_fixture(spark, sf_dir):
    """One row per combined text line: the Spark Arrow kernel's α/β
    filter -> union-find -> extent-union/mean-θ combine, flattened for
    the driver compare. Oracle: the same fixture's golden groups come
    from reference.group_segments (an independent pure-Python
    union-find), with the combine arithmetic recomputed numpy-identically."""
    from .operators.detection import group_segments_df

    rows = FX.gen_boxes(N_MEDIA, SEED)
    boxes_df = spark.createDataFrame(rows, schema=S.BOXES)
    out = group_segments_df(boxes_df)
    z = F.posexplode(F.arrays_zip("groups", "combined"))
    return out.select("media_ref", z.alias("gi", "g")).select(
        "media_ref",
        F.col("gi").cast("int").alias("group_idx"),
        F.array_join(F.transform(F.col("g.groups"), lambda m: m.cast("string")), ",").alias(
            "members"
        ),
        F.round("g.combined.x", 6).alias("x"),
        F.round("g.combined.y", 6).alias("y"),
        F.round("g.combined.w", 6).alias("w"),
        F.round("g.combined.h", 6).alias("h"),
        F.round("g.combined.theta", 6).alias("theta"),
        F.round("g.combined.score", 6).alias("score"),
    )


def detection_groups_oracle_sql() -> str:
    import numpy as np

    rows = []
    for ref, boxes, links, gold in FX.gen_boxes(N_MEDIA, SEED):
        for gi, g in enumerate(gold):
            xs0 = [boxes[i][0] - boxes[i][2] / 2 for i in g]
            xs1 = [boxes[i][0] + boxes[i][2] / 2 for i in g]
            ys0 = [boxes[i][1] - boxes[i][3] / 2 for i in g]
            ys1 = [boxes[i][1] + boxes[i][3] / 2 for i in g]
            rows.append(
                (
                    ref,
                    gi,
                    ",".join(str(i) for i in sorted(g)),
                    round((min(xs0) + max(xs1)) / 2, 6),
                    round((min(ys0) + max(ys1)) / 2, 6),
                    round(max(xs1) - min(xs0), 6),
                    round(max(ys1) - min(ys0), 6),
                    round(float(np.mean([boxes[i][4] for i in g])), 6),
                    round(float(np.mean([boxes[i][5] for i in g])), 6),
                )
            )
    return _values_sql(
        rows, ["media_ref", "group_idx", "members", "x", "y", "w", "h", "theta", "score"]
    )


def detection_nms_fixture(spark, sf_dir):
    """W5 NMS per media span (score-desc greedy suppress at IoU 0.5),
    kept indices joined to a stable string; oracle = reference.nms, the
    independent pure-Python greedy implementation, on the same boxes."""
    from .operators.detection import nms_df

    rows = FX.gen_boxes(N_MEDIA, SEED)
    boxes_df = spark.createDataFrame(rows, schema=S.BOXES)
    out = nms_df(boxes_df)
    return out.select(
        "media_ref",
        F.size("kept").cast("int").alias("n_kept"),
        F.array_join(F.transform(F.col("kept"), lambda m: m.cast("string")), ",").alias(
            "kept"
        ),
    )


def detection_nms_oracle_sql() -> str:
    rows = []
    for ref, boxes, _, _ in FX.gen_boxes(N_MEDIA, SEED):
        kept = R.nms([(x, y, w, h) for x, y, w, h, _, _ in boxes], [b[5] for b in boxes])
        rows.append((ref, len(kept), ",".join(str(i) for i in kept)))
    return _values_sql(rows, ["media_ref", "n_kept", "kept"])


def detection_rotated_nms_fixture(spark, sf_dir):
    """θ-aware NMS per media span (rotated-IoU greedy suppress at 0.5 —
    RRPN overlap, docs/nizhan): planted crossing lines must BOTH survive
    (axis-aligned NMS wrongly suppresses them) while parallel rotated
    dups suppress. Oracle = reference.rotated_nms, the independent
    pure-Python convex-clipping implementation, on the same boxes."""
    from .operators.detection import rotated_nms_df

    rows = FX.gen_rotated_boxes(N_MEDIA, SEED)
    boxes_df = spark.createDataFrame(rows, schema=FX.ROTATED_BOXES_SCHEMA)
    out = rotated_nms_df(boxes_df)
    return out.select(
        "media_ref",
        F.size("kept").cast("int").alias("n_kept"),
        F.array_join(F.transform(F.col("kept"), lambda m: m.cast("string")), ",").alias(
            "kept"
        ),
    )


def detection_rotated_nms_oracle_sql() -> str:
    rows = []
    for ref, boxes in FX.gen_rotated_boxes(N_MEDIA, SEED):
        kept = R.rotated_nms(
            [(x, y, w, h, th) for x, y, w, h, th, _ in boxes],
            [b[5] for b in boxes],
        )
        rows.append((ref, len(kept), ",".join(str(i) for i in kept)))
    return _values_sql(rows, ["media_ref", "n_kept", "kept"])


def detection_default_boxes_fixture(spark, sf_dir):
    """Anchor-proposal generation (TextBoxes default boxes,
    textbox.md:25-53): 6 aspect ratios x 2 vertical offsets per
    feature-map cell over an 8x8 grid, emitted via a higher-order array
    + posexplode — pure closed-form Catalyst arithmetic with a pure-SQL
    DuckDB oracle (no VALUES constants)."""
    from .operators.detection import default_boxes

    cs = F.lit(8.0)
    grid = (
        spark.range(8).select(F.col("id").alias("i"))
        .crossJoin(spark.range(8).select(F.col("id").alias("j")))
    )
    z = F.posexplode(default_boxes(F.col("i") * cs, F.col("j") * cs, cs))
    return grid.select("i", "j", z.alias("k", "b")).select(
        (F.col("i") * 8 + F.col("j")).alias("cell"),
        F.col("k").cast("int").alias("box_idx"),
        F.round("b.x", 6).alias("x"),
        F.round("b.y", 6).alias("y"),
        F.round("b.w", 6).alias("w"),
        F.round("b.h", 6).alias("h"),
    )


def detection_default_boxes_oracle_sql() -> str:
    return """
WITH cells AS (
  SELECT t1.i, t2.j FROM generate_series(0, 7) t1(i) CROSS JOIN generate_series(0, 7) t2(j)
), ratios AS (
  SELECT * FROM (VALUES (0, 1.0), (1, 2.0), (2, 3.0), (3, 5.0), (4, 7.0), (5, 10.0)) r(ri, r)
), dys AS (
  SELECT * FROM (VALUES (0, 0.0), (1, 0.5)) d(di, dy)
)
SELECT i * 8 + j AS cell,
       ri * 2 + di AS box_idx,
       round(i * 8.0 + 0.5 * 8.0, 6) AS x,
       round(j * 8.0 + (0.5 + dy) * 8.0, 6) AS y,
       round(8.0 * sqrt(r), 6) AS w,
       round(8.0 / sqrt(r), 6) AS h
FROM cells CROSS JOIN ratios CROSS JOIN dys
"""


# ---------------------------------------------------------------------------
# skew salting: heavy-doc slice -> extract -> merge == unsalted golden
# ---------------------------------------------------------------------------

def _heavy_docs():
    """Fixture docs with a heavy tail: every 5th doc's spans replicated
    to ~40x (re-offset sequentially) — the spans-per-doc skew the salting
    operator exists for."""
    docs = FX.gen_documents(N_DOCS, N_MEDIA, SEED)
    out = []
    for i, (doc_id, spans) in enumerate(docs):
        if i % 5 == 0:
            reps, off = [], 1
            for _ in range(40):
                for sp in spans:
                    reps.append({**sp, "offset": off})
                    off += 1
            out.append((doc_id, reps))
        else:
            out.append((doc_id, spans))
    return out


def salted_extraction_fixture(spark, sf_dir):
    """Map-side skew handling end-to-end: salt_heavy_docs bounds every
    row at 64 spans, the arrow kernel extracts each slice independently
    (doc_id and salt joined by salting.salt_key),
    merge_salted_extraction re-sorts and renumbers globally. Oracle: the pure-Python reference extractor on
    the UNSALTED docs — the whole salt/extract/merge path must be
    semantics-preserving."""
    from .operators.extraction import extract_documents_fused_arrow, flatten_extracted
    from .operators.salting import merge_salted_extraction, salt_heavy_docs, salt_key, split_salt_key

    docs = _heavy_docs()
    docs_df = spark.createDataFrame(
        [
            (d, [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in spans])
            for d, spans in docs
        ],
        schema=S.DOCUMENTS,
    )
    logits = FX.gen_media_logits(N_MEDIA, SEED)
    dict_lines = FX.gen_dictionary(SEED)
    salted = salt_heavy_docs(docs_df, max_spans=64)
    extracted = extract_documents_fused_arrow(
        salted.select(salt_key(F.col("doc_id"), F.col("salt")).alias("doc_id"), "spans"),
        logits,
        dict_lines,
        FX.STOP_TERMS,
    )
    did, salt = split_salt_key(F.col("doc_id"))
    merged = merge_salted_extraction(
        extracted.select(did.alias("doc_id"), salt.alias("salt"), "spans")
    )
    return flatten_extracted(merged).select(
        "doc_id", "order", "kind", "text", F.coalesce("media_ref", F.lit("")).alias("media_ref")
    )


def salted_extraction_oracle_sql() -> str:
    logits = FX.gen_media_logits(N_MEDIA, SEED)
    gold = FX.golden_extraction(_heavy_docs(), logits, FX.gen_dictionary(SEED))
    rows = [
        (doc_id, s["order"], s["kind"], s["text"], s["media_ref"] or "")
        for doc_id, spans in gold
        for s in spans
    ]
    return _values_sql(rows, ["doc_id", "order", "kind", "text", "media_ref"])


def video_frame_sample_fixture(spark, sf_dir):
    """Multimodal frame sampling: deterministic fake-video fixtures ->
    uniform-index sampled frames, emitting (media_ref, frame_idx,
    frame_bytes length). Oracle: the sampling index formula over the
    generator's known frame counts (corrupt blobs emit nothing)."""
    from .operators.multimodal import build_video_table, sample_frames

    refs = [f"v{i:06d}" for i in range(20)]
    videos = build_video_table(spark, refs, corrupt_every=5)
    return sample_frames(videos, n_samples=4).select(
        "media_ref",
        "frame_idx",
        F.length("content").cast("long").alias("frame_bytes"),
    )


def video_frame_sample_oracle_sql() -> str:
    from .operators.multimodal import encode_fake_image

    rows = []
    for i in range(20):
        if i % 5 == 4:
            continue  # corrupt blob: no frames
        ref = f"v{i:06d}"
        t = 3 + (i % 9)
        take = sorted({(j * (t - 1)) // 3 for j in range(4)}) if t > 4 else list(range(t))
        for idx in take:
            frame_len = len(encode_fake_image(f"{ref}#{idx}", 48, 32))
            rows.append((ref, idx, frame_len))
    return _values_sql(rows, ["media_ref", "frame_idx", "frame_bytes"])


from .operators.multimodal import MEDIA_PHASH_HAM_MAX  # noqa: E402 — single source


def media_phash_near_dup_fixture(spark, sf_dir):
    """Perceptual image dedup over the media column: dHash each decoded
    blob (operators/multimodal.media_dhash), then banded hamming-ball
    pairs via the SAME engine as the text simhash near-dup
    (queries.hamming_ball_pairs — 8 byte bands over the 64-bit hash,
    exact for the <=6 ball, DISTINCT-value clone collapse). Fixture
    plants byte-exact clones (hamming 0), lightly perturbed re-encodes
    (small hamming), distinct images (unpaired), and a corrupt blob
    (skipped). Oracle: pure-Python dHash + brute-force hamming over the
    same deterministic fixture."""
    from . import queries as Q
    from .operators.multimodal import build_phash_blob_table, media_dhash

    blobs = build_phash_blob_table(spark)
    hashes = media_dhash(blobs).localCheckpoint()
    return Q.hamming_ball_pairs(
        hashes, "phash", "media_ref", 8, MEDIA_PHASH_HAM_MAX, "ref_a", "ref_b"
    )


def _reference_dhash(buf: bytes, grid: int = 8) -> int | None:
    """Independent pure-Python dHash twin of media_dhash's numpy kernel
    (scalar loops, no numpy) — the oracle side of the cross-check."""
    from .operators.multimodal import decode_fake_image

    d = decode_fake_image(buf)
    if d is None:
        return None
    w, h, payload = d
    hv = 0
    for y in range(grid):
        sy = y * h // grid
        row = [payload[sy * w + (x * w // (grid + 1))] for x in range(grid + 1)]
        for x in range(grid):
            hv = (hv << 1) | (1 if row[x] > row[x + 1] else 0)
    if hv >= 1 << 63:
        hv -= 1 << 64
    return hv


def _phash_fixture_reference_pairs() -> list[tuple]:
    """Brute-force reference: dHash every fixture blob, emit all ordered
    pairs with hamming <= MEDIA_PHASH_HAM_MAX."""
    from .operators.multimodal import encode_fake_image, perturb_fake_image

    blobs = []
    for i in range(12):
        ref = f"img{i:04d}-{chr(97 + i)}{i * i + 7}"
        w = 96 + 8 * (i % 5)
        buf = encode_fake_image(ref, w, 32)
        blobs.append((ref, buf))
        if i % 3 == 0:
            blobs.append((f"{ref}_near", perturb_fake_image(buf, (4, 5))))
        if i % 4 == 0:
            blobs.append((f"{ref}_clone", buf))
    hashes = [(ref, _reference_dhash(buf)) for ref, buf in blobs]
    rows = []
    for i, (ra, ha) in enumerate(hashes):
        for rb, hb in hashes[i + 1 :]:
            ham = bin((ha ^ hb) & ((1 << 64) - 1)).count("1")
            if ham <= MEDIA_PHASH_HAM_MAX:
                lo, hi = sorted((ra, rb))
                rows.append((lo, hi, ham))
    return sorted(rows)


def media_phash_near_dup_oracle_sql() -> str:
    return _values_sql(
        _phash_fixture_reference_pairs(), ["ref_a", "ref_b", "hamming"]
    )


# ---------------------------------------------------------------------------
# audio_voice_windows: windowed audio features + voice gate vs a
# scalar-loop pure-Python twin of the numpy kernel
# ---------------------------------------------------------------------------

_N_AUDIO_REFS = 18


def audio_voice_windows_fixture(spark, sf_dir):
    """Audio-column plumbing end-to-end: deterministic fake waveforms ->
    fixed-window explode with exact integer energy / zero-crossing /
    voice-gate features (operators/multimodal.audio_window_features;
    corrupt blobs emit nothing). Oracle: the same deterministic fixture
    decoded and featurized by scalar Python loops — every column is
    integer or boolean, so parity needs no float tolerance."""
    from .operators.multimodal import audio_window_features, build_audio_table

    refs = [f"a{i:05d}" for i in range(_N_AUDIO_REFS)]
    return audio_window_features(build_audio_table(spark, refs, corrupt_every=6))


def _audio_reference_rows() -> list[tuple]:
    """Scalar-loop twin (no numpy) of the audio_window_features kernel
    over build_audio_table's generation-time fixture."""
    from .operators.multimodal import (
        AUDIO_WINDOW,
        SILENCE_MSQ,
        decode_fake_audio,
        encode_fake_audio,
    )

    rows = []
    for i in range(_N_AUDIO_REFS):
        if i % 6 == 5:
            continue  # corrupt blob: no windows
        ref = f"a{i:05d}"
        d = decode_fake_audio(encode_fake_audio(ref, 3 * AUDIO_WINDOW + 40 + 97 * i))
        assert d is not None
        _, samples = d
        for w in range(0, len(samples), AUDIO_WINDOW):
            seg = samples[w : w + AUDIO_WINDOW]
            n = len(seg)
            sq = sum(v * v for v in seg)
            zc = sum(1 for a, b in zip(seg, seg[1:]) if a * b < 0)
            rows.append((ref, w // AUDIO_WINDOW, n, sq, zc, sq >= SILENCE_MSQ * n))
    return rows


def audio_voice_windows_oracle_sql() -> str:
    return _values_sql(
        _audio_reference_rows(),
        ["media_ref", "win_idx", "n", "sum_sq", "zcr", "voiced"],
    )


# ---------------------------------------------------------------------------
# audio_fingerprint_near_dup: acoustic-fingerprint dedup over the audio
# column vs a scalar-loop + brute-force-hamming pure-Python twin
# ---------------------------------------------------------------------------


def audio_fingerprint_near_dup_fixture(spark, sf_dir):
    """The audio leg of crawl dedup: 2-bit-per-window energy
    fingerprints (operators/multimodal.audio_fingerprint) -> banded
    hamming-ball pairs via the SAME engine as the image dHash and text
    simhash (queries.hamming_ball_pairs — 8 byte bands, exact for the
    <= AUDIO_FP_HAM_MAX ball, DISTINCT-value clone collapse). Fixture
    plants byte-exact clones (hamming 0), zero-window perturbed
    re-encodes (small hamming), unrelated clips (unpaired), and a
    corrupt blob (skipped). Oracle: scalar-loop fingerprints +
    brute-force hamming over the same deterministic fixture."""
    from . import queries as Q
    from .operators.multimodal import (
        AUDIO_FP_HAM_MAX,
        audio_fingerprint,
        build_audio_fp_table,
    )

    hashes = audio_fingerprint(build_audio_fp_table(spark)).localCheckpoint()
    return Q.hamming_ball_pairs(
        hashes, "afp", "media_ref", 8, AUDIO_FP_HAM_MAX, "ref_a", "ref_b"
    )


def _audio_fp_reference_pairs() -> list[tuple]:
    from .operators.multimodal import (
        AUDIO_FP_HAM_MAX,
        _afp_of_samples,
        build_audio_fp_blob_list,
        decode_fake_audio,
    )

    fps = []
    for ref, buf in build_audio_fp_blob_list():
        d = decode_fake_audio(buf)
        if d is None or len(d[1]) == 0:
            continue
        fps.append((ref, _afp_of_samples(list(d[1]))))
    rows = []
    for i, (ra, ha) in enumerate(fps):
        for rb, hb in fps[i + 1 :]:
            ham = bin((ha ^ hb) & ((1 << 64) - 1)).count("1")
            if ham <= AUDIO_FP_HAM_MAX:
                lo, hi = sorted((ra, rb))
                rows.append((lo, hi, ham))
    return sorted(rows)


def audio_fingerprint_near_dup_oracle_sql() -> str:
    return _values_sql(
        _audio_fp_reference_pairs(), ["ref_a", "ref_b", "hamming"]
    )
