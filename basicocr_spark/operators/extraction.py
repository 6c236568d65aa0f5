"""End-to-end interleaved-document extraction — the flagship pipeline.

Input (north rule `input_hint`):
    documents(doc_id string,
              spans array<struct<kind,text,media_ref,offset>>)

text spans  -> boilerplate strip + stop-content removal
media spans -> recognition (CTC greedy decode of per-ref logits — the
               deterministic stand-in for the CRNN forward,
               reference: contrib/crnn/demo.py:26-41) -> per-token
               dictionary correction (trietree semantics; the kernel
               runs it through correction.DictionaryIndex, and
               reference.correct_word is the oracle only)
stitch      -> spans re-emitted in (doc_id, offset-rank) order; output
               tuple (kind, text, media_ref, order) is the north-rule
               equality surface.

One production kernel plus two independent oracles, cross-checked
span-for-span in tests:

1. `extract_documents_fused_arrow` — the production kernel: one
   zero-shuffle mapInArrow pass, a loop over `_extract_batch`, built by
   `fused_arrow_kernel` once per job (broadcasts, memo token, forward),
   so a multi-snapshot run or a stream maps one kernel many times. The
   list<struct> span column is processed as flat Arrow child arrays (no
   per-span Python dicts): `kind` and `media_ref` stay Arrow arrays, and
   only text spans become Python strings. The stitch sorts on the int
   key (doc, offset) and reaches for the full composite key only when
   that key ties; spans stored in offset order are not gathered at all.
   Recognition + correction happen inside the batch through one route,
   a model forward (injected, or the fixture-logits lookup wrapped as
   one), and correction is a numpy DictionaryIndex probe per distinct
   decoded token. Docs never straddle partitions, so scaling efficiency
   is ~1 by construction.

2. `extract_documents_sql` — the declarative Catalyst oracle:
   explode -> route by kind -> broadcast-join logits -> pure-SQL CTC
   decode -> broadcast levenshtein correction -> re-aggregate with
   array_sort. Every dictionary-sized side is broadcast; the only
   shuffle is the final groupBy(doc_id) re-aggregation. With `pdf_blobs`
   it adds the kind='pdf' layout-parse leg.

3. `reference.extract_document` — the pure-Python oracle.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import reference as R
from ..functions.ctc import ctc_greedy_decode, decode_ctc_numpy
from ..functions.textnorm import uniform
from .boilerplate import extract_main_text
from .correction import DictionaryIndex, correct_tokens

EXTRACTED_SPAN_SCHEMA = (
    "doc_id string, spans array<struct<kind:string,text:string,media_ref:string,order:int>>"
)
_OUT_SPAN = pa.struct(
    [("kind", pa.string()), ("text", pa.string()), ("media_ref", pa.string()), ("order", pa.int32())]
)

# Per-Python-worker memo store, keyed by the job token closed over by
# the kernel (one per fused_arrow_kernel call: a whole run_extraction
# run or stream, not one snapshot or micro-batch). Spark reuses worker
# processes across a job's partitions, so decode+correct memos (and the
# compiled boilerplate extractor) survive partition boundaries —
# rebuilding them per partition costs ~0.23 s x n_partitions of pure
# recompute at 128 partitions. Bounded: the whole store is cleared when
# a new job token first appears (the previous job's cache is then dead
# weight), and each recognition memo (one entry per distinct media_ref
# / decoded token) is cleared when it reaches _MEMO_CAP entries.
_WORKER_CACHE: dict[str, dict] = {}
_MEMO_CAP = 2**16


def _remember(memo: dict, key, value):
    if len(memo) >= _MEMO_CAP:
        memo.clear()
    memo[key] = value
    return value


def _job_cache(token: str, builder):
    cache = _WORKER_CACHE.get(token)
    if cache is None:
        _WORKER_CACHE.clear()
        cache = _WORKER_CACHE[token] = builder()
    return cache


def resolve_recognizer(recognizer=None):
    """Recognizer-forward resolution — the model seam mirroring
    multimodal.resolve_decoder (reference: models/crnn.py:23-79 forward,
    demo.py:26-41). The protocol is `forward(refs: list[str | None]) ->
    list[logits | None]`: one batched call per Arrow batch's memo-missed
    refs, each result a (T, C) per-timestep class-score array (anything
    decode_ctc_numpy accepts) or None for an undecodable ref (which
    recognizes to '' — the reference's skip semantics, dataset.py:51-55).
    The engine keeps CTC greedy decode + dictionary correction
    downstream of the seam, so a production model supplies ONLY the
    forward pass.

    Returns the injected callable, or None when nothing is injected;
    a non-callable raises TypeError. fused_arrow_kernel turns None into
    the fixture-logits forward (`_broadcast_lookup`), so the worker only
    ever sees a forward. A real model (a TorchScript or any other
    checkpoint) is always an explicit injection: a trained forward is
    deployment config, not an importable library
    (run_extraction.py --recognizer module:factory;
    examples/numpy_crnn.py is one such factory)."""
    if recognizer is not None and not callable(recognizer):
        raise TypeError(
            "recognizer must be a callable list[ref] -> list[logits|None]"
        )
    return recognizer


def _broadcast_lookup(b_logits, refs):
    """The fixture-logits forward: each ref's logits from a broadcast
    {media_ref: logits} dict, None for an unknown ref. Module-level, so
    `functools.partial(_broadcast_lookup, b_logits)` pickles by
    reference and the dict ships once per executor with the broadcast."""
    logits_by_ref = b_logits.value
    return [logits_by_ref.get(r) for r in refs]


def _worker_recognizer(b_dict, b_stop, job_token, forward):
    """Executor-side: (batch text extractor, memoized batched
    recognize_batch) for the Arrow kernel. `forward` is the model
    forward fused_arrow_kernel resolved (an injected recognizer or the
    fixture-logits lookup). Correction runs through a
    correction.DictionaryIndex built once per worker per job token —
    one token per fused_arrow_kernel call, so a run_extraction run
    builds it once however many snapshots it commits (one vectorized
    Levenshtein DP per distinct decoded token); reference.correct_word
    is only its oracle."""
    from .boilerplate_vec import make_vectorized_extractor

    cache = _job_cache(
        job_token,
        lambda: {
            "index": DictionaryIndex(R.load_dictionary(b_dict.value)),
            "extract": make_vectorized_extractor(b_stop.value),
            "corr": {},
            "media": {},
        },
    )
    index = cache["index"]
    corr_memo: dict[str, str] = cache["corr"]
    media_memo: dict = cache["media"]

    def _decode_correct(lg) -> str:
        raw = decode_ctc_numpy(lg, R.DEFAULT_ALPHABET) if lg is not None else ""
        if not raw:
            return ""
        txt = corr_memo.get(raw)
        if txt is None:
            txt = _remember(corr_memo, raw, index.correct(raw, 3))
        return txt

    def recognize_batch(refs) -> dict:
        """One model forward per kernel batch over the memo MISSES only
        (deduped, order-preserving) — the north rule's batch-decoded,
        batch-recognized shape. Returns {ref: text} covering `refs`."""
        got = {r: media_memo[r] for r in refs if r in media_memo}
        misses = [r for r in dict.fromkeys(refs) if r not in got]
        if misses:
            logits = list(forward(misses))
            if len(logits) != len(misses):
                # fail AT the seam with the contract named — zip would
                # silently truncate and surface later as a bare KeyError
                raise ValueError(
                    "recognizer forward returned "
                    f"{len(logits)} results for {len(misses)} refs; the "
                    "protocol is list[ref] -> list[logits|None], "
                    "same length, same order"
                )
            for r, lg in zip(misses, logits):
                got[r] = _remember(media_memo, r, _decode_correct(lg))
        return got

    return cache["extract"], recognize_batch


def _extract_batch(rb: pa.RecordBatch, extract_text, recognize_batch) -> pa.RecordBatch:
    """One Arrow batch of (doc_id, spans) through the kernel, with no
    Spark: `extract_text` and `recognize_batch` are the pair
    _worker_recognizer returns. The list<struct> span column is read as
    flat child arrays; only text spans become Python strings, and
    `kind`/`media_ref` stay Arrow arrays from input to output."""
    doc_ids = rb.column(rb.schema.get_field_index("doc_id"))
    spans = rb.column(rb.schema.get_field_index("spans"))
    # list offsets are relative to the (possibly sliced) values
    offs = spans.offsets.to_numpy().astype(np.int64)
    counts = np.diff(offs)
    values = spans.values[offs[0] : offs[-1]]  # StructArray of the batch's spans
    total = len(values)
    kind = values.field("kind")
    mref = values.field("media_ref")

    out_text = np.empty(total, dtype=object)
    text_mask = pc.fill_null(pc.equal(kind, "text"), False).to_numpy(zero_copy_only=False)
    text_ix = np.flatnonzero(text_mask)
    if len(text_ix):
        raw = values.field("text").take(text_ix).to_pandas()
        out_text[text_ix] = extract_text(raw).to_numpy()
    media_ix = np.flatnonzero(~text_mask)
    if len(media_ix):  # ONE forward per Arrow batch, over its distinct refs
        refs = mref.take(media_ix).dictionary_encode(null_encoding="encode")
        distinct = refs.dictionary.to_pylist()  # first-appearance order, None kept
        lookup = recognize_batch(distinct)
        recognized = np.array([lookup[r] for r in distinct], dtype=object)
        out_text[media_ix] = recognized[refs.indices.to_numpy()]

    # same composite order as the SQL array_sort and the reference:
    # (doc, offset, kind-or-'', media_ref-or-'', text, then null-presence
    # flags breaking null-vs-'' ties, null first; out_text is never
    # null). Only the int pair is sorted unless some (doc, offset)
    # repeats: the other keys only break those ties.
    doc_ix = np.repeat(np.arange(len(counts), dtype=np.int64), counts)
    key = (doc_ix << 32) + values.field("offset").to_numpy(zero_copy_only=False)
    perm = None
    if np.any(key[1:] <= key[:-1]):
        perm = np.argsort(key, kind="stable")
        if np.any(np.diff(key[perm]) == 0):
            perm = np.lexsort((
                mref.is_valid().to_numpy(zero_copy_only=False),
                kind.is_valid().to_numpy(zero_copy_only=False),
                out_text,
                pc.fill_null(mref, "").to_numpy(zero_copy_only=False),
                pc.fill_null(kind, "").to_numpy(zero_copy_only=False),
                key,
            ))
        if np.array_equal(perm, np.arange(total)):
            perm = None
    if perm is not None:
        kind, mref, out_text = kind.take(perm), mref.take(perm), out_text[perm]

    order = np.arange(total) - np.repeat(offs[:-1] - offs[0], counts)
    struct = pa.StructArray.from_arrays(
        [kind, pa.array(out_text, type=pa.string()), mref, pa.array(order, type=pa.int32())],
        fields=list(_OUT_SPAN),
    )
    out_spans = pa.ListArray.from_arrays(pa.array(offs - offs[0], type=pa.int32()), struct)
    return pa.RecordBatch.from_arrays([doc_ids, out_spans], ["doc_id", "spans"])


def _stitch_spans(unioned: DataFrame, docs: DataFrame) -> DataFrame:
    """Re-aggregation stitch for the SQL oracle: array_sort on the
    composite key (offset, kind, media_ref-or-'', text-or-'') restores
    in-doc order deterministically regardless of shuffle arrival order
    (order is carried by data, not partition layout, so the plan stays
    correct under AQE re-planning); the rank-index becomes `order`;
    zero-span docs dropped by the explode are restored with empty arrays
    (the Arrow kernel and the reference preserve them)."""
    agg = unioned.groupBy("doc_id").agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col("offset"),
                    # null-kind contract: out-of-contract null kind sorts
                    # as '' (data passes through untouched below) — same
                    # `p[1] or ""` key as the reference and the Arrow kernel.
                    # The isNotNull flags then break null-vs-'' ties
                    # (null first, False < True) so the struct comparison
                    # never reaches the raw data fields and the order is
                    # identical to the kernel's explicit flag keys —
                    # without them, Spark's nulls-first raw-field
                    # comparison diverged from the kernel's stable sort
                    # on pathological same-key/different-nullness ties
                    F.coalesce("kind", F.lit("")).alias("kind_key"),
                    F.coalesce("media_ref", F.lit("")).alias("mref_key"),
                    F.coalesce("out_text", F.lit("")).alias("text_key"),
                    F.col("kind").isNotNull().alias("kind_nn"),
                    F.col("media_ref").isNotNull().alias("mref_nn"),
                    F.col("out_text").isNotNull().alias("text_nn"),
                    F.col("kind"),
                    F.col("out_text"),
                    F.col("media_ref"),
                )
            )
        ).alias("sorted_spans")
    )
    stitched = agg.select(
        "doc_id",
        F.transform(
            F.col("sorted_spans"),
            lambda s, i: F.struct(
                s["kind"].alias("kind"),
                s["out_text"].alias("text"),
                s["media_ref"].alias("media_ref"),
                i.cast("int").alias("order"),
            ),
        ).alias("spans"),
    )
    return (
        docs.select("doc_id")
        .join(stitched, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(
                "spans",
                F.array().cast(
                    "array<struct<kind:string,text:string,media_ref:string,order:int>>"
                ),
            ).alias("spans"),
        )
    )


def extract_documents_sql(
    docs: DataFrame,
    logits_df: DataFrame,
    dict_df: DataFrame,
    stop_terms: list[str],
    pdf_blobs: DataFrame | None = None,
) -> DataFrame:
    """Declarative Catalyst implementation. Returns EXTRACTED schema.

    `pdf_blobs` (media_ref, content binary) adds the north-rule triad's
    third leg: kind='pdf' spans join the blob table -> Arrow layout
    parse -> reading-order text, and leave the media route. pdf
    spans whose ref is missing from the blob table (or whose blob doesn't
    parse) emit '' like unknown media refs do (dataset.py:51-55
    skip-semantics analog). Without it, kind='pdf' is just another
    non-text kind and takes the media leg, as in the Arrow kernel."""
    spans = docs.select("doc_id", F.explode("spans").alias("s")).select(
        "doc_id",
        F.col("s.kind").alias("kind"),
        F.col("s.text").alias("text"),
        F.col("s.media_ref").alias("media_ref"),
        F.col("s.offset").alias("offset"),
    )
    cols = ["doc_id", "kind", "out_text", "media_ref", "offset"]

    # null text normalizes to '' (oracle: `sp["text"] or ""`)
    text_done = spans.filter(F.col("kind") == "text").withColumn(
        "out_text", extract_main_text(F.coalesce(F.col("text"), F.lit("")), stop_terms)
    )
    legs = [text_done]

    # routing is text vs non-text; out-of-contract kinds take the media
    # leg with their kind preserved (matches reference.extract_document).
    # eqNullSafe: schema declares kind non-null but parquet reads don't
    # enforce it — a null kind must route to the media leg like the
    # Arrow kernel and the reference do, not vanish (plain != is null)
    not_media = F.col("kind").eqNullSafe("text")
    if pdf_blobs is not None:
        from .pdfparse import pdf_documents_text

        pdf_texts = pdf_documents_text(pdf_blobs)  # (media_ref, text)
        # no broadcast hint: unlike the dictionary/logits sides, a PDF blob
        # corpus has no dictionary-size contract — forcing it past the
        # broadcast limit is a driver OOM at scale. AQE picks broadcast when
        # the parsed table is actually small.
        legs.append(
            spans.filter(F.col("kind") == "pdf")
            .join(pdf_texts.withColumnRenamed("text", "parsed"), "media_ref", "left")
            .withColumn("out_text", F.coalesce("parsed", F.lit("")))
        )
        not_media = not_media | F.col("kind").eqNullSafe("pdf")

    # refs missing from the logits table decode to '' (the reference
    # skips undecodable samples, dataset.py:51-55 — here: empty
    # recognition, row preserved)
    recognized = (
        spans.filter(~not_media)
        .join(F.broadcast(logits_df.select("media_ref", "logits")), "media_ref", "left")
        .withColumn(
            "raw_text",
            F.when(F.col("logits").isNull(), F.lit("")).otherwise(
                ctc_greedy_decode(F.col("logits"), R.DEFAULT_ALPHABET)
            ),
        )
    )
    # Correction operates on the distinct recognized vocabulary, then a
    # broadcast map-join rehydrates occurrences. Decoded text over this
    # alphabet is a single token (no whitespace in the alphabet).
    vocab = recognized.select(F.col("raw_text").alias("token")).filter(F.col("token") != "")
    corrections = correct_tokens(vocab, dict_df, max_cost=3)
    legs.append(
        recognized.withColumn("token", uniform(F.col("raw_text")))
        .join(F.broadcast(corrections), "token", "left")
        .withColumn("out_text", F.coalesce("corrected", F.col("token")))
    )

    unioned = legs[0].select(*cols)
    for leg in legs[1:]:
        unioned = unioned.unionByName(leg.select(*cols))
    return _stitch_spans(unioned, docs)


def fused_arrow_kernel(sc, logits_rows, dict_lines, stop_terms, recognizer=None):
    """Driver-side, once per job: the production kernel as a
    `mapInArrow` function, and the broadcasts it reads. Broadcasts the
    dictionary and the stop terms, draws the token that keys the
    per-worker memo store (`_WORKER_CACHE`) to this job, and resolves
    the forward: the injected `recognizer`, or else `logits_rows`
    broadcast and wrapped as `_broadcast_lookup` (no logits are
    broadcast when a recognizer is injected). Every mapInArrow that runs
    the kernel shares the memos, so a caller that extracts in several
    passes (run_extraction's snapshots, a stream's micro-batches) builds
    it once and unpersists the broadcasts when done."""
    import functools
    import uuid

    b_dict, b_stop = sc.broadcast(dict_lines), sc.broadcast(list(stop_terms))
    broadcasts = [b_dict, b_stop]
    forward = resolve_recognizer(recognizer)
    if forward is None:
        b_logits = sc.broadcast({ref: lg for ref, lg, *_ in logits_rows})
        broadcasts.append(b_logits)
        forward = functools.partial(_broadcast_lookup, b_logits)
    job_token = uuid.uuid4().hex

    def kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        extract_text, recognize_batch = _worker_recognizer(b_dict, b_stop, job_token, forward)
        for rb in batches:
            yield _extract_batch(rb, extract_text, recognize_batch)

    return kernel, broadcasts


def extract_documents_fused_arrow(
    docs: DataFrame,
    logits_rows: list[tuple],
    dict_lines: list[str],
    stop_terms: list[str],
    recognizer=None,
) -> DataFrame:
    """Zero-shuffle production kernel: one mapInArrow pass over the
    documents scan, each Arrow batch through `_extract_batch`. The
    nested list<struct> span column is decomposed into flat Arrow child
    arrays — no Python dicts are ever materialized for the spans; the
    in-doc order comes from the int key (doc, offset), with the full
    composite key only on ties; `kind`/`media_ref` stay Arrow, and the
    output list<struct> is rebuilt from the input offsets. The logits and
    dictionary fixtures ride a Spark broadcast; in production the
    recognition model plugs in via `recognizer=` (the resolve_recognizer
    forward protocol — one batched ref->logits call per Arrow batch's
    memo misses). Per-worker memoization makes correction cost
    proportional to the distinct recognized vocabulary. One-shot form of
    fused_arrow_kernel: callers that extract repeatedly build the kernel
    once and map it themselves."""
    kernel, _ = fused_arrow_kernel(
        docs.sparkSession.sparkContext, logits_rows, dict_lines, stop_terms, recognizer
    )
    return docs.mapInArrow(kernel, EXTRACTED_SPAN_SCHEMA)


def flatten_extracted(extracted: DataFrame) -> DataFrame:
    """(doc_id, span...) rows for equality comparison / downstream SQL."""
    return extracted.select("doc_id", F.explode("spans").alias("s")).select(
        "doc_id",
        F.col("s.kind").alias("kind"),
        F.col("s.text").alias("text"),
        F.col("s.media_ref").alias("media_ref"),
        F.col("s.order").alias("order"),
    )

