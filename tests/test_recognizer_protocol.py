"""resolve_recognizer contract: the media_ref -> logits forward seam
(reference: models/crnn.py:23-79 forward, demo.py:26-41) must flow
through the production Arrow kernel — fixture parity when the injected
forward replays fixture logits, visibly custom output when it doesn't,
batched invocation (one forward per kernel batch, misses only), and
zero engine edits either way."""

import functools

import numpy as np
import pytest
from pyspark.sql import functions as F

from basicocr_spark import reference as R
from basicocr_spark.fixtures import STOP_TERMS, gen_dictionary, gen_media_logits
from basicocr_spark.operators import extraction as X
from basicocr_spark.operators.extraction import (
    extract_documents_fused_arrow,
    flatten_extracted,
    resolve_recognizer,
)


def _logits_rows(fx):
    return [
        (r.media_ref, [list(x) for x in r.logits], r.gold_text)
        for r in fx["media_logits"].collect()
    ]


def _replay_forward(logits_rows, calls_acc=None):
    """A custom forward that replays the fixture logits — stands in for a
    real CRNN whose checkpoint reproduces the fixtures. Counts batched
    invocations through a Spark accumulator when given one."""
    by_ref = {ref: np.asarray(lg, dtype=np.float32) for ref, lg, *_ in logits_rows}

    def forward(refs):
        assert isinstance(refs, list)  # batch protocol, never a bare ref
        if calls_acc is not None:
            calls_acc.add(1)
        return [by_ref.get(r) for r in refs]

    return forward


def _run(fx, recognizer):
    """Flat extracted DataFrame from the Arrow kernel. Note logits_rows
    is EMPTY on the engine side: all logits come through the seam."""
    return flatten_extracted(
        extract_documents_fused_arrow(
            fx["documents"], [], fx["dict_lines"], STOP_TERMS, recognizer=recognizer
        )
    )


def test_custom_forward_matches_fixture_path_in_all_kernels(fx):
    """Injecting a forward that reproduces the fixture logits must yield
    EXACTLY the golden extraction — the engine's CTC decode + correction
    stay downstream of the seam."""
    rows = _logits_rows(fx)
    gold = flatten_extracted(fx["golden"])
    out = _run(fx, _replay_forward(rows))
    assert out.exceptAll(gold.select(*out.columns)).count() == 0
    assert gold.select(*out.columns).exceptAll(out).count() == 0


def test_custom_forward_output_actually_routes(fx):
    """A forward that recognizes nothing (all None -> '') must blank
    every media span — proving the injected callable is the one running,
    not a silent fixture fallback."""

    def blind(refs):
        return [None for _ in refs]

    got = _run(fx, blind).filter(F.col("kind") != "text")
    n_media = got.count()
    assert n_media > 0
    assert got.filter(F.col("text") == "").count() == n_media


def test_forward_is_batched_not_per_ref(spark, fx):
    """The kernel must call the forward ONCE per batch over memo
    misses, never per ref: total invocations stay at or below the
    partition count (one batch per partition at fixture scale), far
    below the media-span count."""
    rows = _logits_rows(fx)
    n_media = (
        fx["documents"].select(F.explode("spans").alias("s"))
        .filter(F.col("s.kind") != "text").count()
    )
    acc = spark.sparkContext.accumulator(0)
    out = extract_documents_fused_arrow(
        fx["documents"].repartition(2), [], fx["dict_lines"], STOP_TERMS,
        recognizer=_replay_forward(rows, acc),
    )
    flatten_extracted(out).count()
    assert n_media > 10
    assert 0 < acc.value <= 4, f"{acc.value} forward calls for {n_media} media spans"


def test_resolve_recognizer_rejects_non_callable():
    with pytest.raises(TypeError):
        resolve_recognizer(recognizer="not-a-callable")
    assert resolve_recognizer(None) is None
    f = lambda refs: [None] * len(refs)  # noqa: E731
    assert resolve_recognizer(f) is f


def test_short_forward_return_fails_at_the_seam(fx):
    """A forward returning fewer results than refs must raise a
    descriptive contract error inside the kernel, not a bare KeyError
    later."""
    def broken(refs):
        return [None for _ in refs][:-1]  # off-by-one short

    out = extract_documents_fused_arrow(
        fx["documents"], [], fx["dict_lines"], STOP_TERMS, recognizer=broken
    )
    with pytest.raises(Exception, match="recognizer forward returned"):
        flatten_extracted(out).count()


class _Broadcast:
    """Stands in for a Spark broadcast: the worker only reads `.value`."""

    def __init__(self, value):
        self.value = value


def test_recognition_memos_stay_under_the_cap(monkeypatch):
    """More distinct refs than the memo cap through one worker: the
    media and correction memos never exceed the cap, and every batch's
    output equals the uncapped worker's and reference.correct_word."""
    logits_by_ref = {ref: lg for ref, lg, _ in gen_media_logits(24)}
    dict_lines = gen_dictionary(n_words=40)
    refs = list(logits_by_ref)
    # overlapping batches, twice over: hits, misses and evicted refs
    batches = [refs[i : i + 5] + refs[:2] for i in range(0, len(refs), 5)] * 2
    monkeypatch.setattr(X, "_WORKER_CACHE", {})

    def run(token):
        _, recognize = X._worker_recognizer(
            _Broadcast(dict_lines), _Broadcast(STOP_TERMS), token,
            functools.partial(X._broadcast_lookup, _Broadcast(logits_by_ref)),
        )
        outs, sizes = [], []
        for batch in batches:
            outs.append(recognize(batch))
            cache = X._WORKER_CACHE[token]
            sizes.append(max(len(cache["media"]), len(cache["corr"])))
        return outs, sizes

    uncapped, sizes = run("uncapped")
    assert max(sizes) == len(refs)
    monkeypatch.setattr(X, "_MEMO_CAP", 4)
    capped, sizes = run("capped")
    assert max(sizes) <= 4
    assert capped == uncapped
    entries = R.load_dictionary(dict_lines)
    for batch, out in zip(batches, capped):
        assert set(out) == set(batch)
        for r in batch:
            raw = R.ctc_greedy_decode(logits_by_ref[r], R.DEFAULT_ALPHABET)
            assert out[r] == (R.correct_word(raw, entries, 3) if raw else "")
