"""The Arrow kernel's per-batch body (`extraction._extract_batch`) vs
`reference.extract_document`, with no Spark: Hypothesis draws random
span batches (null and out-of-contract kinds, null text, null and
unknown media refs, duplicate and shuffled offsets, zero-span docs,
stop terms in some spans only) and feeds them, whole or sliced, through
the production text extractor and recognizer on stub broadcasts."""

import functools

import pyarrow as pa
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from basicocr_spark import reference as R
from basicocr_spark.fixtures import STOP_TERMS, gen_dictionary, gen_media_logits
from basicocr_spark.operators import extraction as X

LOGITS = {ref: lg for ref, lg, _ in gen_media_logits(8)}
DICT_LINES = gen_dictionary(n_words=40)
ENTRIES = R.load_dictionary(DICT_LINES)
STOP_LISTS = {"none": [], "fixture": STOP_TERMS, "overlapping": ["a", "ab", "click here"]}

SPAN = pa.struct(
    [("kind", pa.string()), ("text", pa.string()), ("media_ref", pa.string()), ("offset", pa.int32())]
)
SCHEMA = pa.schema([("doc_id", pa.string()), ("spans", pa.list_(SPAN))])
OUT_SCHEMA = pa.schema([("doc_id", pa.string()), ("spans", pa.list_(X._OUT_SPAN))])

FRAGMENTS = [
    "<p>", "</p>", "<li>", '<div class="nav">', "</div>", "<a href=x>", "</a>", "\n",
    " ", "word", "two words", "a", "ab", "click", " here", "click here",
    "advertisement", "subscribe now", "all rights reserved",
]
texts = st.one_of(st.none(), st.lists(st.sampled_from(FRAGMENTS), max_size=12).map("".join))
refs = st.one_of(st.none(), st.sampled_from([*LOGITS, "m_NOPE", ""]))
# input contract: a text span has no media_ref (the reference drops it)
spans = st.builds(
    lambda kind, text, ref, offset: {
        "kind": kind, "text": text, "media_ref": None if kind == "text" else ref, "offset": offset
    },
    st.sampled_from(["text", "media", "pdf", "", None]), texts, refs, st.integers(0, 4),
)
docs = st.lists(st.lists(spans, max_size=5), max_size=8)


class _Broadcast:
    """Stands in for a Spark broadcast: the worker only reads `.value`."""

    def __init__(self, value):
        self.value = value


@pytest.fixture(scope="module")
def workers():
    """(extract_text, recognize_batch) per stop list, built as the kernel
    builds them on an executor."""
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(X, "_WORKER_CACHE", {})
        yield {
            name: X._worker_recognizer(
                _Broadcast(DICT_LINES), _Broadcast(terms), f"prop-{name}",
                functools.partial(X._broadcast_lookup, _Broadcast(LOGITS)),
            )
            for name, terms in STOP_LISTS.items()
        }


def _reference(doc_spans, terms):
    # the reference raises KeyError on unknown and null refs; the kernel
    # recognizes them to ''
    safe_logits = dict(LOGITS)
    for sp in doc_spans:
        safe_logits.setdefault(sp["media_ref"], [])
    return R.extract_document(doc_spans, safe_logits, ENTRIES, terms)


@given(docs, st.sampled_from(sorted(STOP_LISTS)), st.data())
@settings(max_examples=300, deadline=None)
def test_extract_batch_matches_reference(workers, batch, stop_list, data):
    rb = pa.RecordBatch.from_pylist(
        [{"doc_id": f"d{i}", "spans": s} for i, s in enumerate(batch)], schema=SCHEMA
    )
    # a sliced batch: list offsets no longer start at 0
    start = data.draw(st.integers(0, len(batch)), label="slice start")
    length = data.draw(st.integers(0, len(batch) - start), label="slice length")
    rb = rb.slice(start, length)

    out = X._extract_batch(rb, *workers[stop_list])

    assert out.schema == OUT_SCHEMA
    assert out.column(0).to_pylist() == rb.column(0).to_pylist()
    terms = STOP_LISTS[stop_list]
    want = [_reference(s, terms) for s in batch[start : start + length]]
    assert out.column(1).to_pylist() == want


def test_stop_term_in_some_spans_only(workers):
    """A batch where one text span holds a stop term and its neighbours
    do not: only that span is stripped."""
    body = "<p>plain words with nothing to strip at all</p>"
    batch = [
        [{"kind": "text", "text": body, "media_ref": None, "offset": 1}],
        [{"kind": "text", "text": "<p>please click here to go on</p>", "media_ref": None, "offset": 1}],
        [{"kind": "text", "text": body, "media_ref": None, "offset": 2},
         {"kind": "media", "text": None, "media_ref": next(iter(LOGITS)), "offset": 1}],
    ]
    rb = pa.RecordBatch.from_pylist(
        [{"doc_id": str(i), "spans": s} for i, s in enumerate(batch)], schema=SCHEMA
    )
    got = X._extract_batch(rb, *workers["fixture"]).column(1).to_pylist()
    assert got == [_reference(s, STOP_TERMS) for s in batch]
    assert got[1][0]["text"] == "please to go on"
    assert got[2][0]["kind"] == "media" and got[2][1]["text"] == "plain words with nothing to strip at all"


def test_null_vs_empty_ties_follow_the_composite_key(workers):
    """Spans that tie on (doc, offset) and on every filled key, differing
    only in null vs '' kind or media_ref: null sorts first, as in the
    reference and the SQL oracle, whatever the input order."""
    ref = next(iter(LOGITS))
    batch = [
        [{"kind": "", "text": None, "media_ref": ref, "offset": 1},
         {"kind": None, "text": None, "media_ref": ref, "offset": 1}],
        [{"kind": "media", "text": None, "media_ref": "", "offset": 0},
         {"kind": "media", "text": None, "media_ref": None, "offset": 0}],
    ]
    rb = pa.RecordBatch.from_pylist(
        [{"doc_id": str(i), "spans": s} for i, s in enumerate(batch)], schema=SCHEMA
    )
    got = X._extract_batch(rb, *workers["none"]).column(1).to_pylist()
    assert got == [_reference(s, []) for s in batch]
    assert [s["kind"] for s in got[0]] == [None, ""]
    assert [s["media_ref"] for s in got[1]] == [None, ""]
