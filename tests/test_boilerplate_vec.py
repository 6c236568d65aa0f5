"""The batch text-leg kernel (boilerplate_vec) vs the pure-Python
reference: fixed cases, the fixture corpus, Hypothesis-generated spans
over tags, every str.isspace code point and stop-term fragments, and
batches whose rows share blocks through the per-call block memo."""

import random

import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from basicocr_spark import reference as R
from basicocr_spark.fixtures import STOP_TERMS, gen_text_span
from basicocr_spark.operators.boilerplate_vec import make_vectorized_extractor

CASES = [
    "<p>plain paragraph with enough words to be kept by the scorer today</p>",
    '<div class="nav"><a href="/x">home</a> <a href="/y">about</a></div>',
    '<div class="footer">all rights reserved copyright</div>',
    "bare text line with a handful of words here",
    "<p>short</p>",
    "<li>list item navigation chrome</li>",
    "",
    "<p></p>",
    "<p>aa</p>\n<p>paragraph two has plenty of words to stay above the threshold</p>",
    None,
]

WHITESPACE = [chr(c) for c in range(0x110000) if chr(c).isspace()]
FRAGMENTS = [
    "<a href=x>", "</a>", "<p>", "</p>", "<li>", 'class="nav"', 'class="content"',
    "<", ">", "\n", "word", "two words", "a", "ab", "click", " here", "click here",
    "all rights reserved", "　",
] + WHITESPACE
# overlapping terms: which one wins is decided by the longest-first order;
# disjoint terms: a batch can hold one term in some spans, another in others
STOP_LISTS = [[], STOP_TERMS, ["a", " ", "ab", "　"], ["two words", "click here", "ab"]]
spans = st.one_of(st.none(), st.lists(st.sampled_from(FRAGMENTS), max_size=30).map("".join))


def _reference(data, terms):
    return [R.extract_main_text(x or "", terms) for x in data]


def test_vectorized_matches_reference():
    rng = random.Random(123)
    data = CASES + [gen_text_span(rng) for _ in range(60)]
    extract = make_vectorized_extractor(STOP_TERMS)
    got = extract(pd.Series(data, dtype=object))
    for raw, out in zip(data, got.to_numpy()):
        want = R.extract_main_text(raw or "", STOP_TERMS)
        assert out == want, repr((raw or "")[:100])


def test_fast_scalar_extractor_matches_reference():
    """One span per call (a one-row Arrow batch) must give the same
    output as the batched call: nothing leaks between rows."""
    rng = random.Random(321)
    data = [c for c in CASES if c is not None] + [gen_text_span(rng) for _ in range(30)]
    extract = make_vectorized_extractor(STOP_TERMS)
    for raw in data:
        (out,) = extract(pd.Series([raw], dtype=object)).to_numpy()
        assert out == R.extract_main_text(raw, STOP_TERMS)


@given(st.lists(spans, max_size=12), st.sampled_from(STOP_LISTS))
@settings(max_examples=400, deadline=None)
def test_extract_matches_reference_property(data, terms):
    """A whole batch of spans per call, so the batch-level stop-term
    prefilter sees terms present in some spans and absent from others."""
    index = pd.RangeIndex(7, 7 + len(data))
    got = make_vectorized_extractor(terms)(pd.Series(data, index=index, dtype=object))
    assert got.index.equals(index)
    assert got.tolist() == _reference(data, terms)


def test_stop_term_straddling_a_block_join_is_stripped():
    """One kept block ends in `click`, the next starts with `here`: the
    joined text holds `click here`, which must be stripped, while the
    batch's other spans hold no term."""
    straddle = (
        "<p>the first kept block ends with the word click</p>\n"
        "<p>here the second kept block goes on</p>"
    )
    data = ["<p>a neighbour span with no stop term in it</p>", straddle, "<p>click</p>"]
    got = make_vectorized_extractor(STOP_TERMS)(pd.Series(data, dtype=object)).tolist()
    assert got == _reference(data, STOP_TERMS)
    assert got[1] == "the first kept block ends with the word the second kept block goes on"


def test_repeated_blocks_do_not_leak_between_rows():
    """Rows that share a nav, footer or body block but differ elsewhere:
    a stop term spanning two kept blocks, or a block kept in one row and
    joined with different neighbours in another, must come out as the
    reference says, batched and one row per call."""
    nav = '<div class="nav"><a href="/home">home</a> <a href="/about">about</a></div>'
    footer = '<div class="footer">all rights reserved</div>'
    shared = "<p>shared paragraph with plenty of words to keep it click</p>"
    bodies = [
        "<p>here the second block completes a stop term across the join</p>",
        "<p>there is no stop term here at all in this body block</p>",
        "",
        "<li>here list chrome that the scorer drops</li>",
        shared,
    ]
    data = [f"{nav}\n{shared}\n{b}\n{footer}" for b in bodies]
    data += [f"{b}\n{nav}" for b in bodies] + [nav, footer, shared]
    for terms in STOP_LISTS:
        extract = make_vectorized_extractor(terms)
        want = _reference(data, terms)
        assert extract(pd.Series(data, dtype=object)).tolist() == want
        assert [extract(pd.Series([x], dtype=object)).iloc[0] for x in data] == want
