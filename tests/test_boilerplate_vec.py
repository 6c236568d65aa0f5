"""Vectorized pandas boilerplate kernel vs the pure-Python reference."""

import random

import pandas as pd

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
