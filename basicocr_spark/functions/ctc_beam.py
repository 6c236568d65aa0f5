"""CTC prefix beam-search decode — the standard upgrade over greedy.

The reference decodes CTC greedily only (contrib/crnn/utils.py:25-101:
per-frame argmax, collapse, blank-drop). Greedy picks the single best
ALIGNMENT; the CTC objective scores LABELINGS, each of which sums
probability over every alignment that collapses to it — so on soft
evidence the best labeling and the best alignment genuinely differ
(Graves et al. 2006 §3.2; Hannun et al. 2014's prefix-search
formulation, which this follows). Beam search tracks the top-W prefixes
with per-prefix (ends-in-blank, ends-in-symbol) probability mass:

  step t, prefix P with (p_b, p_nb), frame distribution y_t:
    blank:           (P,     p_b')  += (p_b + p_nb) * y_t[0]
    repeat last sym: (P,     p_nb') += p_nb * y_t[last]   (merges)
                     (P+sym, p_nb') += p_b  * y_t[last]   (after blank)
    new symbol k:    (P+k,   p_nb') += (p_b + p_nb) * y_t[k]
  keep the W best prefixes by total mass; emit the best at the end.

Everything is float64 on row-softmax probabilities; prefix selection
and the final winner sort by (-total, prefix) so ties break on the
lexicographically smallest index sequence — deterministic on both
implementations. W = BEAM_WIDTH = 3 (beyond ~3 the fixture evidence is
decided; the width is a parameter, not a constant of the algorithm).

Two independent implementations, pinned equal by tests:
`ctc_beam_decode_py` (pure-Python scalar loops — the VALUES oracle) and
`ctc_beam_decode_np` (numpy softmax + the same beam loop — the Arrow
UDF kernel; the beam set is O(W), so the per-frame loop is tiny next to
the T x nclass softmax). No per-row Python reaches Spark: the UDF is
Arrow-batched.
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..reference import DEFAULT_ALPHABET

BEAM_WIDTH = 3


def _beam_step(probs_t, beams, beam_width):
    """One frame of prefix beam search. `probs_t` is indexable by class;
    `beams` is a dict prefix-tuple -> [p_blank, p_nonblank]. Shared by
    both implementations — it is the algorithm's bookkeeping; the
    engine-dependent arithmetic (softmax) stays separate so sharing
    cannot mask a numeric divergence there."""
    nclass = len(probs_t)
    new: dict[tuple, list[float]] = {}

    def acc(prefix, slot, amount):
        cell = new.get(prefix)
        if cell is None:
            cell = [0.0, 0.0]
            new[prefix] = cell
        cell[slot] += amount

    # iterate prefixes in sorted order so float accumulation order is
    # identical across implementations and runs
    for prefix in sorted(beams):
        p_b, p_nb = beams[prefix]
        total = p_b + p_nb
        acc(prefix, 0, total * probs_t[0])  # blank extends mass in place
        for k in range(1, nclass):
            p = probs_t[k]
            if prefix and prefix[-1] == k:
                acc(prefix, 1, p_nb * p)  # repeat merges into the prefix
                acc(prefix + (k,), 1, p_b * p)  # blank-separated repeat
            else:
                acc(prefix + (k,), 1, total * p)
    ranked = sorted(new.items(), key=lambda kv: (-(kv[1][0] + kv[1][1]), kv[0]))
    return dict(ranked[:beam_width])


def ctc_beam_decode_py(
    mat, alphabet: str = DEFAULT_ALPHABET, beam_width: int = BEAM_WIDTH
) -> str:
    """Pure-Python scalar-loop implementation (the independent oracle).
    mat: T x nclass nested lists/sequences of floats."""
    rows = [list(r) for r in (mat or [])]
    if not rows:
        return ""
    probs = []
    for r in rows:
        m = max(r)
        ex = [math.exp(v - m) for v in r]
        s = sum(ex)
        probs.append([v / s for v in ex])
    beams = {(): [1.0, 0.0]}
    for pt in probs:
        beams = _beam_step(pt, beams, beam_width)
    best = min(beams.items(), key=lambda kv: (-(kv[1][0] + kv[1][1]), kv[0]))[0]
    return "".join(alphabet[k - 1] for k in best)


def ctc_beam_decode_np(
    mat, alphabet: str = DEFAULT_ALPHABET, beam_width: int = BEAM_WIDTH
) -> str:
    """Numpy-softmax twin (the Arrow batch kernel). Empty logits decode
    to '' (guard BEFORE any axis op, same as decode_ctc_numpy)."""
    import numpy as np

    if mat is None or len(mat) == 0:
        return ""
    arr = np.asarray([np.asarray(r, dtype=np.float64) for r in mat])
    if arr.size == 0:
        return ""
    p = arr - arr.max(axis=1, keepdims=True)
    np.exp(p, out=p)
    p /= p.sum(axis=1, keepdims=True)
    beams = {(): [1.0, 0.0]}
    for t in range(p.shape[0]):
        beams = _beam_step([float(v) for v in p[t]], beams, beam_width)
    best = min(beams.items(), key=lambda kv: (-(kv[1][0] + kv[1][1]), kv[0]))[0]
    return "".join(alphabet[k - 1] for k in best)


def make_ctc_beam_decode_udf(
    alphabet: str = DEFAULT_ALPHABET, beam_width: int = BEAM_WIDTH
):
    """Arrow-batched pandas UDF over a logits column (array<array<float>>)
    -> beam-decoded string; per-span work happens in the numpy kernel."""

    @F.pandas_udf(T.StringType())
    def decode(logits_s: pd.Series) -> pd.Series:
        return pd.Series(
            [
                ctc_beam_decode_np(lg, alphabet, beam_width)
                if lg is not None
                else ""
                for lg in logits_s
            ]
        )

    return decode
