"""Attention greedy decode — the autoregressive alternative to CTC.

The reference repo's executable decoder is CTC-only (contrib/crnn/
utils.py:25-101); its docs tier analyzes the attention-OCR decoder as
the successor (docs/yangmiao attention-OCR analysis). This module
implements that *dataflow* with deterministic stand-ins for the trained
parts (torch is absent in this container and the reference's attention
variant shipped no executable code; same stand-in discipline as the
multimodal decode stubs: batching/schema/UDF plumbing real, learned
math a deterministic placeholder a trained model drops into).

Decode semantics (per media span, logits = T x nclass; class 0 is the
CTC blank, char i of the alphabet maps to index i+1, utils.py:83):
- encoder states H = row-wise softmax(logits)  (T x nclass, float64);
- the frame sequence is segmented at blank gaps (frames whose argmax is
  class 0 — the positions CTC itself labels "no character here"); each
  maximal non-blank run is one ATTENDED REGION. Trained attention
  learns this segmentation; the untrained stand-in takes it from the
  evidence directly;
- one decode step per region, left to right (monotonic attention):
  content energies e_t = H_t . q over the region's frames, attention
  a = softmax(e), context c = a . H[region];
- emit k = argmax of c over the CHARACTER classes (1..nclass-1; an
  attention decoder's vocabulary has no blank), first-max tie like the
  CTC argmax; next query q = one-hot(k). The GO query is the zero
  vector (uniform attention on the first region);
- decode ends after the last region (the evidence stream's EOS).

This is a genuinely different decoder from CTC, with the textbook
behavioral difference: CTC emits one symbol per argmax RUN (so 'ab'
with no blank between them survives as two symbols), while the
attention decode emits one symbol per attended REGION (adjacent chars
with no blank separator merge into one step — the attention analog of
an alignment failure). tests/test_attention.py pins both the agreement
on blank-separated evidence and the divergence on a planted gapless
pair.

Two independent implementations, pinned equal by tests:
`attention_greedy_decode_py` (pure-Python scalar loops — the oracle) and
`attention_greedy_decode_np` (vectorized numpy — the batch kernel behind
the Arrow UDF). No per-row Python reaches Spark: the UDF is Arrow-batched.
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..reference import DEFAULT_ALPHABET


def _regions(argmaxes) -> list[tuple[int, int]]:
    """Maximal [i, j) runs of non-blank-argmax frames — the attended
    regions. Shared by both implementations (it is index bookkeeping,
    not math, so sharing cannot mask an arithmetic divergence)."""
    out = []
    start = None
    for t, k in enumerate(argmaxes):
        if k != 0 and start is None:
            start = t
        elif k == 0 and start is not None:
            out.append((start, t))
            start = None
    if start is not None:
        out.append((start, len(argmaxes)))
    return out


def attention_greedy_decode_py(mat, alphabet: str = DEFAULT_ALPHABET) -> str:
    """Pure-Python scalar-loop implementation (the independent oracle —
    no numpy, mirrors reference.py's role for CTC). mat: T x nclass
    nested lists/sequences of floats."""
    rows = [list(r) for r in (mat or [])]
    if not rows:
        return ""
    nclass = len(rows[0])
    # encoder states: row-wise softmax (max-shifted, float64)
    h = []
    for r in rows:
        m = max(r)
        ex = [math.exp(v - m) for v in r]
        s = sum(ex)
        h.append([v / s for v in ex])
    argmaxes = [max(range(nclass), key=lambda j: (r[j], -j)) for r in rows]
    q = [0.0] * nclass  # GO: zero query -> uniform attention
    out = []
    for i, j in _regions(argmaxes):
        e = [sum(h[t][c] * q[c] for c in range(nclass)) for t in range(i, j)]
        m = max(e)
        ae = [math.exp(v - m) for v in e]
        s = sum(ae)
        a = [v / s for v in ae]
        ctx = [
            sum(a[t - i] * h[t][c] for t in range(i, j)) for c in range(nclass)
        ]
        # emission vocabulary excludes the blank; first max wins
        k = max(range(1, nclass), key=lambda c: (ctx[c], -c))
        out.append(alphabet[k - 1])
        q = [0.0] * nclass
        q[k] = 1.0
    return "".join(out)


def attention_greedy_decode_np(mat, alphabet: str = DEFAULT_ALPHABET) -> str:
    """Vectorized numpy batch kernel (2-D array-like -> string). Empty
    logits decode to '' (guard BEFORE any axis op, same as
    decode_ctc_numpy)."""
    import numpy as np

    # array<array<float>> arrives as an object-dtype sequence of row
    # arrays (Arrow list-of-list) — stack rows explicitly
    if mat is None or len(mat) == 0:
        return ""
    arr = np.asarray([np.asarray(r, dtype=np.float64) for r in mat])
    if arr.size == 0:
        return ""
    h = arr - arr.max(axis=1, keepdims=True)
    np.exp(h, out=h)
    h /= h.sum(axis=1, keepdims=True)
    nclass = h.shape[1]
    q = np.zeros(nclass)
    out = []
    for i, j in _regions(arr.argmax(axis=1)):
        seg = h[i:j]
        e = seg @ q
        a = np.exp(e - e.max())
        a /= a.sum()
        ctx = a @ seg
        k = 1 + int(ctx[1:].argmax())  # blank excluded; first max on ties
        out.append(alphabet[k - 1])
        q = np.zeros(nclass)
        q[k] = 1.0
    return "".join(out)


def make_attention_decode_udf(alphabet: str = DEFAULT_ALPHABET):
    """Arrow-batched pandas UDF over a logits column (array<array<float>>)
    -> decoded string. The decode rides whole Arrow batches; per-span
    work happens in the numpy kernel."""

    @F.pandas_udf(T.StringType())
    def decode(logits_s: pd.Series) -> pd.Series:
        return pd.Series(
            [
                attention_greedy_decode_np(lg, alphabet)
                if lg is not None
                else ""
                for lg in logits_s
            ]
        )

    return decode
