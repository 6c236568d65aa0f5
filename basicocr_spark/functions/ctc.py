"""CTC greedy decode as Spark column expressions.

Reference semantics (contrib/crnn/utils.py:25-101, demo.py:35-41):
- per-timestep argmax over nclass logits (first max on ties);
- index 0 is the CTC blank; char i of the alphabet maps to index i+1;
- collapse rule: keep t[i] iff t[i] != 0 and not (i>0 and t[i-1]==t[i]).

The SQL implementation is pure Catalyst higher-order functions —
whole-stage-codegen'd JVM execution, zero Python, no shuffle. Its twin
is `decode_ctc_numpy`, the vectorized decode the fused extraction
kernel runs; the two are cross-checked (SURVEY.md §2.9 mandates
implementing both and comparing).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..reference import DEFAULT_ALPHABET


def argmax_indices(logits: Column) -> Column:
    """array<array<float>> T×nclass -> array<int> of 0-based argmax per
    timestep. `array_position` returns the FIRST position of the max
    (1-based), matching numpy/torch first-max tie convention."""
    return F.transform(
        logits, lambda row: (F.array_position(row, F.array_max(row)) - F.lit(1)).cast("int")
    )


def ctc_collapse(indices: Column) -> Column:
    """Blank/repeat removal (utils.py:86-89): keep x_i iff x_i != 0 and
    x_i != x_{i-1}. Implemented as a zip with the shifted-self ([-1] ++
    indices[:-1], -1 never collides with a 0-based argmax) rather than a
    per-element F.get(indices, i-1): higher-order lambdas evaluate
    interpreted, so re-embedding `indices` in the lambda recomputes the
    whole upstream array (the argmax over T x nclass logits in
    ctc_greedy_decode) once PER ELEMENT — O(T^2 * nclass)."""
    prev = F.concat(
        F.array(F.lit(-1).cast("int")),
        F.slice(indices, 1, F.greatest(F.size(indices) - 1, F.lit(0))),
    )
    pairs = F.zip_with(indices, prev, lambda x, p: F.struct(x.alias("x"), p.alias("p")))
    return F.transform(
        F.filter(pairs, lambda s: (s["x"] != F.lit(0)) & (s["x"] != s["p"])),
        lambda s: s["x"],
    )


def indices_to_text(indices: Column, alphabet: str = DEFAULT_ALPHABET) -> Column:
    """array<int> of 1-based char indices -> string (utils.py:83 mapping,
    post-collapse so no blanks remain)."""
    alpha_arr = F.split(F.lit(alphabet), "")
    return F.array_join(F.transform(indices, lambda x: F.element_at(alpha_arr, x)), "")


def ctc_greedy_decode(logits: Column, alphabet: str = DEFAULT_ALPHABET) -> Column:
    """Full greedy decode: argmax -> collapse -> charmap. Pure JVM."""
    return indices_to_text(ctc_collapse(argmax_indices(logits)), alphabet)


def decode_ctc_numpy(mat, alphabet: str = DEFAULT_ALPHABET) -> str:
    """Batch-kernel used by the fused pipeline: 2-D ndarray -> string.
    Empty logits decode to '' (guard BEFORE argmax: np.asarray([])
    raises AxisError on axis=1, and the SQL twin emits '' for the empty
    case)."""
    import numpy as np

    arr = np.asarray(mat)
    if arr.size == 0:
        return ""
    t = arr.argmax(axis=1)
    keep = (t != 0) & np.concatenate(([True], t[1:] != t[:-1]))
    return "".join(alphabet[i - 1] for i in t[keep])
