"""Unicode normalization & char-class segmentation as column expressions.

Reference: contrib/trietree/src/trietree_correct.py:21-91. The full-width
-> half-width map (Q2B) is a fixed 96-codepoint translation (U+3000 ->
space, U+FF00-FF5E -> U+0020-007E), which `F.translate` expresses exactly
— one codegen'd JVM pass, no UDF.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# U+3000 (ideographic space) -> ' '; U+FF00..FF5E -> U+0020..007E.
# Mirrors Q2B (trietree_correct.py:56-66): subtract 0xFEE0, accept only
# results inside [0x20, 0x7E].
Q2B_FROM = "　" + "".join(chr(c) for c in range(0xFF00, 0xFF5F))
Q2B_TO = " " + "".join(chr(c) for c in range(0x20, 0x7F))

# Char classes (trietree_correct.py:21-46): CJK U+4E00-9FA5, ASCII
# letters, digits; everything else is "other".
RUN_CLASS_RE = r"[0-9A-Za-z一-龥]"
OTHER_SPLIT_RE = r"[^0-9A-Za-z一-龥]+"


def q2b(col: Column) -> Column:
    """stringQ2B: full-width -> half-width (trietree_correct.py:68-69)."""
    return F.translate(col, Q2B_FROM, Q2B_TO)


def uniform(col: Column) -> Column:
    """Q2B + lowercase (trietree_correct.py:71-72)."""
    return F.lower(q2b(col))


def segment_runs(col: Column) -> Column:
    """Intended string2List semantics: array of maximal
    chinese/alpha/digit runs (trietree_correct.py:74-91; see
    reference.string2list_reference for the faithful quirky variant)."""
    return F.filter(F.split(col, OTHER_SPLIT_RE), lambda t: t != "")


def string2list_reference_col(col: Column) -> Column:
    """Faithful quirky string2List as one Catalyst expression.

    The reference's trailing `if len(utmp)!=0: append` lives INSIDE the
    char loop (trietree_correct.py:88-90), so the emitted sequence is:
    for every non-other char at 1-based position i, the current
    run-prefix ending at i; plus, for every run terminated by an 'other'
    char (not by end-of-string), one extra copy of the full run emitted
    at the terminator's position.

    Set-level construction: classify each char position, derive each
    position's run-start as max over prior boundary positions, then emit
    substrings via flatten(transform(positions, ...)).
    """
    chars = F.split(col, "")
    n = F.length(col)
    pos = F.sequence(F.lit(1), F.greatest(n, F.lit(1)))

    def is_run_at(i: Column) -> Column:
        return F.element_at(chars, i).rlike("^" + RUN_CLASS_RE + "$")

    # run_start(i) = 1 + last position j <= i that is an 'other' char
    # (0 if none). aggregate over positions up to i is O(n^2) but fine for
    # token-sized strings; kernels use the pandas variant for long text.
    def run_start(i: Column) -> Column:
        prior_other = F.filter(pos, lambda j: (j <= i) & ~is_run_at(j))
        return F.coalesce(F.array_max(prior_other), F.lit(0)) + 1

    def emit(i: Column) -> Column:
        run_chars = lambda a, b: F.array_join(F.slice(chars, a, b - a + 1), "")
        rs = run_start(i)
        # non-other char: emit prefix run_chars(rs, i)
        # other char terminating a non-empty run (i>rs): emit full prior run
        prev_rs = run_start(i - 1)
        return (
            F.when(is_run_at(i), F.array(run_chars(rs, i)))
            .when(
                (i > 1) & is_run_at(i - 1),
                F.array(run_chars(prev_rs, i - 1)),
            )
            .otherwise(F.array().cast("array<string>"))
        )

    return F.when(n == 0, F.array().cast("array<string>")).otherwise(
        F.flatten(F.transform(pos, emit))
    )
