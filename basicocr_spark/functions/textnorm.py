"""Unicode normalization as column expressions.

Reference: contrib/trietree/src/trietree_correct.py:56-72. The full-width
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


def q2b(col: Column) -> Column:
    """stringQ2B: full-width -> half-width (trietree_correct.py:68-69)."""
    return F.translate(col, Q2B_FROM, Q2B_TO)


def uniform(col: Column) -> Column:
    """Q2B + lowercase (trietree_correct.py:71-72)."""
    return F.lower(q2b(col))
