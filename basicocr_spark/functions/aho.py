"""Aho-Corasick multi-pattern stop-content stripping.

The reference strips stop content with a double-array-trie AC automaton
(contrib/acautomata Test.java:60-81): one O(text) scan regardless of
dictionary size. The Spark column path (operators/boilerplate.py
strip_stop_content) canonicalizes the same semantics as ONE longest-
first regexp alternation — correct, but the regex engine re-tries the
alternation at every position, so cost grows with dictionary size and a
10k-term dictionary is ~O(dict) per character. This module is the
automaton path for large dictionaries: one pure-Python automaton, built
once on the driver, shipped in the task closure, scanning each Arrow
batch in a single mapInPandas pass.

Equality contract: strip() == re.sub(reference.stop_term_pattern(terms),
"", text) for every input — leftmost-longest greedy selection over all
AC matches reproduces exactly what the longest-first alternation does
(the regex engine takes, at each scan position, the longest alternative
that matches, then resumes after the match). Pinned by
tests/test_aho.py against the reference regex path on adversarial
overlapping dictionaries.
"""

from __future__ import annotations

from collections import deque

from pyspark.sql import DataFrame

# At/above this many terms the automaton path beats the compiled
# alternation; below it the whole-stage-codegen'd regexp column wins
# (no Python exchange at all). Chosen conservatively: the crossover in
# microbenchmarks sits well under 64 terms, but small dictionaries are
# the common case and belong JVM-side.
AC_TERM_THRESHOLD = 64


class AhoCorasick:
    """Dict-transition AC automaton with fail links and merged outputs.

    States are ints; goto[s] maps char -> state; out[s] lists the term
    LENGTHS ending at s (a state reached via fail links inherits the
    shorter suffix terms, merged at build time so matching never walks
    fail chains)."""

    __slots__ = ("goto", "fail", "out")

    def __init__(self, terms: list[str]):
        terms = sorted({t for t in terms if t})
        self.goto: list[dict[str, int]] = [{}]
        self.out: list[list[int]] = [[]]
        for t in terms:
            s = 0
            for ch in t:
                nxt = self.goto[s].get(ch)
                if nxt is None:
                    self.goto.append({})
                    self.out.append([])
                    nxt = len(self.goto) - 1
                    self.goto[s][ch] = nxt
                s = nxt
            self.out[s].append(len(t))
        # BFS from root's children (whose fail stays root): a child u of
        # r over char ch fails to the deepest proper-suffix state that
        # also has a ch edge. goto[f][ch] is always shallower than u, so
        # no self-loop is possible.
        self.fail = [0] * len(self.goto)
        q: deque[int] = deque(self.goto[0].values())
        while q:
            r = q.popleft()
            for ch, u in self.goto[r].items():
                q.append(u)
                f = self.fail[r]
                while f and ch not in self.goto[f]:
                    f = self.fail[f]
                self.fail[u] = self.goto[f].get(ch, 0)
                if self.out[self.fail[u]]:
                    self.out[u] = self.out[u] + self.out[self.fail[u]]

    def find_matches(self, text: str) -> list[tuple[int, int]]:
        """All occurrences as (start, length), in scan order."""
        s = 0
        goto, fail, out = self.goto, self.fail, self.out
        matches: list[tuple[int, int]] = []
        for i, ch in enumerate(text):
            while s and ch not in goto[s]:
                s = fail[s]
            s = goto[s].get(ch, 0)
            if out[s]:
                for length in out[s]:
                    matches.append((i - length + 1, length))
        return matches

    def strip(self, text: str) -> str:
        """Remove every term occurrence, leftmost-longest greedy — the
        exact semantics of the longest-first regex alternation."""
        matches = sorted(self.find_matches(text), key=lambda m: (m[0], -m[1]))
        parts: list[str] = []
        end = 0
        for start, length in matches:
            if start >= end:
                parts.append(text[end:start])
                end = start + length
        parts.append(text[end:])
        return "".join(parts)


def strip_terms_ac_df(
    df: DataFrame, terms: list[str], text_col: str = "text", out_col: str = "clean"
) -> DataFrame:
    """Append `out_col` = AC-stripped `text_col`: the automaton is built
    once on the driver, shipped to executors via closure capture (term
    dictionaries are broadcast-sized by definition, and closure capture —
    unlike sparkContext.broadcast — also works on Spark Connect sessions,
    which expose no sparkContext), and each Arrow batch is scanned in one
    mapInPandas pass (no per-row UDF). All other columns pass through;
    the output schema is a StructType (not a hand-formatted DDL string,
    which breaks on column names needing backticks)."""
    from pyspark.sql import types as T

    ac = AhoCorasick(terms)
    schema = T.StructType(list(df.schema.fields) + [T.StructField(out_col, T.StringType())])

    def gen(batches):
        for pdf in batches:
            pdf = pdf.copy()
            pdf[out_col] = [ac.strip(t) if t is not None else None for t in pdf[text_col]]
            yield pdf

    return df.mapInPandas(gen, schema=schema)
