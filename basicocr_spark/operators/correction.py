"""Dictionary correction: a broadcast levenshtein theta-join, plus one
exact in-memory index for the callers that hold the dictionary.

Reference: contrib/trietree/src/trietree_correct.py. The trie's
branch-and-bound DP walk (searchRecursive, :168-199) is an *index*; the
semantics are "all dictionary words within edit distance k, else k+3,
else identity; then the postProcessing tie-break (:202-242)". At Spark
scale the idiomatic equivalent is a broadcast nested-loop join with a
band predicate on Catalyst's built-in `levenshtein`, so the dictionary is
shipped once per executor and the probe side streams — no shuffle of the
(big) token side at all; only the final dedup-by-token is a hash agg.
correct_tokens runs it over a distinct-token frame: the Spark-side
correction route and the independent SQL oracle of the kernel's
correction.

`DictionaryIndex` is the same semantics as a numpy index: one
vectorized Levenshtein DP per token against every dictionary word. Its
one caller is the production Arrow kernel's media leg
(operators/extraction.py, one index per worker per job). It is checked
against reference.correct_word, which stays the oracle, and never
shares code with the band join it is cross-checked against.

Tie-break pinning (SURVEY.md §7 hard part #1): candidate order is
dictionary file order (`line_id`). The rule, reproduced exactly from
postProcessing including its first-iteration-return quirk:
  c0       := first candidate by (dist asc, line_id asc)
  min-dist set := candidates at min dist
  result   := c0.word                     if c0.dist == 0
           |  c0.word                     if |min-dist set| == 1
           |  c0.word                     if len(c0.word) == len(target)
           |  argmax-freq (first, by line_id) over min-dist set
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .. import reference as R
from ..functions.textnorm import uniform


def correction_candidates(
    tokens_df: DataFrame, dict_df: DataFrame, max_cost: int = 3
) -> DataFrame:
    """All (token, word, dist, freq, line_id) candidates within the
    *effective* radius: max_cost when any candidate is inside it, else
    max_cost + 3 (the escalating-retry of trietree_correct.py
    :255-258, done in ONE pass by computing distance once and choosing
    the radius per token afterwards — the broadcast is reused, which is
    exactly what two sequential joins would AQE-cache anyway).

    The sargable length-band predicate |len(token) - len(word)| <= radius
    runs BEFORE levenshtein (edit distance is lower-bounded by the length
    difference, so the band loses nothing): Catalyst short-circuits the
    conjunction, so the O(len^2) DP only evaluates for the ~1/10th of the
    grid inside the band."""
    radius = max_cost + 3
    band = F.abs(F.length(F.col("token")) - F.length(F.col("word"))) <= radius
    # thresholded levenshtein (early-exit banded DP): returns -1 when the
    # distance exceeds `radius`, so keep the >= 0 guard in the filter
    d = F.levenshtein(F.col("token"), F.col("word"), radius)
    cands = (
        tokens_df.crossJoin(F.broadcast(dict_df))
        .filter(band)
        .withColumn("dist", d)
        .filter(F.col("dist") >= 0)
    )
    w = Window.partitionBy("token")
    return (
        cands.withColumn("min_dist_all", F.min("dist").over(w))
        .withColumn(
            "eff_cost",
            F.when(F.col("min_dist_all") <= max_cost, max_cost).otherwise(radius),
        )
        .filter(F.col("dist") <= F.col("eff_cost"))
        .drop("min_dist_all", "eff_cost")
    )


class DictionaryIndex:
    """Exact in-memory correction index: the job of the trie's
    branch-and-bound walk (trietree_correct.py:153-199), done as ONE
    numpy Levenshtein DP per token, vectorized across dictionary words.
    Built once per job on each worker by the Arrow kernel's media leg.

    entries: reference.DictEntry list, words already uniform()-normalized
    (what load_dictionary yields). Their list order is the dictionary
    order the tie-break reads (line_id order for load_dictionary).

    Layout: the words sorted by length (stable, so equal lengths keep
    dictionary order) as a column-major int32 code-point array padded to
    the longest word with -1, plus their lengths. A query reads only the
    length band |len(word) - len(term)| <= radius (edit distance is at
    least the length difference, the same band correction_candidates
    filters on) and only the columns up to the band's longest word.

    DP: in the shifted space y[j] = D[j] - j the Levenshtein row
    recurrence's left-neighbour term becomes a prefix minimum, so one
    term character is four array ops plus one np.minimum.accumulate
    over the whole band — len(term) such steps per query."""

    __slots__ = ("entries", "_order", "_lens", "_codes")

    def __init__(self, entries):
        self.entries = list(entries)
        lens = np.array([len(e.word) for e in self.entries], dtype=np.int32)
        self._order = np.argsort(lens, kind="stable")
        self._lens = lens[self._order]
        self._codes = np.full((int(lens.max(initial=0)), len(lens)), -1, dtype=np.int32)
        for col, i in enumerate(self._order):
            word = self.entries[i].word
            self._codes[: len(word), col] = [ord(c) for c in word]

    def within(self, term: str, radius: int) -> tuple[np.ndarray, np.ndarray]:
        """(positions, distances) of every entry within `radius` edits of
        `term`, positions ascending — i.e. in dictionary order."""
        lo, hi = np.searchsorted(self._lens, [len(term) - radius, len(term) + radius + 1])
        lens = self._lens[lo:hi]
        if not len(lens):
            return self._order[:0], lens
        codes = self._codes[: lens[-1], lo:hi]
        y = np.zeros((len(codes) + 1, len(lens)), dtype=np.int32)  # D(0, j) = j
        for i, ch in enumerate(term, 1):
            z = np.empty_like(y)
            z[0] = i
            np.minimum(y[1:] + 1, y[:-1] - (codes == ord(ch)), out=z[1:])
            y = np.minimum.accumulate(z, axis=0, out=z)
        dist = y[lens, np.arange(len(lens))] + lens
        keep = np.flatnonzero(dist <= radius)
        pos = self._order[lo:hi][keep]
        by_pos = np.argsort(pos)
        return pos[by_pos], dist[keep][by_pos]

    def correct(self, token: str, max_cost: int = 3) -> str:
        """reference.correct_word(token, entries, max_cost), exactly."""
        t = R.uniform(token)
        # the reference searches at k and, only when nothing is within k,
        # again at k+3 (trietree_correct.py:255-258). The tie-break reads
        # only the min-distance set, which is the same for the first
        # non-empty radius and for k+3, so one probe at k+3 decides both
        pos, dist = self.within(t, max_cost + 3)
        if not len(pos):
            return t
        best = dist.min()
        return R.post_processing(t, [(self.entries[p], best) for p in pos[dist == best]])


def resolve_candidates(cands: DataFrame) -> DataFrame:
    """postProcessing tie-break over a candidate set -> (token, corrected)."""
    w = Window.partitionBy("token")
    w_first = w.orderBy(F.col("dist").asc(), F.col("line_id").asc())
    w_freq = w.orderBy(F.col("freq").desc(), F.col("line_id").asc())

    scored = (
        cands.withColumn("min_dist", F.min("dist").over(w))
        .filter(F.col("dist") == F.col("min_dist"))
        .withColumn("rn", F.row_number().over(w_first))
        .withColumn("n_min", F.count(F.lit(1)).over(w))
        .withColumn("best_freq_word", F.first("word").over(w_freq))
    )
    return (
        scored.filter(F.col("rn") == 1)
        .select(
            F.col("token"),
            F.when(
                (F.col("min_dist") == 0)
                | (F.col("n_min") == 1)
                | (F.length("word") == F.length("token")),
                F.col("word"),
            )
            .otherwise(F.col("best_freq_word"))
            .alias("corrected"),
        )
    )


def correct_tokens(tokens_df: DataFrame, dict_df: DataFrame, max_cost: int = 3) -> DataFrame:
    """Distinct-token correction map: (token, corrected) for the
    uniform()-normalized values of tokens_df's `token` column.

    Tokens absent from the dictionary even at the widened radius fall back
    to identity (trietree_correct.py:258-259). Correcting DISTINCT tokens
    (not occurrences) keeps the nested-loop probe proportional to
    vocabulary, not corpus, then a broadcast map-join rehydrates
    occurrences — at 100 TB the distinct-token side is what you want
    flowing through the levenshtein band join.
    """
    toks = tokens_df.select(uniform(F.col("token")).alias("token")).distinct()
    resolved = resolve_candidates(correction_candidates(toks, dict_df, max_cost))
    return toks.join(resolved, "token", "left").select(
        F.col("token"),
        F.coalesce("corrected", F.col("token")).alias("corrected"),
    )
