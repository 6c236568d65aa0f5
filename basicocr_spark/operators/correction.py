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
That band join stays correct_tokens' default route.

`DictionaryIndex` is the same semantics as a numpy index: one
vectorized Levenshtein DP per token against every dictionary word. It
is the ONE index behind both callers that hold the dictionary in
memory: the production Arrow kernel's media leg
(operators/extraction.py, one index per worker per job) and the
>= CORRECTION_INDEX_THRESHOLD route of correct_tokens. Both are
checked against reference.correct_word, which stays the oracle.

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
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .. import reference as R
from ..functions.textnorm import uniform

# At/above this many dictionary entries the broadcast band join's
# O(vocab x dict) levenshtein grid stops being acceptable (the
# reference's published lexicon config is 50k words with a BK-tree,
# docs/yangmiao/CRNN/crnn.md:148) and the driver-built DictionaryIndex
# route is taken instead — the same size-thresholded routing pattern as
# boilerplate.AC_TERM_THRESHOLD.
CORRECTION_INDEX_THRESHOLD = 10_000


def correction_candidates(
    tokens_df: DataFrame,
    dict_df: DataFrame,
    token_col: str = "token",
    max_cost: int = 3,
    retry_extra: int = 3,
) -> DataFrame:
    """All (token, word, dist, freq, line_id) candidates within the
    *effective* radius: max_cost when any candidate is inside it, else
    max_cost + retry_extra (the escalating-retry of trietree_correct.py
    :255-258, done in ONE pass by computing distance once and choosing
    the radius per token afterwards — the broadcast is reused, which is
    exactly what two sequential joins would AQE-cache anyway).

    The sargable length-band predicate |len(token) - len(word)| <= radius
    runs BEFORE levenshtein (edit distance is lower-bounded by the length
    difference, so the band loses nothing): Catalyst short-circuits the
    conjunction, so the O(len^2) DP only evaluates for the ~1/10th of the
    grid inside the band."""
    radius = max_cost + retry_extra
    band = (
        F.abs(F.length(F.col(token_col)) - F.length(F.col("word"))) <= radius
    )
    # thresholded levenshtein (early-exit banded DP): returns -1 when the
    # distance exceeds `radius`, so keep the >= 0 guard in the filter
    d = F.levenshtein(F.col(token_col), F.col("word"), radius)
    cands = (
        tokens_df.crossJoin(F.broadcast(dict_df))
        .filter(band)
        .withColumn("dist", d)
        .filter(F.col("dist") >= 0)
    )
    w = Window.partitionBy(token_col)
    return (
        cands.withColumn("min_dist_all", F.min("dist").over(w))
        .withColumn(
            "eff_cost",
            F.when(F.col("min_dist_all") <= max_cost, max_cost).otherwise(
                max_cost + retry_extra
            ),
        )
        .filter(F.col("dist") <= F.col("eff_cost"))
        .drop("min_dist_all", "eff_cost")
    )


class DictionaryIndex:
    """Exact in-memory correction index: the job of the trie's
    branch-and-bound walk (trietree_correct.py:153-199), done as ONE
    numpy Levenshtein DP per token, vectorized across dictionary words.
    Built once (a worker builds one per job; the indexed Spark route
    builds one on the driver and ships it in the mapInPandas closure).

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


def correction_candidates_indexed(
    tokens_df: DataFrame,
    dict_entries: list[tuple],
    token_col: str = "token",
    max_cost: int = 3,
    retry_extra: int = 3,
) -> DataFrame:
    """Indexed route of correction_candidates for lexicon-scale
    dictionaries (>= CORRECTION_INDEX_THRESHOLD): identical output
    contract — (token, word, dist, freq, line_id) at the per-token
    effective radius — but candidate generation is a driver-built
    DictionaryIndex probed per distinct token inside one mapInPandas
    pass, instead of an O(vocab x dict) broadcast levenshtein grid. The
    per-token eff_cost choice (escalate to max_cost + retry_extra only
    when nothing sits within max_cost) is applied in-kernel on the one
    distance vector the index returns at max_cost + retry_extra, so no
    window is needed. tokens_df must be the single-column distinct-token
    frame (what correct_tokens probes with)."""
    import pandas as pd
    from pyspark.sql import types as T

    index = DictionaryIndex(R.DictEntry(lid, w, fr) for w, fr, lid in dict_entries)
    radius = max_cost + retry_extra
    schema = T.StructType(
        [
            T.StructField(token_col, T.StringType()),
            T.StructField("word", T.StringType()),
            T.StructField("dist", T.IntegerType()),
            T.StructField("freq", T.DoubleType()),
            T.StructField("line_id", T.LongType()),
        ]
    )

    def gen(batches):
        for pdf in batches:
            toks, words, dists, freqs, lids = [], [], [], [], []
            for tok in pdf[token_col]:
                if tok is None:
                    continue
                pos, dist = index.within(tok, radius)
                if not len(pos):
                    continue
                keep = dist <= (max_cost if dist.min() <= max_cost else radius)
                for p, d in zip(pos[keep], dist[keep].tolist()):
                    e = index.entries[p]
                    toks.append(tok)
                    words.append(e.word)
                    dists.append(d)
                    freqs.append(e.freq)
                    lids.append(e.line_id)
            if toks:
                yield pd.DataFrame(
                    {
                        token_col: toks,
                        "word": words,
                        "dist": pd.array(dists, dtype="int32"),
                        "freq": freqs,
                        "line_id": lids,
                    }
                )

    return tokens_df.select(token_col).mapInPandas(gen, schema=schema)


def resolve_candidates(cands: DataFrame, token_col: str = "token") -> DataFrame:
    """postProcessing tie-break over a candidate set -> (token, corrected)."""
    w = Window.partitionBy(token_col)
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
            F.col(token_col),
            F.when(
                (F.col("min_dist") == 0)
                | (F.col("n_min") == 1)
                | (F.length("word") == F.length(token_col)),
                F.col("word"),
            )
            .otherwise(F.col("best_freq_word"))
            .alias("corrected"),
        )
    )


def correct_tokens(
    tokens_df: DataFrame,
    dict_df: DataFrame,
    token_col: str = "token",
    max_cost: int = 3,
    normalize: bool = True,
    dict_entries: list[tuple] | None = None,
) -> DataFrame:
    """Distinct-token correction map: (token, corrected).

    Tokens absent from the dictionary even at the widened radius fall back
    to identity (trietree_correct.py:258-259). Correcting DISTINCT tokens
    (not occurrences) keeps the nested-loop probe proportional to
    vocabulary, not corpus, then a broadcast map-join rehydrates
    occurrences — at 100 TB the distinct-token side is what you want
    flowing through the levenshtein band join.

    Dictionary routing: the default is the Catalyst broadcast band join
    (JVM-side, zero Python — right at dict.txt scale). When the caller
    holds the dictionary driver-side (it is broadcast-sized by
    definition), pass `dict_entries` as (word, freq, line_id) tuples:
    at >= CORRECTION_INDEX_THRESHOLD entries the DictionaryIndex route is
    taken (the reference's own 50k-lexicon configuration, crnn.md:148),
    below it the entries are ignored in favor of the band join.
    """
    toks = tokens_df.select(token_col).distinct()
    if normalize:
        toks = toks.select(uniform(F.col(token_col)).alias(token_col)).distinct()
    if dict_entries is not None and len(dict_entries) >= CORRECTION_INDEX_THRESHOLD:
        cands = correction_candidates_indexed(toks, dict_entries, token_col, max_cost)
    else:
        cands = correction_candidates(toks, dict_df, token_col, max_cost)
    resolved = resolve_candidates(cands, token_col)
    return toks.join(resolved, token_col, "left").select(
        F.col(token_col),
        F.coalesce("corrected", F.col(token_col)).alias("corrected"),
    )
