"""Broadcast-levenshtein correction pipeline vs reference.correct_word.

Token sample is adversarial: exact dictionary words, distance-1/2
perturbations (tie-break paths), full-width/uppercase variants
(normalization), gibberish (identity fallback), and short tokens near
many candidates (min-dist ties + freq fallback).
"""

import random

from pyspark.sql import functions as F

from basicocr_spark import reference as R
from basicocr_spark.fixtures import gen_dictionary
from basicocr_spark.operators.correction import correct_tokens

_ALPHA_LOWER = R.uniform(R.DEFAULT_ALPHABET)


def _sample_tokens(entries, seed=5, n=80):
    rng = random.Random(seed)
    toks = []
    words = [e.word for e in entries]
    for _ in range(n):
        w = rng.choice(words)
        mode = rng.random()
        if mode < 0.2:
            toks.append(w)  # exact hit
        elif mode < 0.5 and len(w) > 2:
            i = rng.randrange(len(w))
            toks.append(w[:i] + rng.choice(_ALPHA_LOWER) + w[i + 1 :])  # subst
        elif mode < 0.7:
            toks.append(w + rng.choice(_ALPHA_LOWER))  # insert
        elif mode < 0.8:
            toks.append(w[:-1] or w)  # delete
        elif mode < 0.9:
            toks.append(w.upper())  # case normalization path
        else:
            toks.append("qqqq" + str(rng.randrange(100)))  # identity fallback
    return sorted(set(toks))


def test_correct_tokens_matches_reference(spark, fx):
    entries = R.load_dictionary(fx["dict_lines"])
    toks = _sample_tokens(entries)
    tokens_df = spark.createDataFrame([(t,) for t in toks], "token string")
    out = correct_tokens(tokens_df, fx["dictionary"], max_cost=3)
    got = {r.token: r.corrected for r in out.collect()}
    for t in toks:
        norm = R.uniform(t)
        assert got[norm] == R.correct_word(t, entries, 3), (t, norm, got[norm])


def test_correction_uses_broadcast_join(spark, fx):
    tokens_df = spark.createDataFrame([("abc",), ("def",)], "token string")
    out = correct_tokens(tokens_df, fx["dictionary"], max_cost=3)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_correction_band_predicate_precedes_levenshtein(spark, fx):
    """The sargable length-band predicate must sit in the same
    conjunction as (and to the left of) the levenshtein filter, so the
    O(len^2) DP only evaluates for the ~1/10th of the broadcast grid
    inside the band — the minimum lexicon-scale fix of VERDICT r2."""
    from basicocr_spark.operators.correction import correction_candidates

    tokens_df = spark.createDataFrame([("abc",), ("defg",)], "token string")
    plan = (
        correction_candidates(tokens_df, fx["dictionary"])
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    join_lines = [ln for ln in plan.splitlines() if "Join" in ln and "abs(" in ln]
    assert join_lines, plan
    # within the join's conjunction the cheap band predicate is the left
    # operand, so the DP short-circuits for out-of-band pairs
    assert join_lines[0].index("abs(") < join_lines[0].index("levenshtein("), join_lines[0]


def _big_dict(n=50_000, seed=11):
    """Deterministic 50k-entry lexicon (the reference's published
    correction config scale, crnn.md:148) with intentional near-miss
    families so radius queries have real work."""
    rng = random.Random(seed)
    entries = []
    for i in range(n):
        length = rng.randrange(3, 10)
        w = "".join(rng.choice("abcdefgh") for _ in range(length))
        entries.append((w, float(i % 97), i))
    return entries


def test_index_candidates_match_band_join_at_lexicon_scale(spark):
    """DictionaryIndex.within, cut to the per-token effective radius (3
    when any candidate is within 3, else 6), must produce EXACTLY the
    broadcast band join's candidate set on a generated 50k-word lexicon,
    and DictionaryIndex.correct the band join's resolved corrections
    (identity where the band join has no candidate) — same tie-breaks."""
    from basicocr_spark.operators.correction import (
        DictionaryIndex,
        correction_candidates,
        resolve_candidates,
    )

    entries = _big_dict()
    rng = random.Random(3)
    words = [w for w, _, _ in entries]
    toks = set()
    for _ in range(25):
        w = rng.choice(words)
        toks.add(w)  # exact
        i = rng.randrange(len(w))
        toks.add(w[:i] + rng.choice("abcdefghz") + w[i + 1 :])  # subst
        toks.add(w + "zz")  # dist 2
    toks.add("zzzzzzzzzzzzzzzz")  # no candidate at any radius
    toks = sorted(toks)
    tokens_df = spark.createDataFrame([(t,) for t in toks], "token string")

    dict_df = spark.createDataFrame(
        [(lid, w, fr) for (w, fr, lid) in entries], "line_id long, word string, freq double"
    )
    band = correction_candidates(tokens_df, dict_df)
    key = lambda r: (r["token"], r["word"], r["dist"], r["freq"], r["line_id"])

    index = DictionaryIndex(R.DictEntry(lid, w, fr) for w, fr, lid in entries)
    indexed = []
    for tok in toks:
        pos, dist = index.within(tok, 6)
        if not len(pos):
            continue
        keep = dist <= (3 if dist.min() <= 3 else 6)
        for p, d in zip(pos[keep].tolist(), dist[keep].tolist()):
            e = index.entries[p]
            indexed.append((tok, e.word, d, e.freq, e.line_id))
    assert sorted(indexed) == sorted(map(key, band.collect()))

    res_band = {r["token"]: r["corrected"] for r in resolve_candidates(band).collect()}
    for tok in toks:
        assert index.correct(tok, 3) == res_band.get(tok, tok), tok


def test_index_survives_pickle_on_a_charset_lexicon(spark):
    """The index must survive a pickle round trip on a single-character
    charset lexicon (all pairwise levenshtein 1, the reference's own CJK
    domain), a shape that degenerates a tree index into an O(n)-deep
    chain whose recursive pickle overflows the stack. The round-tripped
    index must answer like a linear scan."""
    import pickle

    from basicocr_spark.operators.correction import DictionaryIndex

    entries = [R.DictEntry(i, chr(0x4E00 + i), float(i % 97)) for i in range(2000)]
    index = pickle.loads(pickle.dumps(DictionaryIndex(entries)))
    for term, radius in [("中", 1), ("中文", 2), ("xyz", 3), (chr(0x4E00), 0)]:
        want = [
            (i, R.levenshtein(term, e.word))
            for i, e in enumerate(entries)
            if R.levenshtein(term, e.word) <= radius
        ]
        pos, dist = index.within(term, radius)
        assert list(zip(pos.tolist(), dist.tolist())) == want, (term, radius)
        assert index.correct(term, radius) == R.correct_word(term, entries, radius)

