"""Arrow-batched numpy kernels for the corpus-fingerprint hash family.

Exactly the arithmetic of `functions.textstats` (char-level base-31
polynomial hash mod 1e9+7; minhash permutations (2j+1)·h + 104729·(j+1)
mod 2^31-1; 32-bit simhash sign votes) — the DuckDB oracles are
unchanged and `tests/test_hash_kernels.py` pins kernel output equal to
the pure-Catalyst-expression output row for row.

Why these exist: the expression forms in textstats.py are the
semantically ideal zero-Python shape, but a `F.aggregate` whose lambda
builds arrays per element never enters whole-stage codegen — it
evaluates interpreted, ~100 ms of core time per 300-char document for
the 8-permutation minhash fold (measured at sf0.1). The same math as
flat numpy segment reductions runs ~2 orders of magnitude cheaper —
the difference between a dedup pass that fits a 100 TB budget and one
that doesn't. This is the sanctioned slow-path escape hatch of
SURVEY.md §2.9: Arrow-batched `mapInPandas`, no per-row Python UDFs.

Reference analogs: the minhash/simhash family generalizes the
reference's duplicate-sensitive dictionary lookup (candidate
generation + verification, contrib/trietree/src/trietree_correct.py:
153-199); the polynomial rolling hash is the fingerprint primitive.
"""

from __future__ import annotations

import math
import re
from collections import Counter

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from .textstats import MINHASH_PRIME, MOD

# Java/RE2 \s is ASCII-only; Python needs the explicit flag to match the
# split semantics of F.split(trim(text), '\\s+') and the DuckDB oracle.
_WS = re.compile(r"\s+", re.ASCII)


def _tokens(text: str | None) -> list[str]:
    """Mirror of textstats.tokens: F.trim strips spaces (0x20) only;
    all-space text -> []; otherwise split on ASCII \\s+ (which, like
    Java's String.split with limit -1, keeps interior/leading empties
    produced by non-space leading whitespace)."""
    if text is None:
        return []
    t = text.strip(" ")
    if t == "":
        return []
    return _WS.split(t)


_CJK_RUN = re.compile(r"([一-龥]+)")
_CJK_FULL = re.compile(r"^[一-龥]{2,}$")


def _cjk_tokens(text: str | None) -> list[str]:
    """Mirror of textstats.cjk_tokens: space out maximal CJK runs, then
    whitespace-tokenize (same trim/split semantics as _tokens) and emit
    each multi-char CJK run as overlapping character bigrams."""
    if text is None:
        return []
    spaced = _CJK_RUN.sub(r" \1 ", text)
    out: list[str] = []
    for t in _tokens(spaced):
        if _CJK_FULL.match(t):
            out.extend(t[i : i + 2] for i in range(len(t) - 1))
        else:
            out.append(t)
    return out


def _cjk_dict_tokens(text: str | None) -> list[str]:
    """Mirror of textstats.cjk_dict_tokens (priority maximum matching
    over the inline CJK_LEXICON): literal replaces with sentinel
    protection, single-char spacing for OOV hanzi, then whitespace
    tokenization — pinned token-for-token to the Catalyst form by
    tests/test_hash_kernels.py."""
    from .textstats import CJK_LEXICON, _cjk_sentinel

    if text is None:
        return []
    for i, w in enumerate(CJK_LEXICON):
        text = text.replace(w, f" {_cjk_sentinel(i)} ")
    text = _CJK_CHAR.sub(r" \1 ", text)
    for i, w in enumerate(CJK_LEXICON):
        text = text.replace(_cjk_sentinel(i), w)
    return _tokens(text)


_CJK_CHAR = re.compile(r"([一-龥])")

TOKENIZERS = {"ws": _tokens, "cjk": _cjk_tokens, "cjk_dict": _cjk_dict_tokens}


def _shingles(toks: list[str], k: int) -> list[str]:
    """Mirror of textstats.word_shingles: n <= k -> one whole-text
    shingle; else the n-k+1 k-grams, space-joined."""
    n = len(toks)
    if n <= k:
        return [" ".join(toks)]
    return [" ".join(toks[i : i + k]) for i in range(n - k + 1)]


# Chunk bound for poly_hash_flat's working set (total codepoints per
# inner call). The kernel streams ~8 full-length int64 temporaries per
# pass; bounding a chunk to 2^18 chars keeps them inside the per-core
# L2/L3 slice instead of DRAM — measured 2x faster single-threaded and
# it is what keeps 32 concurrent kernel tasks from saturating memory
# bandwidth on a packed executor host (the wide-run regression that made
# the unchunked kernel LOSE to the interpreted JVM fold at local[32]).
_POLY_CHUNK_CHARS = 1 << 18


def poly_hash_flat(strings: list[str]) -> np.ndarray:
    """Vectorized char_poly_hash over a flat list of strings:
    h(s) = fold acc -> (acc*31 + codepoint) % MOD, computed as
    sum(codepoint_j * 31^(len-1-j)) mod MOD over one concatenated
    codepoint array (no per-char Python). Inputs beyond
    _POLY_CHUNK_CHARS total codepoints are processed in string-aligned
    chunks (bit-identical — each string's hash is self-contained)."""
    n = len(strings)
    if n == 0:
        return np.zeros(0, dtype=np.int64)
    total_chars = sum(len(s) for s in strings)
    if total_chars > _POLY_CHUNK_CHARS:
        out = np.empty(n, dtype=np.int64)
        i = 0
        while i < n:
            j, tot = i, 0
            while j < n and (tot == 0 or tot + len(strings[j]) <= _POLY_CHUNK_CHARS):
                tot += len(strings[j])
                j += 1
            out[i:j] = _poly_hash_flat_one(strings[i:j])
            i = j
        return out
    return _poly_hash_flat_one(strings)


def _poly_hash_flat_one(strings: list[str]) -> np.ndarray:
    n = len(strings)
    lens = np.fromiter((len(s) for s in strings), dtype=np.int64, count=n)
    total = int(lens.sum())
    if total == 0:
        return np.zeros(n, dtype=np.int64)
    codes = np.frombuffer("".join(strings).encode("utf-32-le"), dtype=np.uint32).astype(
        np.int64
    )
    offsets = np.concatenate([[0], np.cumsum(lens)[:-1]])
    max_len = int(lens.max())
    pow31 = np.empty(max_len, dtype=np.int64)
    acc = 1
    for i in range(max_len):
        pow31[i] = acc
        acc = (acc * 31) % MOD
    rep_lens = np.repeat(lens, lens)
    rep_offs = np.repeat(offsets, lens)
    exp = rep_offs + rep_lens - 1 - np.arange(total, dtype=np.int64)
    # codepoint < 2^21 and 31^e mod MOD < 2^30: product < 2^51, and the
    # per-string partial sums stay far inside int64 before the final mod
    contrib = (codes * pow31[exp]) % MOD
    cs = np.concatenate([[0], np.cumsum(contrib)])
    seg = (cs[offsets + lens] - cs[offsets]) % MOD
    return seg.astype(np.int64)


def _segment_layout(counts: np.ndarray) -> np.ndarray:
    if counts.size == 0:
        return np.zeros(0, dtype=np.int64)
    return np.concatenate([[0], np.cumsum(counts)[:-1]]).astype(np.int64)


def minhash_batch(
    texts: list[str], num_hashes: int, k: int, toks: list[list[str]] | None = None
) -> np.ndarray:
    """(n_docs, num_hashes) int64 minhash signatures. Every doc has at
    least one shingle (word_shingles emits the whole text when short),
    so the per-doc minimum reductions are over non-empty segments.
    Pass `toks` to shingle another tokenizer's tokens (the 'cjk' leg of
    minhash_signatures_df)."""
    if not texts:
        return np.zeros((0, num_hashes), dtype=np.int64)
    if toks is None:
        toks = [_tokens(t) for t in texts]
    sh_per_doc = [_shingles(t, k) for t in toks]
    counts = np.fromiter((len(s) for s in sh_per_doc), dtype=np.int64, count=len(sh_per_doc))
    flat = [s for doc in sh_per_doc for s in doc]
    H = poly_hash_flat(flat)
    offsets = _segment_layout(counts)
    out = np.empty((len(texts), num_hashes), dtype=np.int64)
    for j in range(num_hashes):
        a = 2 * j + 1
        b = 104729 * (j + 1) % MINHASH_PRIME
        v = (a * H + b) % MINHASH_PRIME
        out[:, j] = np.minimum.reduceat(v, offsets)
    return out


def simhash_batch(texts: list[str], tokenizer: str = "ws") -> np.ndarray:
    """(n_docs,) int64 32-bit simhash: per-bit ±1 votes from each word
    hash, sign-thresholded. Docs with no tokens get 0 votes -> 0."""
    if not texts:
        return np.zeros(0, dtype=np.int64)
    tok_fn = TOKENIZERS[tokenizer]
    toks_per_doc = [tok_fn(t) for t in texts]
    counts = np.fromiter((len(t) for t in toks_per_doc), dtype=np.int64, count=len(toks_per_doc))
    flat = [w for doc in toks_per_doc for w in doc]
    W = poly_hash_flat(flat)
    bits = ((W[:, None] >> np.arange(32, dtype=np.int64)) & 1) * 2 - 1  # ±1 votes
    cs = np.concatenate([np.zeros((1, 32), dtype=np.int64), np.cumsum(bits, axis=0)])
    offsets = _segment_layout(counts)
    votes = cs[offsets + counts] - cs[offsets]
    weights = (np.int64(1) << np.arange(32, dtype=np.int64))[None, :]
    return ((votes > 0) * weights).sum(axis=1).astype(np.int64)


def shingle_hash_sets_batch(texts: list[str], k: int) -> list[list[int]]:
    """Per-doc sorted-unique shingle-hash sets (array_distinct order is
    irrelevant downstream — only intersection/union sizes are used).
    All docs' shingles hash in ONE flat poly_hash_flat call; per-doc
    np.unique runs over segment views (per-doc poly-hash dispatch was
    the dominant cost for short docs)."""
    if not texts:
        return []
    sh_per_doc = [_shingles(_tokens(t), k) for t in texts]
    counts = np.fromiter((len(s) for s in sh_per_doc), dtype=np.int64, count=len(sh_per_doc))
    H = poly_hash_flat([s for doc in sh_per_doc for s in doc])
    offsets = _segment_layout(counts)
    return [
        np.unique(H[a : a + c]).tolist() for a, c in zip(offsets, counts)
    ]


def poly_hash_batch(texts: pd.Series) -> pd.Series:
    """Arrow-batch twin of textstats.char_poly_hash as a column: null in,
    null out (F.aggregate over a null array is null); everything else is
    poly_hash_flat. Nullable Int64 so the null survives Arrow transfer."""
    mask = texts.notna()
    vals = poly_hash_flat([t for t in texts[mask]])
    out = pd.Series([pd.NA] * len(texts), dtype="Int64", index=texts.index)
    out[mask] = vals
    return out


def poly_hash_kernel(col):
    """Scalar pandas-UDF wrapper for poly_hash_batch, created per call
    (the DDL return-type parse needs an active SparkSession). Drop-in
    replacement for textstats.char_poly_hash on corpus-scan hot paths;
    the expression form remains the DuckDB-pairable oracle and
    tests/test_hash_kernels.py pins the two bit-identical. Works in
    batch and streaming plans alike.

    Honest economics (measured round 3, 100k docs x 2400 chars): for
    this SINGLE linear fold the interpreted Catalyst lambda costs
    ~0.12 us/char and the kernel wins ~1.8x in core time (27.9s vs
    15.2s serial) — NOT the ~100x of the nested minhash/simhash family,
    whose interpreted forms rebuild per-shingle arrays per permutation.
    The kernel's margin is bounded by Arrow string transfer and by
    memory bandwidth when every core runs it at once (hence the
    _POLY_CHUNK_CHARS cache blocking); on short-string columns
    (streaming span JSON, dictionary words) transfer is small and the
    kernel wins outright."""
    from pyspark.sql.functions import pandas_udf

    return pandas_udf(poly_hash_batch, "long")(col)


# ---------------------------------------------------------------------------
# DataFrame wrappers (mapInPandas — the Arrow-batched surface)
# ---------------------------------------------------------------------------

def minhash_signatures_df(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    num_hashes: int = 8, k: int = 2, tokenizer: str = "ws",
) -> DataFrame:
    """(id, mh0..mh{n-1}) via one Arrow pass; pure projection, no shuffle.
    tokenizer: 'ws' (whitespace) or 'cjk' (whitespace + CJK bigrams)."""
    tok_fn = TOKENIZERS[tokenizer]
    id_type = df.schema[id_col].dataType.simpleString()
    schema = f"{id_col} {id_type}, " + ", ".join(f"mh{j} long" for j in range(num_hashes))

    def gen(batches):
        for pdf in batches:
            texts = pdf[text_col].tolist()
            sig = minhash_batch(texts, num_hashes, k, toks=[tok_fn(t) for t in texts])
            out = {id_col: pdf[id_col]}
            for j in range(num_hashes):
                out[f"mh{j}"] = sig[:, j]
            yield pd.DataFrame(out)

    return df.select(id_col, text_col).mapInPandas(gen, schema=schema)


def simhash_df(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", tokenizer: str = "ws"
) -> DataFrame:
    id_type = df.schema[id_col].dataType.simpleString()

    def gen(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "simhash": simhash_batch(pdf[text_col].tolist(), tokenizer),
                }
            )

    return df.select(id_col, text_col).mapInPandas(gen, schema=f"{id_col} {id_type}, simhash long")


def shingle_hash_sets_df(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", k: int = 2
) -> DataFrame:
    id_type = df.schema[id_col].dataType.simpleString()

    def gen(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {id_col: pdf[id_col], "sh": shingle_hash_sets_batch(pdf[text_col].tolist(), k)}
            )

    return df.select(id_col, text_col).mapInPandas(gen, schema=f"{id_col} {id_type}, sh array<long>")


def _round6_half_up(x: float) -> float:
    """Round-half-up at 6 decimals — the rule Spark's F.round and
    DuckDB's round() share for non-negative doubles (Python's built-in
    round is banker's and WOULD diverge on exact .5 digit-7 ties like
    1/128 = 0.0078125)."""
    return math.floor(x * 1e6 + 0.5) / 1e6


def repetition_stats_batch(texts: list[str | None]) -> list[tuple]:
    """Per-document repetition statistics (the Gopher-family repetition
    filters, Rae et al. 2021 §A1.1): most-frequent-word mass fraction
    and duplicate word-2/3-gram fractions, one O(n) Counter pass per
    document. None/empty -> all-zero row."""
    out = []
    for t in texts:
        toks = _tokens(t)
        n = len(toks)
        if n == 0:
            out.append((0, 0.0, 0.0, 0.0))
            continue
        top = _round6_half_up(max(Counter(toks).values()) / n)
        fr = []
        for k in (2, 3):
            total = n - k + 1
            if total <= 0:
                fr.append(0.0)
                continue
            distinct = len({tuple(toks[i : i + k]) for i in range(total)})
            fr.append(_round6_half_up(1.0 - distinct / total))
        out.append((n, top, fr[0], fr[1]))
    return out


def repetition_stats_df(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, n_words, top_word_frac, dup_2gram_frac, dup_3gram_frac) in
    one Arrow pass — a pure projection over the scan (zero shuffle; the
    per-doc Counter never leaves the executor)."""
    id_type = df.schema[id_col].dataType.simpleString()
    schema = (
        f"{id_col} {id_type}, n_words long, top_word_frac double, "
        "dup_2gram_frac double, dup_3gram_frac double"
    )

    def gen(batches):
        for pdf in batches:
            rows = repetition_stats_batch(pdf[text_col].tolist())
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "n_words": [r[0] for r in rows],
                    "top_word_frac": [r[1] for r in rows],
                    "dup_2gram_frac": [r[2] for r in rows],
                    "dup_3gram_frac": [r[3] for r in rows],
                }
            )

    return df.select(id_col, text_col).mapInPandas(gen, schema=schema)
