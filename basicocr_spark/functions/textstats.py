"""Text-analysis column functions for large-scale corpus pipelines.

These are the training-data-pipeline operators layered on top of the
reference's text handling (word segmentation + stop-word filtering,
reference: contrib/trietree/wordFrequency/readData.py): language ID,
quality scoring, token counting, document fingerprinting. All pure
Catalyst expressions — engine-independent arithmetic only, so every one
of them has an exact DuckDB SQL oracle (no engine-specific hash()).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

MOD = 1_000_000_007  # fingerprint / minhash modulus (fits comfortably in int64)
MINHASH_PRIME = 2_147_483_647  # 2^31 - 1, Mersenne

# Marker-based language-ID heuristic: char-range + function-word evidence.
LANG_MARKERS = {
    "zh": r"[一-龥]",
    "ru": r"[Ѐ-ӿ]",
    "de": r"\b(und|der|die|das|nicht|ist)\b",
    "fr": r"\b(les|des|est|une|dans|pour)\b",
    "es": r"\b(los|las|una|para|por|con)\b",
    "en": r"\b(the|and|of|to|is|that)\b",
}


def tokens(col: Column) -> Column:
    """Whitespace tokenization of trimmed text; empty text -> empty array."""
    t = F.trim(col)
    return F.when(t == "", F.array().cast("array<string>")).otherwise(F.split(t, r"\s+"))


# CJK Unified Ideographs (BMP URO, U+4E00-U+9FA5) — the character range
# the reference's HanLP/jieba segmentation targets (Test.java:28-37,
# contrib/trietree/wordFrequency/readData.py:6,23-28).
CJK_RUN_RE = r"([一-龥]+)"
CJK_TOKEN_RE = r"^[一-龥]{2,}$"


def cjk_tokens(col: Column) -> Column:
    """P10 CJK-aware segmentation: whitespace tokens, with each maximal
    CJK run emitted as overlapping character bigrams (a length-1 run is
    its single char). Bigram indexing is the classic dictionary-free
    IR stand-in for CJK word segmentation (the reference uses jieba/
    HanLP, readData.py:6; a dictionary segmenter is not engine-pairable,
    so the deterministic bigram form is what both the Spark pipeline and
    the DuckDB oracle run). Whitespace-only text degenerates to tokens();
    pure-CJK text (no spaces at all — the reference's actual domain)
    segments into len-1 bigrams."""
    spaced = F.regexp_replace(col, CJK_RUN_RE, r" $1 ")
    return F.flatten(
        F.transform(
            tokens(spaced),
            lambda t: F.when(
                t.rlike(CJK_TOKEN_RE),
                F.transform(
                    F.sequence(F.lit(1), F.length(t) - 1),
                    lambda i: t.substr(i, F.lit(2)),
                ),
            ).otherwise(F.array(t)),
        )
    )


# Deterministic inline CJK lexicon for the dictionary segmenter, in
# PRIORITY ORDER (longest first, then list order) — the engine-pairable
# stand-in for the reference's jieba/HanLP dictionary (readData.py:6,
# Test.java:28-37; external dictionary files are out of scope, and the
# derived CJK corpus in queries.py is built from exactly these phrases
# plus their sub-words, so longest-match priority has real work).
CJK_LEXICON = [
    "大数据表",
    "数据流水",
    "排序归并",
    "哈希连接",
    "慢查询",
    "快速行",
    "数据",
    "查询",
    "排序",
    "归并",
    "连接",
    "流水",
]

# Sentinel wrapper for segmented lexicon hits: the brackets are outside
# the CJK range (so the single-char spacing pass skips protected spans)
# and absent from the synthetic corpus.
def _cjk_sentinel(i: int) -> str:
    return f"⟦{i}⟧"


def cjk_dict_tokens(col: Column) -> Column:
    """Dictionary-based CJK segmentation (P10, the word-level segmenter
    the bigram form approximates): priority maximum matching — each
    lexicon word, longest first, claims all its remaining occurrences
    (protected by non-CJK sentinels so a shorter word can never re-match
    inside a longer hit); leftover CJK chars tokenize as single
    characters (jieba's OOV behavior); latin/digit tokens pass through
    whitespace tokenization unchanged. Built entirely from literal
    replaces + one single-char regexp spacing, so Spark, DuckDB, and the
    Python kernel mirror produce identical tokens (literal replace has
    identical left-to-right non-overlapping semantics in all three
    engines — the property the derived-corpus fixtures already rely on).
    """
    for i, w in enumerate(CJK_LEXICON):
        col = F.replace(col, F.lit(w), F.lit(f" {_cjk_sentinel(i)} "))
    col = F.regexp_replace(col, r"([一-龥])", r" $1 ")
    for i, w in enumerate(CJK_LEXICON):
        col = F.replace(col, F.lit(_cjk_sentinel(i)), F.lit(w))
    return tokens(col)


def token_count(col: Column) -> Column:
    return F.size(tokens(col))


def char_poly_hash(col: Column, mod: int = MOD) -> Column:
    """Deterministic polynomial rolling hash over the string's codepoints:
    acc = (acc*31 + codepoint) % mod. Engine-independent (same arithmetic
    runs in DuckDB via list_reduce), unlike xxhash64/md5 whose outputs
    differ across engines. This is the document fingerprint primitive."""
    return F.aggregate(
        F.split(col, ""),
        F.lit(0).cast("long"),
        lambda acc, c: (acc * F.lit(31) + F.coalesce(F.ascii(c), F.lit(0))) % F.lit(mod),
    )


def word_shingles(col: Column, k: int = 3, tokenizer=None) -> Column:
    """Array of k-word shingles (space-joined) from whitespace tokens
    (or any alternative tokenizer, e.g. cjk_tokens); docs shorter than
    k tokens yield a single shingle of all tokens joined."""
    toks = (tokenizer or tokens)(col)
    n = F.size(toks)
    return F.when(n <= k, F.array(F.array_join(toks, " "))).otherwise(
        F.transform(
            F.sequence(F.lit(1), n - F.lit(k) + 1),
            lambda i: F.array_join(F.slice(toks, i, k), " "),
        )
    )


def minhash_signature(col: Column, num_hashes: int = 16, k: int = 3, tokenizer=None) -> Column:
    """MinHash signature as array<long>: h_j = min over shingles of
    (a_j*h + b_j) mod P, with fixed odd a_j/b_j and the char-poly base
    hash. Deterministic and reproducible in ANSI SQL."""
    sh_hashes = F.transform(word_shingles(col, k, tokenizer), lambda s: _poly_hash_expr(s))
    sig = []
    for j in range(num_hashes):
        a = 2 * j + 1
        b = 104729 * (j + 1) % MINHASH_PRIME
        sig.append(
            F.array_min(
                F.transform(sh_hashes, lambda h: (F.lit(a) * h + F.lit(b)) % F.lit(MINHASH_PRIME))
            )
        )
    return F.array(*sig)


def _poly_hash_expr(s: Column) -> Column:
    """Alias kept for call-site readability in lambda positions — the
    hash definition lives in char_poly_hash (one source of truth)."""
    return char_poly_hash(s)


def punct_ratio(col: Column) -> Column:
    """Fraction of non-alnum, non-space, non-CJK chars."""
    n = F.length(col)
    stripped = F.length(F.regexp_replace(col, r"[^0-9A-Za-z\s一-龥]", ""))
    return F.when(n == 0, F.lit(0.0)).otherwise((n - stripped) / n.cast("double"))


def quality_score(col: Column) -> Column:
    """Composite [0,1] quality heuristic (Gopher/C4-style signals):
    length band, mean word length band, punctuation ratio, whitespace
    sanity. Pure arithmetic, rounded for cross-engine stability."""
    n = F.length(col)
    nw = token_count(col)
    mean_wl = F.when(nw == 0, F.lit(0.0)).otherwise(
        F.length(F.regexp_replace(col, r"\s+", "")) / nw.cast("double")
    )
    len_ok = F.when((n >= 50) & (n <= 20000), F.lit(1.0)).otherwise(F.lit(0.0))
    wl_ok = F.when((mean_wl >= 2.0) & (mean_wl <= 12.0), F.lit(1.0)).otherwise(F.lit(0.0))
    punct_ok = F.when(punct_ratio(col) <= 0.2, F.lit(1.0)).otherwise(F.lit(0.0))
    word_ok = F.when(nw >= 5, F.lit(1.0)).otherwise(F.lit(0.0))
    return F.round((len_ok + wl_ok + punct_ok + word_ok) / F.lit(4.0), 4)


def lang_id(col: Column) -> Column:
    """Marker-based language guess: first language (fixed priority order
    zh,ru,de,fr,es,en) whose marker matches; 'und' otherwise."""
    expr = F.lit("und")
    for code in reversed(["zh", "ru", "de", "fr", "es", "en"]):
        expr = F.when(F.lower(col).rlike(LANG_MARKERS[code]), F.lit(code)).otherwise(expr)
    return expr
