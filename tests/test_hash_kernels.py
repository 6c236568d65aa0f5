"""The Arrow hash kernels must be bit-identical to the pure-Catalyst
expression forms they accelerate (functions/textstats.py): minhash
signatures, simhash, and shingle-hash sets agree row for row on both
the driver's real documents table and a battery of nasty edge strings
(empties, pure whitespace, tabs that survive F.trim, single tokens,
CJK, repeated words). The DuckDB oracles in queries.py never changed —
this test is what licenses the kernel swap underneath them."""

import os
import sys

from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from basicocr_spark.functions import hash_kernels as HK  # noqa: E402
from basicocr_spark.functions import textstats as TS  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

EDGE_TEXTS = [
    (0, ""),
    (1, "   "),
    (2, "\tleading tab"),
    (3, "one"),
    (4, "two words"),
    (5, "exactly three words"),
    (6, "a b c d e f g h"),
    (7, "repeat repeat repeat repeat"),
    (8, "中文 文本 处理 管道"),
    (9, "mixed 中文 and english tokens here"),
    (10, "punctuation, heavy!! text?? with... symbols"),
    (11, "trailing space "),
    (12, " leading space"),
    (13, "double  space  between"),
    (14, "x" * 500),
    (15, "word " * 60),
]


CJK_EDGE_TEXTS = EDGE_TEXTS + [
    (100, "中文文本处理管道没有空格"),  # pure CJK, no whitespace at all
    (101, "单"),  # single hanzi
    (102, "单 字 间 隔"),  # spaced single hanzi (length-1 runs stay unigrams)
    (103, "abc中文def"),  # CJK run embedded in a latin token
    (104, "大数据表 大数据表 大数据表"),  # repeated CJK runs
    (105, "mixed 中文处理 with 英文 words"),
]


def _edge_df(spark):
    return spark.createDataFrame(EDGE_TEXTS, "doc_id long, text string")


def _cjk_edge_df(spark):
    return spark.createDataFrame(CJK_EDGE_TEXTS, "doc_id long, text string")


def _docs_df(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id", "text")


def _expr_minhash(df, num_hashes=8, k=2, tokenizer=None):
    sig = TS.minhash_signature(F.col("text"), num_hashes, k, tokenizer)
    return df.select("doc_id", *(sig[j].alias(f"mh{j}") for j in range(num_hashes)))


def _expr_simhash(df, tokenizer=None):
    toks = (tokenizer or TS.tokens)(F.col("text"))
    whashes = F.transform(toks, lambda w: TS._poly_hash_expr(w))
    bit_idx = F.sequence(F.lit(0), F.lit(31))
    init = F.transform(bit_idx, lambda j: F.lit(0).cast("long"))

    def fold(acc, h):
        bits = F.transform(
            bit_idx,
            lambda j: (F.floor(h / F.pow(F.lit(2.0), j.cast("double"))).cast("long") % 2) * 2 - 1,
        )
        return F.zip_with(acc, bits, lambda x, y: x + y)

    votes = F.aggregate(whashes, init, fold)
    sim = F.aggregate(
        bit_idx,
        F.lit(0).cast("long"),
        lambda acc, j: acc
        + F.when(
            F.element_at(votes, (j + 1).cast("int")) > 0,
            F.pow(F.lit(2.0), j.cast("double")).cast("long"),
        ).otherwise(0),
    )
    return df.select("doc_id", sim.alias("simhash"))


def _expr_shingle_sets(df, k=2):
    return df.select(
        "doc_id",
        F.array_sort(
            F.array_distinct(
                F.transform(TS.word_shingles(F.col("text"), k=k), lambda x: TS._poly_hash_expr(x))
            )
        ).alias("sh"),
    )


def _as_map(df):
    return {r[0]: tuple(r[1:]) for r in df.collect()}


def test_minhash_kernel_matches_expressions(spark):
    for df in (_edge_df(spark), _docs_df(spark)):
        got = _as_map(HK.minhash_signatures_df(df))
        want = _as_map(_expr_minhash(df))
        assert got == want


def test_cjk_tokens_kernel_matches_expression(spark):
    """The Python _cjk_tokens mirror (what the Arrow minhash kernel
    tokenizes with) must equal the Catalyst cjk_tokens column form on
    every CJK edge text."""
    df = _cjk_edge_df(spark)
    want = {
        r[0]: list(r[1])
        for r in df.select("doc_id", TS.cjk_tokens(F.col("text")).alias("t")).collect()
    }
    got = {i: HK._cjk_tokens(t) for i, t in CJK_EDGE_TEXTS}
    assert got == want


def test_cjk_minhash_kernel_matches_expressions(spark):
    for df in (_cjk_edge_df(spark), _docs_df(spark)):
        got = _as_map(HK.minhash_signatures_df(df, num_hashes=8, k=3, tokenizer="cjk"))
        want = _as_map(_expr_minhash(df, num_hashes=8, k=3, tokenizer=TS.cjk_tokens))
        assert got == want


def test_cjk_tokens_semantics(spark):
    """Pin the segmentation contract: latin tokens pass through, multi-
    char CJK runs become overlapping bigrams, single-hanzi runs stay
    unigrams, embedded runs split out of latin tokens."""
    df = spark.createDataFrame(
        [(0, "大数据表"), (1, "单"), (2, "abc中文def"), (3, "hello 世界和平 world")],
        "doc_id long, text string",
    )
    out = {
        r[0]: list(r[1])
        for r in df.select("doc_id", TS.cjk_tokens(F.col("text")).alias("t")).collect()
    }
    assert out[0] == ["大数", "数据", "据表"]
    assert out[1] == ["单"]
    assert out[2] == ["abc", "中文", "def"]
    assert out[3] == ["hello", "世界", "界和", "和平", "world"]


def test_cjk_dict_tokens_kernel_matches_expression(spark):
    """The Python cjk_dict mirror (TOKENIZERS['cjk_dict']) must equal the
    Catalyst cjk_dict_tokens column form on every CJK edge text plus
    lexicon-specific overlap cases."""
    extra = CJK_EDGE_TEXTS + [
        (200, "大数据表"),
        (201, "数据流水"),  # prefix 数据 must NOT pre-empt the longer word
        (202, "大数据流水"),  # 数据流水 claims, leftover 大 is a single char
        (203, "数据查询"),  # two lexicon words back to back
        (204, "abc大数据表def 慢查询!"),
        (205, "查询查询查询"),
    ]
    df = spark.createDataFrame(extra, "doc_id long, text string")
    want = {
        r[0]: list(r[1])
        for r in df.select("doc_id", TS.cjk_dict_tokens(F.col("text")).alias("t")).collect()
    }
    got = {i: HK._cjk_dict_tokens(t) for i, t in extra}
    assert got == want


def test_cjk_dict_tokens_semantics(spark):
    """Pin priority maximum matching: longest lexicon word wins, OOV
    hanzi fall back to single chars, latin passes through."""
    cases = {
        "大数据表": ["大数据表"],
        "数据流水": ["数据流水"],
        "大数据流水": ["大", "数据流水"],
        "数据查询": ["数据", "查询"],
        "中文数据": ["中", "文", "数据"],  # OOV chars single, lexicon word whole
        "hello 大数据表 world": ["hello", "大数据表", "world"],
    }
    for text, want in cases.items():
        assert HK._cjk_dict_tokens(text) == want, (text, want)


def test_cjk_dict_minhash_kernel_matches_expressions(spark):
    """The third tokenizer must thread through the minhash kernel the
    same way: kernel signatures == expression signatures under the
    dictionary segmenter."""
    df = _cjk_edge_df(spark)
    got = _as_map(HK.minhash_signatures_df(df, num_hashes=8, k=3, tokenizer="cjk_dict"))
    want = _as_map(_expr_minhash(df, num_hashes=8, k=3, tokenizer=TS.cjk_dict_tokens))
    assert got == want


def test_simhash_kernel_matches_expressions(spark):
    for df in (_edge_df(spark), _docs_df(spark)):
        got = _as_map(HK.simhash_df(df))
        want = _as_map(_expr_simhash(df))
        assert got == want


def test_cjk_simhash_kernel_matches_expressions(spark):
    df = _cjk_edge_df(spark)
    got = _as_map(HK.simhash_df(df, tokenizer="cjk"))
    want = _as_map(_expr_simhash(df, tokenizer=TS.cjk_tokens))
    assert got == want


def test_cosine_kernel_bit_identical_to_expression(spark):
    """The pandas-UDF cosine must equal the aggregate-fold cosine
    bit for bit (same sequential float64 summation order), unrounded —
    on a real probes x corpus scoring join."""
    from basicocr_spark.functions import vectors as V

    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    probes = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    pairs = e.crossJoin(F.broadcast(probes))
    both = pairs.select(
        "q_id",
        "vec_id",
        V.cosine(F.col("q_emb"), F.col("embedding")).alias("expr_cos"),
        V.cosine_seq_kernel(F.col("q_emb"), F.col("embedding")).alias("kern_cos"),
    ).collect()
    assert both
    for r in both:
        assert r["expr_cos"] == r["kern_cos"], (r["q_id"], r["vec_id"])

    # zero-vector guard path
    import pandas as pd

    z = spark.createDataFrame(
        pd.DataFrame({"a": [[0.0, 0.0], [1.0, 0.0]], "b": [[1.0, 2.0], [1.0, 0.0]]})
    )
    got = z.select(
        V.cosine(F.col("a"), F.col("b")).alias("e"),
        V.cosine_seq_kernel(F.col("a"), F.col("b")).alias("k"),
    ).collect()
    for r in got:
        assert r["e"] == r["k"]


def test_shingle_sets_kernel_matches_expressions(spark):
    for df in (_edge_df(spark), _docs_df(spark)):
        got = {r[0]: sorted(r[1]) for r in HK.shingle_hash_sets_df(df).collect()}
        want = {r[0]: sorted(r[1]) for r in _expr_shingle_sets(df).collect()}
        assert got == want


def test_poly_hash_kernel_matches_expression(spark):
    """The scalar pandas-UDF poly hash (docs_fingerprint / streaming
    dedup hot path) must equal the interpreted char_poly_hash fold on
    every edge string, CJK texts, the real documents table, AND nulls
    (F.aggregate over a null array is null — the kernel must not turn
    that into 0)."""
    null_edge = spark.createDataFrame(
        CJK_EDGE_TEXTS + [(200, None)], "doc_id long, text string"
    )
    for df in (null_edge, _docs_df(spark)):
        both = df.select(
            "doc_id",
            TS.char_poly_hash(F.col("text")).alias("expr_fp"),
            HK.poly_hash_kernel(F.col("text")).alias("kern_fp"),
        ).collect()
        assert both
        for r in both:
            assert r["expr_fp"] == r["kern_fp"], r["doc_id"]
