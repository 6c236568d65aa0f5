"""Query-vs-oracle parity on ADVERSARIAL tables the driver corpus never
exercises: empty/space-only/tab-leading documents, uppercase and
full-width tokens, zero-norm embedding vectors. These pin the latent
cross-engine divergences found in review (DuckDB regexp_split('') ==
[''] vs Spark tokens('') == []; x/0 NULL vs guarded 0.0; missing
uniform() in the correction oracle)."""

import math
import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as E  # noqa: E402

ADV_DOCS = [
    (0, "plain words here", "en"),
    (1, "", "en"),
    (2, "   ", "en"),
    (3, "\tTabbed Start then words", "en"),
    (4, "UPPER Case Tokens And ｆｕｌｌｗｉｄｔｈ", "en"),
    (5, "repeat repeat plain words here", "en"),
    # CJK edges: pure no-space CJK, single hanzi, embedded runs, and the
    # phrase-replacement trigger "big table" (becomes a real CJK run)
    (6, "中文文本没有空格的长句子", "zh"),
    (7, "单", "zh"),
    (8, "abc中文def big table mixed", "zh"),
    # PII edges: pre-existing email/phone shapes, boundary punctuation,
    # and the replacement trigger phrases
    (9, "reach x@y.io, or 555-1234. fast row end", "en"),
    (10, "not-an-email @ nor 12-34 slow query", "en"),
    # phone-shaped run overlapping an email match: the email eats
    # '0142@...' so NO phone redaction happens — counts must agree
    (11, "call 555-0142@example.com now", "en"),
    # byte-identical twin of doc 12 (below) so per-source dup counting
    # and containment C=1.0 both fire; long enough for >= 5 shingles
    (12, "alpha beta gamma delta epsilon zeta eta theta", "en"),
    (13, "alpha beta gamma delta epsilon zeta eta theta", "en"),
    # superset page embedding doc 12's text verbatim (containment sub)
    (14, "intro words alpha beta gamma delta epsilon zeta eta theta closing remark", "en"),
    # third byte-identical copy, id % 5 == 0: lands in the INCOMING
    # slice of docs_incremental_dedup with committed twins 12/13, so
    # the exact_dup verdict (fingerprint semi-join layer) is exercised
    (15, "alpha beta gamma delta epsilon zeta eta theta", "en"),
]

# source assignment for the per-source dedup stats: the twin pair lands
# in one source (dup_rate > 0), everything else alternates
ADV_SOURCES = {12: "mirror.example", 13: "mirror.example"}
ADV_DOCS = [
    (i, t, lang, ADV_SOURCES.get(i, f"site{i % 3}.example"))
    for (i, t, lang) in ADV_DOCS
]

ADV_EMB = [
    (0, [0.0] * 8, 0),  # zero-norm vector
    (1, [1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0], 0),
    (2, [0.0, 1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0], 1),
    (3, [0.5] * 8, 1),
    (4, [0.1, 0.9, 0.0, 0.0, 0.2, 0.0, 0.0, 0.0], 1),
]

DOC_QUERIES = [
    "docs_token_stats",
    "docs_word_freq",
    "docs_word_freq_cjk",
    "docs_quality_scores",
    "docs_split_sample",
    "docs_filter_summary",
    "docs_simhash",
    "docs_fingerprint",
    "docs_token_correction",
    "docs_jaccard_pairs",
    "docs_ngram_counts",
    "docs_pii_scrub",
    "docs_strip_large_dict",
    "docs_minhash_lsh_pairs_cjk",
    "docs_simhash_near_dup",
    "docs_containment_pairs",
    "docs_dup_ngram_fraction",
    "docs_bpe_pair_counts",
    "docs_tfidf_top_terms",
    "docs_source_dedup_stats",
    "docs_boilerplate_extract",
    "docs_repetition_stats",
    "docs_stratified_sample",
    "docs_pack_sequences",
    "docs_incremental_dedup",
    "docs_bpe_merges",
    "docs_bpe_subword_counts",
    "docs_lm_perplexity",
    "docs_quality_lm_filter",
    "docs_shared_ngram_pairs",
    "docs_benchmark_contamination",
    "docs_temperature_mixture",
    "docs_segment_dedup",
    "docs_dsir_sample",
    "docs_exact_substring_removal",
    "docs_c4_clean",
    "docs_gopher_rules",
    "docs_pipeline_funnel",
]
EMB_QUERIES = [
    "emb_norms",
    "emb_cosine_topk",
    "emb_near_dup_cosine",
    "emb_scalar_quantize",
    "emb_pq_topk",
    "emb_ivfpq_topk",
    "emb_semdedup",
    "emb_ann_recall",
]


@pytest.fixture(scope="module")
def adv_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("adv_sf"))
    spark.createDataFrame(
        ADV_DOCS, "doc_id long, text string, lang string, source string"
    ).coalesce(1).write.mode("overwrite").parquet(os.path.join(d, "documents.parquet"))
    spark.createDataFrame(
        ADV_EMB, "vec_id long, embedding array<float>, label int"
    ).coalesce(1).write.mode("overwrite").parquet(os.path.join(d, "embeddings.parquet"))
    return d


@pytest.fixture(scope="module")
def adv_duck(adv_dir):
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        # Spark writes a directory of part files; the driver's views are
        # single files, so glob here
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{adv_dir}/{t}.parquet/*.parquet'"
        )
    return con


def _norm_cell(v):
    if isinstance(v, float):
        return "nan" if math.isnan(v) else round(v, 9)
    return v


def _multiset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_norm_cell(r[i]) for i in order) for r in rows)


@pytest.mark.parametrize("name", DOC_QUERIES + EMB_QUERIES)
def test_adversarial_parity(spark, adv_dir, adv_duck, oracles, name):
    sdf = E.queries()[name](spark, adv_dir)
    s_rows = [tuple(r) for r in sdf.collect()]
    rel = adv_duck.sql(oracles[name])
    d_rows = rel.fetchall()
    assert sorted(sdf.columns) == sorted(rel.columns), name
    assert len(s_rows) == len(d_rows), (name, len(s_rows), len(d_rows))
    ms, md = _multiset(sdf.columns, s_rows), _multiset(rel.columns, d_rows)
    assert ms == md, (name, [(a, b) for a, b in zip(ms, md) if a != b][:3])


def test_incremental_dedup_verdicts_fire(spark, adv_dir):
    """Generic parity can't tell 'both engines said new' from a real
    exact-dup detection — pin that doc 15 (byte-identical to committed
    twins 12/13, id in the incoming slice) takes the exact_dup verdict
    with both band matches counted."""
    rows = {
        r.doc_id: (r.verdict, r.n_band_matches)
        for r in E.queries()["docs_incremental_dedup"](spark, adv_dir).collect()
    }
    assert rows[15] == ("exact_dup", 2)
    assert all(v == ("new", 0) for k, v in rows.items() if k != 15)


def test_boilerplate_unicode_ws_and_null_parity(spark, oracles, tmp_path):
    """docs_boilerplate_extract's scorer uses Java's (?U)\\s (to stay
    paired with the reference on NBSP/ideographic spaces) while RE2's
    bare \\s is ASCII-only — the oracle spells the White_Space class
    out. Pin the pair on exactly those characters plus NULL text, on a
    dedicated table so the shared battery (whose other oracles are
    deliberately ASCII-\\s on both engines) is untouched."""
    docs = [
        (1, "hello world and　more", "en", "s"),
        (2, None, "en", "s"),
        (3, "plain words", "en", "s"),
    ]
    d = str(tmp_path / "uws")
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string"
    ).coalesce(1).write.mode("overwrite").parquet(os.path.join(d, "documents.parquet"))
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{d}/documents.parquet/*.parquet'"
    )
    sdf = E.queries()["docs_boilerplate_extract"](spark, d)
    rel = con.sql(oracles["docs_boilerplate_extract"])
    ms = _multiset(sdf.columns, [tuple(r) for r in sdf.collect()])
    md = _multiset(rel.columns, rel.fetchall())
    assert ms == md, [(a, b) for a, b in zip(ms, md) if a != b]
    # and the NBSP really was treated as a separator (2 words, not 1)
    texts = {r[0]: r[1] for r in ms}
    assert texts[1] == "hello world and more"
    assert texts[2] == ""


def test_overflow_ids_and_empty_vectors_parity(spark, oracles, tmp_path):
    """Edge parity for two review findings: (a) doc_id * 2654435761
    overflows int64 at doc_id >= ~3.5e9 — Spark wraps silently, DuckDB
    raises — so the split/strata bucket hash must reduce doc_id mod MOD
    FIRST (pinned here with ids straddling 2^40); (b) a ZERO-LENGTH
    (not just NULL) embedding produces no unnest rows in the quantize
    oracle, so the Spark side must drop it rather than emit (0, 0.0)."""
    docs = [
        (2**40 + i, f"words for doc {i} " * (i + 1), "en" if i % 2 else "zh", "s")
        for i in range(6)
    ] + [(7, "small id control", "en", "s")]
    embs = [
        (1, [], 0),  # zero-length: oracle's unnest emits nothing
        (2, [0.5, -1.5, 2.0, 0.0], 0),
        (3, None, 1),
        (4, [1.0, 1.0, 1.0, 1.0], 1),
    ]
    d = str(tmp_path / "edge")
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string"
    ).coalesce(1).write.mode("overwrite").parquet(os.path.join(d, "documents.parquet"))
    spark.createDataFrame(
        embs, "vec_id long, embedding array<float>, label int"
    ).coalesce(1).write.mode("overwrite").parquet(os.path.join(d, "embeddings.parquet"))
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{d}/{t}.parquet/*.parquet'"
        )
    for name in ("docs_split_sample", "docs_stratified_sample", "emb_scalar_quantize"):
        sdf = E.queries()[name](spark, d)
        rel = con.sql(oracles[name])
        assert sorted(sdf.columns) == sorted(rel.columns), name
        ms = _multiset(sdf.columns, [tuple(r) for r in sdf.collect()])
        md = _multiset(rel.columns, rel.fetchall())
        assert ms == md, (name, [(a, b) for a, b in zip(ms, md) if a != b][:3])
    # the empty vector really was dropped, not quantized to a 0-row
    q = {r[0] for r in E.queries()["emb_scalar_quantize"](spark, d).select("vec_id").collect()}
    assert q == {2, 4}
