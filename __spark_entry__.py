"""Driver contract for the spark-graft builder (PySpark target).

`entry(spark)` — flagship end-to-end extraction over an interleaved
corpus derived deterministically from sf0.001 documents.parquet.

`CATALOG` — one row per implemented operator from SURVEY.md §2 plus the
corpus-pipeline operators (dedup, similarity, text stats), pairing each
query with its oracle; `queries()` and `oracle_sql()` are its two views.
Relational/text/embedding queries have ANSI-SQL oracles over the
driver's parquet views; extraction-specific operators (CTC decode,
correction, boilerplate, e2e) are checked against constants computed by
the pure-Python reference implementation on the same seeded fixtures
(see basicocr_spark/fixture_queries.py).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable
from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from basicocr_spark import fixture_queries as FQ  # noqa: E402
from basicocr_spark import fixtures as FX  # noqa: E402
from basicocr_spark import queries as Q  # noqa: E402
from basicocr_spark.operators.extraction import (  # noqa: E402
    extract_documents_fused_arrow,
    flatten_extracted,
)

N_ENTRY_MEDIA = 40


def interleave_documents(flat_docs: DataFrame) -> DataFrame:
    """Deterministically lift the driver's flat documents table
    (doc_id, text, ...) into the interleaved (doc_id, spans) shape of the
    north rule: a nav block + the document body as a content block, a
    media span keyed by doc_id, and a footer block. Pure column ops —
    stays a projection over the scan."""
    nav = F.lit('<div class="nav"><a href="/home">home</a> <a href="/about">about</a></div>')
    body = F.concat(F.lit("<p>"), F.col("text"), F.lit("</p>"))
    footer = F.lit('<div class="footer">all rights reserved</div>')
    media_ref = F.format_string("m%06d", (F.col("doc_id") % N_ENTRY_MEDIA).cast("int"))
    return flat_docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.array(
            F.struct(
                F.lit("text").alias("kind"),
                F.concat_ws("\n", nav, body).alias("text"),
                F.lit(None).cast("string").alias("media_ref"),
                F.lit(1).alias("offset"),
            ),
            F.struct(
                F.lit("media").alias("kind"),
                F.lit(None).cast("string").alias("text"),
                media_ref.alias("media_ref"),
                F.lit(2).alias("offset"),
            ),
            F.struct(
                F.lit("text").alias("kind"),
                footer.alias("text"),
                F.lit(None).cast("string").alias("media_ref"),
                F.lit(3).alias("offset"),
            ),
        ).alias("spans"),
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: interleave -> fused
    zero-shuffle extraction -> flattened spans."""
    flat = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    docs = interleave_documents(flat)
    logits_rows = FX.gen_media_logits(N_ENTRY_MEDIA, FX.SEED)
    dict_lines = FX.gen_dictionary(FX.SEED)
    out = extract_documents_fused_arrow(docs, logits_rows, dict_lines, FX.STOP_TERMS)
    return flatten_extracted(out)


# name -> (query, oracle). The oracle is the ANSI-SQL text DuckDB runs on
# the same parquet, or the zero-arg function that builds it (built only by
# oracle_sql()). Row order is the order the driver's rotating CORRECTNESS
# snapshot (50 rows per round) records, so entries it has recorded least
# lead the table.
CATALOG: dict[str, tuple[Callable[[SparkSession, str], DataFrame], str | Callable[[], str]]] = {
    "docs_epoch_shuffle": (Q.docs_epoch_shuffle, Q.DOCS_EPOCH_SHUFFLE_SQL),
    "docs_bloom_dedup": (Q.docs_bloom_dedup, Q.DOCS_BLOOM_SQL),
    "docs_benchmark_contamination": (Q.docs_benchmark_contamination, Q.DOCS_CONTAMINATION_SQL),
    "media_phash_near_dup": (FQ.media_phash_near_dup_fixture, FQ.media_phash_near_dup_oracle_sql),
    "emb_ivfpq_topk": (Q.emb_ivfpq_topk, Q.EMB_IVFPQ_SQL),
    "emb_semdedup": (Q.emb_semdedup, Q.EMB_SEMDEDUP_SQL),
    "detection_rotated_nms": (FQ.detection_rotated_nms_fixture, FQ.detection_rotated_nms_oracle_sql),
    "attention_decode": (FQ.attention_decode_fixture, FQ.attention_decode_oracle_sql),
    "ctc_beam_decode": (FQ.ctc_beam_decode_fixture, FQ.ctc_beam_decode_oracle_sql),
    "docs_temperature_mixture": (Q.docs_temperature_mixture, Q.DOCS_TEMPERATURE_MIXTURE_SQL),
    "docs_segment_dedup": (Q.docs_segment_dedup, Q.DOCS_SEGMENT_DEDUP_SQL),
    "docs_dsir_sample": (Q.docs_dsir_sample, Q.DOCS_DSIR_SQL),
    "docs_exact_substring_removal": (Q.docs_exact_substring_removal, Q.DOCS_EXSUB_SQL),
    "docs_c4_clean": (Q.docs_c4_clean, Q.DOCS_C4_CLEAN_SQL),
    "docs_gopher_rules": (Q.docs_gopher_rules, Q.DOCS_GOPHER_SQL),
    "docs_pipeline_funnel": (Q.docs_pipeline_funnel, Q.DOCS_PIPELINE_FUNNEL_SQL),
    "emb_ann_recall": (Q.emb_ann_recall, Q.EMB_ANN_RECALL_SQL),
    "docs_softdedup_weights": (Q.docs_softdedup_weights, Q.DOCS_SOFTDEDUP_SQL),
    "docs_ccnet_bucket": (Q.docs_ccnet_bucket, Q.DOCS_CCNET_BUCKET_SQL),
    "docs_quality_classifier": (Q.docs_quality_classifier, Q.DOCS_QUALITY_CLF_SQL),
    "docs_dedup_recall_eval": (Q.docs_dedup_recall_eval, Q.DOCS_DEDUP_RECALL_SQL),
    "docs_source_cap_sample": (Q.docs_source_cap_sample, Q.DOCS_SOURCE_CAP_SQL),
    "docs_lm_kneser_ney": (Q.docs_lm_kneser_ney, Q.DOCS_LM_KN_SQL),
    "emb_hard_negatives": (Q.emb_hard_negatives, Q.EMB_HARD_NEG_SQL),
    "docs_token_kmv_distinct": (Q.docs_token_kmv_distinct, Q._duck_kmv_sql),
    "docs_bpe_merges": (Q.docs_bpe_merges, Q.DOCS_BPE_MERGES_SQL),
    "docs_lm_perplexity": (Q.docs_lm_perplexity, Q.DOCS_LM_PPL_SQL),
    "docs_bpe_subword_counts": (Q.docs_bpe_subword_counts, Q.DOCS_BPE_SUBWORD_SQL),
    "emb_pq_topk": (Q.emb_pq_topk, Q.EMB_PQ_SQL),
    "docs_quality_lm_filter": (Q.docs_quality_lm_filter, Q.DOCS_QUALITY_LM_SQL),
    "docs_shared_ngram_pairs": (Q.docs_shared_ngram_pairs, Q.DOCS_SHARED_NGRAM_SQL),
    "docs_pii_scrub": (Q.docs_pii_scrub, Q._duck_pii_sql),
    "docs_dedup_keep_best": (Q.docs_dedup_keep_best, Q._duck_dedup_keep_best_sql),
    "detection_nms": (FQ.detection_nms_fixture, FQ.detection_nms_oracle_sql),
    "detection_default_boxes": (FQ.detection_default_boxes_fixture, FQ.detection_default_boxes_oracle_sql),
    "salted_extraction": (FQ.salted_extraction_fixture, FQ.salted_extraction_oracle_sql),
    "video_frame_sample": (FQ.video_frame_sample_fixture, FQ.video_frame_sample_oracle_sql),
    "audio_voice_windows": (FQ.audio_voice_windows_fixture, FQ.audio_voice_windows_oracle_sql),
    "audio_fingerprint_near_dup": (FQ.audio_fingerprint_near_dup_fixture, FQ.audio_fingerprint_near_dup_oracle_sql),
    "recognition_accuracy": (FQ.recognition_accuracy_fixture, FQ.recognition_accuracy_oracle_sql),
    "docs_word_freq_cjk_dict": (Q.docs_word_freq_cjk_dict, Q._duck_word_freq_cjk_dict_sql),
    "docs_minhash_lsh_pairs_cjk_dict": (Q.docs_minhash_lsh_pairs_cjk_dict, Q._duck_minhash_cjk_dict_sql),
    "docs_containment_pairs": (Q.docs_containment_pairs, Q._duck_containment_sql),
    "docs_dup_ngram_fraction": (Q.docs_dup_ngram_fraction, Q._duck_dup_ngram_sql),
    "docs_bpe_pair_counts": (Q.docs_bpe_pair_counts, Q.DOCS_BPE_PAIRS_SQL),
    "docs_tfidf_top_terms": (Q.docs_tfidf_top_terms, Q.DOCS_TFIDF_SQL),
    "docs_source_dedup_stats": (Q.docs_source_dedup_stats, Q._duck_source_dedup_sql),
    "docs_boilerplate_extract": (Q.docs_boilerplate_extract, Q._duck_boilerplate_sql),
    "docs_repetition_stats": (Q.docs_repetition_stats, Q.DOCS_REPETITION_SQL),
    "docs_stratified_sample": (Q.docs_stratified_sample, Q.DOCS_STRATIFIED_SQL),
    "emb_scalar_quantize": (Q.emb_scalar_quantize, Q.EMB_SCALAR_QUANTIZE_SQL),
    "docs_pack_sequences": (Q.docs_pack_sequences, Q.DOCS_PACK_SQL),
    "docs_incremental_dedup": (Q.docs_incremental_dedup, Q._duck_incremental_sql),
    # relational core (SURVEY.md §2.3/2.4/2.5/2.6)
    "q1_pricing_summary": (Q.q1_pricing_summary, Q.Q1_SQL),
    "q6_revenue_band": (Q.q6_revenue_band, Q.Q6_SQL),
    "q3_top_orders": (Q.q3_top_orders, Q.Q3_SQL),
    "q5_region_revenue": (Q.q5_region_revenue, Q.Q5_SQL),
    "order_priority_counts": (Q.order_priority_counts, Q.ORDER_PRIORITY_SQL),
    "top3_customers_per_nation": (Q.top3_customers_per_nation, Q.TOP3_CUST_SQL),
    "part_type_share": (Q.part_type_share, Q.PART_SHARE_SQL),
    "lineitem_rollup": (Q.lineitem_rollup, Q.ROLLUP_SQL),
    # ordered/window operators over events
    "events_hourly": (Q.events_hourly, Q.EVENTS_HOURLY_SQL),
    "events_sessionization": (Q.events_sessionization, Q.EVENTS_SESSION_SQL),
    "events_sliding_counts": (Q.events_sliding_counts, Q.EVENTS_SLIDING_SQL),
    "events_running_sum": (Q.events_running_sum, Q.EVENTS_RUNNING_SQL),
    "events_top_users_per_type": (Q.events_top_users_per_type, Q.EVENTS_TOP_USERS_SQL),
    "events_props_parse": (Q.events_props_parse, Q.EVENTS_PROPS_SQL),
    "events_type_matrix": (Q.events_type_matrix, Q.EVENTS_MATRIX_SQL),
    "events_value_histogram_top1": (Q.events_value_histogram_top1, Q.EVENTS_HIST_SQL),
    "events_asof_join": (Q.events_asof_join, Q.EVENTS_ASOF_SQL),
    "events_range_join": (Q.events_range_join, Q.EVENTS_RANGE_SQL),
    "nation_customer_supplier_overlap": (Q.nation_customer_supplier_overlap, Q.NATION_OVERLAP_SQL),
    "nation_extreme_customers": (Q.nation_extreme_customers, Q.NATION_EXTREME_SQL),
    "part_string_ops": (Q.part_string_ops, Q.PART_STRING_SQL),
    "docs_strip_stopcontent": (Q.docs_strip_stopcontent, Q.DOCS_STRIP_SQL),
    "docs_strip_large_dict": (Q.docs_strip_large_dict, Q._duck_strip_large_dict_sql),
    "docs_token_correction": (Q.docs_token_correction, Q._duck_correction_sql),
    "parts_never_ordered": (Q.parts_never_ordered, Q.PARTS_NEVER_SQL),
    "suppliers_with_orders": (Q.suppliers_with_orders, Q.SUPPLIERS_WITH_SQL),
    "lineitem_quantiles": (Q.lineitem_quantiles, Q.LINEITEM_QUANTILES_SQL),
    # corpus / training-data pipeline operators
    "docs_dedup_exact": (Q.docs_dedup_exact, Q.DOCS_DEDUP_SQL),
    "docs_token_stats": (Q.docs_token_stats, Q.DOCS_TOKEN_SQL),
    "docs_lang_id_counts": (Q.docs_lang_id_counts, Q.DOCS_LANG_SQL),
    "docs_quality_scores": (Q.docs_quality_scores, Q.DOCS_QUALITY_SQL),
    "docs_fingerprint": (Q.docs_fingerprint, Q.DOCS_FINGERPRINT_SQL),
    "docs_word_freq": (Q.docs_word_freq, Q.DOCS_WORD_FREQ_SQL),
    "docs_word_freq_cjk": (Q.docs_word_freq_cjk, Q._duck_word_freq_cjk_sql),
    "docs_minhash_lsh_pairs_cjk": (Q.docs_minhash_lsh_pairs_cjk, Q._duck_minhash_cjk_sql),
    "docs_ngram_counts": (Q.docs_ngram_counts, Q._duck_ngram_counts_sql),
    "docs_jaccard_pairs": (Q.docs_jaccard_pairs, Q.DOCS_JACCARD_SQL),
    "docs_minhash_lsh_pairs": (Q.docs_minhash_lsh_pairs, Q._duck_minhash_sql),
    "docs_near_dup_verified": (Q.docs_near_dup_verified, Q._duck_near_dup_sql),
    "docs_simhash": (Q.docs_simhash, Q._duck_simhash_sql),
    "docs_simhash_near_dup": (Q.docs_simhash_near_dup, Q._duck_simhash_near_dup_sql),
    # similarity search over embeddings
    "emb_norms": (Q.emb_norms, Q.EMB_NORMS_SQL),
    "emb_cosine_topk": (Q.emb_cosine_topk, Q.EMB_TOPK_SQL),
    "emb_ann_lsh": (Q.emb_ann_lsh, Q._duck_ann_sql),
    "emb_label_centroids": (Q.emb_label_centroids, Q.EMB_CENTROIDS_SQL),
    "emb_ivf_topk": (Q.emb_ivf_topk, Q._duck_ivf_sql),
    "emb_ivf_multiprobe": (Q.emb_ivf_multiprobe, partial(Q._duck_ivf_sql, nprobe=2)),
    "emb_near_dup_cosine": (Q.emb_near_dup_cosine, Q._duck_emb_near_dup_sql),
    "docs_filter_summary": (Q.docs_filter_summary, Q.DOCS_FILTER_SQL),
    "docs_dup_clusters": (Q.docs_dup_clusters, Q._duck_clusters_sql),
    "docs_split_sample": (Q.docs_split_sample, Q.DOCS_SPLIT_SQL),
    # extraction operators (reference-oracle constants)
    "ctc_decode": (FQ.ctc_decode_fixture, FQ.ctc_decode_oracle_sql),
    "correction": (FQ.correction_fixture, FQ.correction_oracle_sql),
    "boilerplate": (FQ.boilerplate_fixture, FQ.boilerplate_oracle_sql),
    "extraction_e2e": (FQ.extraction_e2e_fixture, FQ.extraction_e2e_oracle_sql),
    "pdf_layout_blocks": (FQ.pdf_layout_blocks_fixture, FQ.pdf_layout_blocks_oracle_sql),
    "pdf_reading_order": (FQ.pdf_reading_order_fixture, FQ.pdf_reading_order_oracle_sql),
    "triad_extraction": (FQ.triad_extraction_fixture, FQ.triad_extraction_oracle_sql),
    "detection_groups": (FQ.detection_groups_fixture, FQ.detection_groups_oracle_sql),
}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: query for name, (query, _) in CATALOG.items()}


def oracle_sql() -> dict[str, str]:
    return {name: o if isinstance(o, str) else o() for name, (_, o) in CATALOG.items()}
