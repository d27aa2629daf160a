"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash → CORRECTNESS_r{N}.json).

All real logic lives in the package; this module only adapts the catalog
(`plans/catalog.py`) to the driver's three-function contract.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from consumer_financial_protection_bureau_predictive_analysis_using_machine_learning_models_in_pyspark_spark.plans import (  # noqa: E501
    catalog,
)

SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return catalog.CATALOG["complaints_flagship"].fn(spark, SMOKE_SF_DIR)


# The driver's CORRECTNESS run covers the first 50 queries() entries
# (observed r1: exactly the first 50 registrations got rows).  The catalog
# is larger than that, so entries are emitted in a rotation order that is
# now GENERATED, not hand-curated (VERDICT r7 item 7): never-checked
# entries first (catalog order — new registrations land here), then
# everything else ordered by the round of its newest driver row
# (oldest-first), ties broken by registration order.  Regenerate with
#     python tools/gen_priority.py
# and tests/test_priority_window.py pins committed == generated.
_PRIORITY = [
    "q7_volume_shipping",  # newest driver row r8
    "q8_market_share",  # newest driver row r8
    "q10_returned_items",  # newest driver row r8
    "q13_customer_distribution",  # newest driver row r8
    "q22_sales_opportunity",  # newest driver row r8
    "q9_profit_by_nation",  # newest driver row r8
    "q11_important_parts",  # newest driver row r8
    "q15_top_supplier",  # newest driver row r8
    "q16_supplier_part_count",  # newest driver row r8
    "q20_potential_promotion",  # newest driver row r8
    "q21_waiting_suppliers",  # newest driver row r8
    "events_gap_fill",  # newest driver row r8
    "docs_hashed_features",  # newest driver row r8
    "dedup_edit_distance",  # newest driver row r8
    "docs_contamination_report",  # newest driver row r8
    "orders_delete_propagation",  # newest driver row r8
    "lineitem_hilbert_layout",  # newest driver row r8
    "docs_bigram_condprob",  # newest driver row r8
    "dedup_containment",  # newest driver row r8
    "q3_top_unshipped_orders",  # newest driver row r9
    "ann_ivf_prebuilt_topk",  # newest driver row r9
    "ann_recall_eval",  # newest driver row r9
    "dedup_incremental_minhash",  # newest driver row r9
    "dedup_incremental_minhash_prebuilt",  # newest driver row r9
    "docs_bpe_merges",  # newest driver row r9
    "ml_timely_lr",  # newest driver row r9
    "ml_response_dt",  # newest driver row r9
    "stream_static_enrich",  # newest driver row r9
    "stream_session_stats",  # newest driver row r9
    "stream_dedup_events",  # newest driver row r9
    "stream_running_user_stats",  # newest driver row r9
    "stream_click_purchase_join",  # newest driver row r9
    "stream_semantic_dedup",  # newest driver row r9
    "sink_roundtrip_orders",  # newest driver row r9
    "salted_lineitem_agg",  # newest driver row r9
    "docs_decontaminate",  # newest driver row r9
    "docs_chunk",  # newest driver row r9
    "dedup_incremental",  # newest driver row r9
    "er_fuzzy_part_match",  # newest driver row r9
    "skewjoin_events_enrich",  # newest driver row r9
    "q2_min_cost_supplier",  # newest driver row r9
    "events_cohort_retention",  # newest driver row r9
    "docs_token_budget_sample",  # newest driver row r9
    "docs_domain_mix",  # newest driver row r9
    "orders_status_pivot",  # newest driver row r9
    "docs_stratified_sample",  # newest driver row r9
    "docs_boilerplate_spans",  # newest driver row r9
    "orders_rfm_segments",  # newest driver row r9
    "events_rolling_mean_dev",  # newest driver row r9
    "events_value_histogram",  # newest driver row r9
    # ---- window boundary (50): overflow is staleness-ordered ----
    "stream_minute_rollup",  # newest driver row r9
    "docs_weighted_sample",  # newest driver row r9
    "customer_halves_full_outer",  # newest driver row r9
    "events_active_users",  # newest driver row r9
    "complaints_monthly_trend",  # newest driver row r9
    "docs_substring_dedup",  # newest driver row r9
    "docs_substring_clean_stats",  # newest driver row r9
    "dedup_incremental_containment",  # newest driver row r9
    "dedup_incremental_containment_prebuilt",  # newest driver row r9
    "media_text_pair_filter",  # newest driver row r9
    "docs_substring_excise",  # newest driver row r9
    "dedup_lsh_recall_eval",  # newest driver row r9
    "docs_length_buckets",  # newest driver row r9
    "docs_substring_decontaminate",  # newest driver row r9
    "stream_substring_decontaminate",  # newest driver row r9
    "docs_dedup_rate_by_source",  # newest driver row r9
    "docs_self_repetition_spans",  # newest driver row r9
    "events_bot_users",  # newest driver row r9
    "stream_bot_users",  # newest driver row r9
    "complaints_json_clean",  # newest driver row r10
    "csv_roundtrip_customer",  # newest driver row r10
    "dedup_incremental_bloom",  # newest driver row r10
    "docs_filter_chain",  # newest driver row r10
    "q17_small_quantity_revenue",  # newest driver row r10
    "events_funnel",  # newest driver row r10
    "lineitem_unpivot",  # newest driver row r10
    "ann_range_search",  # newest driver row r10
    "orders_scd2",  # newest driver row r10
    "events_active_users_approx",  # newest driver row r10
    "docs_temperature_mix",  # newest driver row r10
    "docs_pack_manifest",  # newest driver row r10
    "docs_bm25_rank",  # newest driver row r10
    "docs_hybrid_rrf",  # newest driver row r10
    "events_value_outliers_mad",  # newest driver row r10
    "events_value_outliers_mad_approx",  # newest driver row r10
    "ann_semantic_dedup_incremental",  # newest driver row r10
    "orders_profile",  # newest driver row r10
    "orders_profile_approx",  # newest driver row r10
    "orders_mv_merge",  # newest driver row r10
    "lineitem_zorder_layout",  # newest driver row r10
    "dedup_containment_canonical",  # newest driver row r10
    "docs_quality_classifier",  # newest driver row r10
    "docs_quality_classifier_agreement",  # newest driver row r10
    "media_audio_fingerprint",  # newest driver row r10
    "ann_ivf_delete_compact",  # newest driver row r10
    "dedup_canonical_delete_promote",  # newest driver row r10
    "docs_delete_impact",  # newest driver row r10
    "docs_dsir_importance",  # newest driver row r10
    "docs_dsir_sample",  # newest driver row r10
    "stream_quality_classifier",  # newest driver row r10
    "docs_quality_classifier_sweep",  # newest driver row r10
    "docs_snapshot_diff",  # newest driver row r10
    "docs_dsir_score_batch",  # newest driver row r10
    "dedup_containment_canonical_fast",  # newest driver row r10
    "docs_unimax_mix",  # newest driver row r10
    "customer_k_anonymity",  # newest driver row r10
    "customer_k_anonymize",  # newest driver row r10
    "ann_hard_negatives",  # newest driver row r10
    "docs_ref_perplexity_buckets",  # newest driver row r10
    "docs_unimax_sample",  # newest driver row r10
    "docs_tokenizer_fertility",  # newest driver row r10
    "stream_ref_perplexity",  # newest driver row r10
    "customer_l_diversity",  # newest driver row r10
    "events_cusum_drift",  # newest driver row r10
    "ann_ivf_nprobe_sweep",  # newest driver row r10
    "docs_quality_conformal",  # newest driver row r10
    "events_forecast_snaive",  # newest driver row r10
    "stream_cusum_drift",  # newest driver row r10
    "docs_mix_drift_kl",  # newest driver row r10
    "q1_pricing_summary",  # newest driver row r11
    "complaints_clean",  # newest driver row r11
    "complaints_flagship",  # newest driver row r11
    "q18_large_volume_customers",  # newest driver row r11
    "events_multires_rollup",  # newest driver row r11
    "dedup_minhash_lsh",  # newest driver row r11
    "docs_repetition_stats",  # newest driver row r11
    "docs_pii_redact",  # newest driver row r11
    "dedup_minhash_fast",  # newest driver row r11
    "dedup_components_star",  # newest driver row r11
    "ann_int8_rerank_topk",  # newest driver row r11
    "docs_bpe_encode",  # newest driver row r11
    "ml_lda_topics",  # newest driver row r11
    "ml_timely_lr_lift",  # newest driver row r11
    "ml_timely_lr_lift_approx",  # newest driver row r11
    "media_meta_stats",  # newest driver row r11
    "media_decode_features",  # newest driver row r11
    "stream_windowed_counts",  # newest driver row r11
    "stream_quality_gate",  # newest driver row r11
    "orc_roundtrip_part",  # newest driver row r11
    "orders_merge_upsert",  # newest driver row r11
    "events_compact_latest",  # newest driver row r11
    "q14_promo_effect",  # newest driver row r11
    "q19_disjunctive_revenue",  # newest driver row r11
    "events_user_paths",  # newest driver row r11
    "docs_shard_export",  # newest driver row r11
    "events_purchase_attribution",  # newest driver row r11
    "events_top_session_paths",  # newest driver row r11
    "docs_unigram_logprob",  # newest driver row r11
    "docs_weighted_topk_sample",  # newest driver row r11
    "ann_semantic_canonical",  # newest driver row r11
    "ann_semantic_dedup",  # newest driver row r11
    "ann_semantic_dedup_incremental_lsh",  # newest driver row r11
    "lineitem_skipping_stats",  # newest driver row r11
    "docs_bigram_pmi",  # newest driver row r11
    "docs_vocab_coverage",  # newest driver row r11
    "stream_mv_maintenance",  # newest driver row r11
    "docs_training_export",  # newest driver row r11
    "lineitem_zorder_export",  # newest driver row r11
    "docs_curation_e2e",  # newest driver row r11
    "dedup_edit_distance_canonical",  # newest driver row r11
    "ann_ivf_rebuild_policy",  # newest driver row r11
    "stream_curation_e2e",  # newest driver row r11
    "docs_decontaminate_fuzzy",  # newest driver row r11
    "docs_padded_batches",  # newest driver row r11
    "supplier_copurchase_pagerank",  # newest driver row r11
    "part_copurchase_triangles",  # newest driver row r11
    "part_association_rules",  # newest driver row r11
    "supplier_strong_components",  # newest driver row r11
    "part_similar_items",  # newest driver row r11
    "q6_forecast_revenue",  # newest driver row r12
    "complaints_frequency_encode",  # newest driver row r12
    "complaints_date_parts",  # newest driver row r12
    "complaints_class_distribution",  # newest driver row r12
    "complaints_confusion_counts",  # newest driver row r12
    "complaints_per_class_metrics",  # newest driver row r12
    "complaints_confusion_pivot",  # newest driver row r12
    "customers_in_both_statuses",  # newest driver row r12
    "customers_only_finished",  # newest driver row r12
    "union_order_sample_frames",  # newest driver row r12
    "lineitem_cube",  # newest driver row r12
    "orders_rollup_by_date",  # newest driver row r12
    "sql_nation_revenue",  # newest driver row r12
    "complaints_rebalance_8class",  # newest driver row r12
    "complaints_oversample_timely",  # newest driver row r12
    "complaints_train_test_split",  # newest driver row r12
    "events_value_quantiles",  # newest driver row r12
    "docs_token_stats",  # newest driver row r12
    "docs_quality_score",  # newest driver row r12
    "dedup_components",  # newest driver row r12
    "dedup_canonical_docs",  # newest driver row r12
    "dedup_jaccard_blocked",  # newest driver row r12
    "ann_lsh_topk",  # newest driver row r12
    "ann_cosine_topk_fast",  # newest driver row r12
    "docs_corpus_datasheet",  # newest driver row r12
    "docs_bpe_vocab",  # newest driver row r12
    "ml_timely_svm",  # newest driver row r12
    "ml_timely_gbt",  # newest driver row r12
    "ml_response_rf",  # newest driver row r12
    "ml_timely_lr_calibration",  # newest driver row r12
    "ml_timely_lr_threshold_sweep",  # newest driver row r12
    "media_resize_images",  # newest driver row r12
    "q12_shipping_delay_class",  # newest driver row r12
    "docs_quality_deciles",  # newest driver row r12
    "docs_quality_deciles_approx",  # newest driver row r12
    "ann_semantic_canonical_fast",  # newest driver row r12
    "docs_quality_zscore",  # newest driver row r12
    "dedup_canonical_best",  # newest driver row r12
    "docs_curation_restartable",  # newest driver row r12
    "docs_decontaminate_fuzzy_prebuilt",  # newest driver row r12
    "stream_decontaminate_fuzzy",  # newest driver row r12
    "dedup_containment_collapsed",  # newest driver row r12
    "dedup_minhash_canonical",  # newest driver row r12
    "docs_padded_batch_manifest",  # newest driver row r12
    "star_constraint_audit",  # newest driver row r12
    "orders_snapshot_diff",  # newest driver row r12
    "lineitem_numeric_corr",  # newest driver row r12
    "orders_price_psi",  # newest driver row r12
    "orders_status_priority_chi2",  # newest driver row r12
    "orders_price_ks",  # newest driver row r12
    "complaints_binary_metrics",  # newest driver row r14
    "topk_companies_per_state",  # newest driver row r14
    "orders_running_total",  # newest driver row r14
    "events_ordinal",  # newest driver row r14
    "events_props_extract",  # newest driver row r14
    "events_hourly_agg",  # newest driver row r14
    "events_sessionize",  # newest driver row r14
    "events_asof_join",  # newest driver row r14
    "q5_local_supplier_volume",  # newest driver row r14
    "events_interval_join",  # newest driver row r14
    "events_heavy_hitters_cms",  # newest driver row r14
    "docs_language_id",  # newest driver row r14
    "docs_fingerprints",  # newest driver row r14
    "dedup_exact",  # newest driver row r14
    "dedup_cluster_size_stats",  # newest driver row r14
    "dedup_simhash",  # newest driver row r14
    "ann_cosine_topk",  # newest driver row r14
    "ann_ivf_topk",  # newest driver row r14
    "docs_tfidf_keywords",  # newest driver row r14
    "ml_feature_importances",  # newest driver row r14
    "ml_timely_lr_tuned",  # newest driver row r14
    "ml_lda_topics_em",  # newest driver row r14
    "media_frame_sample",  # newest driver row r14
    "dedup_embedding_cosine",  # newest driver row r14
    "media_phash_dedup",  # newest driver row r14
    "media_phash_near_pairs",  # newest driver row r14
    "stream_phash_dedup",  # newest driver row r14
    "docs_pack_bins",  # newest driver row r14
    "stream_sliding_counts",  # newest driver row r14
    "events_grouping_sets",  # newest driver row r14
    "q4_order_priority",  # newest driver row r14
    "stream_join_mv",  # newest driver row r14
    "docs_pack_sequences",  # newest driver row r14
    "docs_domain_reweight",  # newest driver row r14
    "ann_pq_adc_topk",  # newest driver row r14
    "docs_reweighted_sample",  # newest driver row r14
    "ann_ivfpq_topk",  # newest driver row r14
    "docs_epoch_shuffle",  # newest driver row r14
    "events_peak_concurrency",  # newest driver row r14
    "orders_partition_checksums",  # newest driver row r14
    "stream_checksum_mv",  # newest driver row r14
    "orders_replica_reconcile",  # newest driver row r14
    "stream_late_data_audit",  # newest driver row r14
    "ann_semantic_collapsed",  # newest driver row r14
    "ann_semantic_collapsed_fast",  # newest driver row r14
    "dedup_containment_auto",  # newest driver row r14
    "dedup_minhash_auto",  # newest driver row r14
    "ann_semantic_auto",  # newest driver row r14
    "docs_decontaminate_fuzzy_collapsed",  # newest driver row r14
    "docs_decontaminate_fuzzy_auto",  # newest driver row r14
]


def _ordered_names() -> list[str]:
    rest = [n for n in catalog.CATALOG if n not in _PRIORITY]
    return [n for n in _PRIORITY if n in catalog.CATALOG] + rest


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: catalog.CATALOG[name].fn for name in _ordered_names()}


def oracle_sql() -> dict[str, str]:
    return {
        name: catalog.CATALOG[name].oracle
        for name in _ordered_names()
        if catalog.CATALOG[name].oracle is not None
    }
