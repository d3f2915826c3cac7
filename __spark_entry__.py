"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship query (TPC-H Q1-style pricing
summary) at sf0.001. ``queries()``/``oracle_sql()`` expose every
implemented operator from SURVEY.md §2 with DuckDB oracles; the
registry lives in tera_spark/queries/.
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

_REPO = str(Path(__file__).resolve().parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)


def _registry():
    import tera_spark.queries as Q

    Q.load_all()
    return Q.QUERIES, Q.ORACLES


# Driver-sample ordering: the correctness driver checks the FIRST 50
# queries() entries each round. Cumulative state after round 9: all
# 187 registry entries driver-checked at least once, every latest row
# fully green, freshness r6:37 / r7:50 / r8:50 / r9:50. Round-10
# rotation policy (per VERDICT r9 task 3): queries whose OPERATOR CODE
# CHANGED in rounds 9-10 jump the queue — the driver always re-oracles
# what the round touched (round 9's deepest diffs, the minhash/LSH
# builders and the DSIR fold, fell outside the r9 sample; this fixes
# that policy bug). Behind them the staleness rotation continues: the
# 37 rows whose last green driver row is round 6, then rounds 7/8/9 by
# staleness, original order within a cohort. Computed by folding
# CORRECTNESS_r01..r09.json (latest round where rows_match and no
# err). All entries pass the identical local DuckDB gate at sf0.01
# (tests/test_oracle_parity.py) regardless of position.
_DRIVER_PRIORITY = [
    # operator code changed in round 9/10 (DSIR fold + size gate,
    # brute-sims kernel/expr-norm path, cell fixture numeric keys,
    # minhash/LSH SQL-text builders, collect-stream delete prefilter
    # in the general/merge-free fold) — re-oracle first
    "pipeline_dsir_importance", "ann_cosine_topk", "ann_int8_topk",
    "cell_multiversion_trim", "cell_counter_add_merge", "cell_tombstone_mask",
    "cell_append_merge", "cell_put_ifabsent", "cell_addint64_merge",
    "cell_changefeed_diff",
    "dedup_lsh_verified", "dedup_minhash_lsh_pairs",
    "dedup_containment_pairs", "dedup_incremental_batch",
    "dedup_edit_distance", "dedup_lsh_storage_mode",
    # last driver-green in round 6 (oldest untouched)
    "cell_row_map_shape", "cell_scan_range_projection", "dedup_url_canonical",
    "multimodal_audio_fingerprint", "multimodal_cross_container_dups",
    "multimodal_exif_gps_audit", "multimodal_format_sniff",
    "multimodal_mp3_metadata", "multimodal_scene_cuts",
    "multimodal_webp_features", "pipeline_media_curation",
    "q10_returned_items", "q11_important_parts", "q12_priority_shipping",
    "q14_promo_effect", "q15_top_supplier", "q16_supplier_part_count",
    "q17_small_qty_revenue", "q19_disjunctive_filter",
    "q20_excess_stock_suppliers", "q21_waiting_suppliers",
    "q22_idle_rich_customers", "q2_min_cost_supplier", "q4_order_priority",
    "q7_volume_shipping", "q8_market_share", "q9_product_profit",
    "q_cube_agg", "q_distinct_agg", "q_percentile_profile", "q_pivot_status",
    "q_rollup_revenue", "q_semi_anti_join", "q_set_ops", "q_sql_surface",
    "sec_index_lookup", "text_gopher_rules",
    # last driver-green in round 7, minus touched
    "ann_centroid_outliers", "ann_filtered_selective", "ann_kmeans_clusters",
    "ann_pq_topk", "cell_addint64_merge", "cell_filter_if_missing",
    "cell_hash_key_batch_get", "dedup_cluster_dashboard", "dedup_components",
    "dedup_cross_source_matrix", "dedup_embedding_cosine",
    "dedup_ngram_jaccard", "dedup_repeated_ngram_spans",
    "dedup_semantic_drop_list", "dedup_simhash", "dedup_span_removal",
    "doc_bpe_token_stats", "doc_fingerprint_rolling", "doc_token_stats",
    "graph_pagerank_neardup", "multimodal_audio_features",
    "multimodal_features", "multimodal_flac_features",
    "multimodal_frame_plan", "multimodal_resize", "pipeline_decontaminate",
    "pipeline_dedup_drop_list", "pipeline_doc_chunking",
    "pipeline_leakage_safe_split", "pipeline_token_packing",
    "pipeline_weighted_interleave", "sample_stratified_deterministic",
    "sample_weighted_reservoir", "text_bpe_pair_counts",
    "text_compression_ratio", "text_language_id", "text_pii_redaction",
    "text_pmi_collocations", "text_quality_score", "text_tfidf_bm25",
    "text_tokenizer_fertility", "text_unigram_surprisal",
    "text_vocab_profile", "text_zipf_slope",
    # last driver-green in round 8, minus touched
    "ann_pca_top_component", "cell_batch_get", "cell_changefeed_diff",
    "cell_check_and_apply", "cell_compact_fold", "cell_snapshot_read",
    "cell_time_range_scan", "cell_value_filter", "dedup_exact_hash",
    "dedup_semantic_incremental", "events_ab_test_lift",
    "events_anomaly_zscore", "events_bot_regularity", "events_churn_risk",
    "events_dau_mau_stickiness", "events_dedup_latest_props",
    "events_equidepth_histogram", "events_hourly_seasonality",
    "events_json_props", "events_k_anonymity_audit", "events_ohlc_bars",
    "events_pareto_concentration", "events_salted_distinct_users",
    "events_session_transcripts", "events_sketch_profile",
    "events_subseq_topk", "events_trajectory_similarity",
    "events_transition_matrix", "events_type_correlation",
    "events_value_histogram", "events_value_trend", "events_window_topk",
    "graph_triangles_neardup", "pipeline_contamination_report",
    "pipeline_corpus_curation", "pipeline_dedup_savings_report",
    "pipeline_filter_audit", "pipeline_mixture_allocation",
    "pipeline_pseudonymize_users", "pipeline_ref_integrity_audit",
    "source_profile_stats", "text_bpe_merges", "text_inverted_index",
    "text_language_id_margin", "text_quality_calibrated",
    "text_repetition_signals",
    # driver-green in round 9 (freshest), minus touched
    "dedup_semantic_trained", "dedup_semantic_windowed",
    "events_asof_next_purchase", "events_asof_prev_click",
    "events_cms_heavy_hitters", "events_drift_psi", "events_funnel_3step",
    "events_m4_downsample", "events_range_join_windows",
    "events_retention_cohorts", "events_sessionize", "events_sliding_window",
    "events_theta_purchaser_overlap", "events_tumbling_window", "kv_lww_scan",
    "kv_ttl_scan", "multimodal_gif_features", "multimodal_jpeg_features",
    "multimodal_mulaw_audio", "multimodal_phash_dups",
    "multimodal_video_frames", "pipeline_classifier_calibration",
    "pipeline_quality_classifier", "q13_cust_order_distribution",
    "q18_large_volume_customer", "q1_pricing_summary", "q3_shipping_priority",
    "q5_local_supplier_volume", "q6_forecast_revenue", "q_grouping_sets",
    "q_topk_per_group", "q_window_running_total", "text_bigram_surprisal",
    "text_lm_persisted_score", "text_perplexity_buckets",
    "text_redundancy_stats", "text_signal_spearman", "ann_embedding_health",
    "ann_filtered_topk", "ann_hard_negatives", "ann_hyperplane_pairs",
    "ann_ivf_near_pairs", "ann_ivf_topk", "cell_append_merge",
    "cell_filter_list_and_or", "cell_max_qualifiers",
    "cell_media_current_decode", "cell_put_ifabsent",
]

# Rows-only queries (no DuckDB oracle possible) are ordered dead last
# so they never occupy one of the driver's 50 oracled sample slots.
# Empty since round 7: text_compression_ratio gained a calibration
# oracle (zlib output lengths pinned as a literal relation).
_DRIVER_ROWS_ONLY: frozenset[str] = frozenset()

# keys with a green driver row in CORRECTNESS_r01/r02.json — ordered last
_DRIVER_GREEN_R2 = frozenset({
    "cell_append_merge", "cell_batch_get", "cell_check_and_apply",
    "cell_compact_fold", "cell_counter_add_merge", "cell_filter_list_and_or",
    "cell_max_qualifiers", "cell_multiversion_trim", "cell_put_ifabsent",
    "cell_row_map_shape", "cell_scan_range_projection", "cell_snapshot_read",
    "cell_time_range_scan", "cell_tombstone_mask", "cell_value_filter",
    "kv_ttl_scan", "q10_returned_items", "q11_important_parts",
    "q12_priority_shipping", "q13_cust_order_distribution", "q14_promo_effect",
    "q15_top_supplier", "q16_supplier_part_count", "q17_small_qty_revenue",
    "q18_large_volume_customer", "q19_disjunctive_filter", "q1_pricing_summary",
    "q20_excess_stock_suppliers", "q21_waiting_suppliers",
    "q22_idle_rich_customers", "q2_min_cost_supplier", "q3_shipping_priority",
    "q4_order_priority", "q5_local_supplier_volume", "q6_forecast_revenue",
    "q7_volume_shipping", "q8_market_share", "q9_product_profit",
    "q_cube_agg", "q_distinct_agg", "q_grouping_sets", "q_percentile_profile",
    "q_pivot_status", "q_rollup_revenue", "q_semi_anti_join", "q_set_ops",
    "q_sql_surface", "q_topk_per_group", "q_window_running_total",
    "sec_index_lookup",
})


def _driver_order(names):
    # first occurrence wins: a touched query listed again in a later
    # staleness cohort must keep its front-of-queue slot
    pri: dict = {}
    for i, n in enumerate(_DRIVER_PRIORITY):
        pri.setdefault(n, i)

    def key(n):
        if n in _DRIVER_ROWS_ONLY:
            return (3, n)
        if n in pri:
            return (0, pri[n])
        if n not in _DRIVER_GREEN_R2:
            return (1, n)
        return (2, n)

    return sorted(names, key=key)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    qs, _ = _registry()
    return qs["q1_pricing_summary"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    qs, _ = _registry()
    return {name: qs[name] for name in _driver_order(qs)}


def oracle_sql() -> dict[str, str]:
    qs, oracles = _registry()
    return {name: oracles[name] for name in _driver_order(qs) if name in oracles}
