"""Workload registry: every operator from SURVEY.md §2 that we claim as done
has one entry here — a PySpark builder plus (where SQL-expressible) an
equivalent ANSI-SQL oracle that DuckDB runs on the same parquet tables.

The driver compares row-count + schema + order-insensitive value hash, with
columns sorted by NAME — so the Spark builder and the oracle MUST alias every
computed column identically, and timestamp outputs are normalized to
date/strings on both sides.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession


@dataclass
class QueryDef:
    """One correctness-checked query: Spark builder + DuckDB oracle SQL."""

    builder: Callable[[SparkSession, str], DataFrame]
    oracle: Optional[str]  # None → non-SQL-expressible, rows-only check


_REGISTRY: dict[str, QueryDef] = {}


def register(name: str, oracle: Optional[str] = None):
    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        _REGISTRY[name] = QueryDef(fn, oracle)
        return fn

    return deco


# Queries certified GREEN by a prior round's driver run (r01/r02/r03 caps).
# They re-register LAST so a capped correctness run spends its budget on
# never-checked queries first.  Only hash-green rows belong here — a query
# that was sampled but FAILED goes in _MUST_RECERTIFY instead.
_PREVIOUSLY_CERTIFIED = {
    # --- r02 green ---
    "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier_volume",
    "q6_forecast_revenue", "q10_returned_items", "q14_promo_effect",
    "q18_large_volume_customer", "q4_order_priority", "q7_volume_shipping",
    "q13_customer_distribution", "q17_small_quantity_revenue",
    "q21_waiting_supplier",
    "q22_global_sales_opportunity", "q2_min_cost_supplier",
    "q16_supplier_part_counts", "q20_bulk_suppliers",
    "q8_market_share", "q9_product_profit", "q15_top_supplier",
    "q11_important_stock",
    "op_any_join_first_order", "op_limit_by_segment_top3",
    "op_with_totals_returnflag",
    "op_limit_ties_quantity", "op_quantified_above_all",
    "op_quantified_below_any", "cbo_join_reorder", "trivial_count_lineitem",
    "read_nothing", "values_inline_join",
    "rollup_revenue", "cube_status_priority", "explode_word_topk",
    "explode_outer_long_tokens", "set_union_distinct", "set_intersect_all",
    "set_except_nonbuyers", "distinct_segment_priority",
    "theta_join_nation_pairs", "join_using_nation_counts",
    "semi_anti_counts", "full_outer_customer_supplier",
    "smj_order_lineitem_totals", "sample_lineitem", "agg_uniq_suite",
    # --- r03 green ---
    "agg_argminmax", "agg_quantiles_exact", "agg_topk_words",
    "ann_cosine_topk", "beh_funnel_strict_dedup", "beh_funnel_strict_order",
    "beh_retention", "beh_window_funnel", "bitmap_audience_overlap",
    "bitmap_cardinality_by_type", "bitmap_state_merge_uniq",
    "bitmap_union_reach", "cbo_stats_broadcast", "chsql_hourly_activity",
    "chsql_limit_by", "chsql_order_buckets", "chsql_with_fill",
    "dict_get_order_status", "extremes_lineitem", "fill_daily_by_type",
    "fn_date_suite", "fn_math_cond_suite", "fn_string_suite",
    "llm_dedup_keep_list", "llm_exact_dedup", "llm_minhash_dedup",
    "llm_ngram_jaccard", "mm_frame_sample", "mv_rollup_rewrite",
    "source_csv_roundtrip", "source_json_roundtrip", "source_orc_roundtrip",
    "stream_hourly_counts", "stream_session_windows",
    "stream_stateful_sessions", "win_distribution_by_type",
    "win_frames_running_value", "win_lag_lead_user_activity",
    "win_rank_recent_orders", "write_ctas_roundtrip",
    "write_mutation_roundtrip", "write_optimize_compaction",
    "write_upsert_roundtrip",
    # --- r04 green ---
    "q12_priority_shipping", "q19_disjunctive_revenue", "numbers_range_agg",
    "op_asof_purchase_prior_click", "op_fill_hourly_purchases",
    "agg_group_arrays", "summap_user_buckets", "fn_array_suite",
    "ann_label_centroids", "ann_lsh_topk", "ann_ivf_topk",
    "ml_fast_auc2_tiers", "bitmap_expression_count", "ann_variance_matrix",
    "mm_audio_energy", "win_derivative_delta", "fn_json_suite",
    "chsql_json_match", "write_optimize_dedup", "source_jdbc_roundtrip",
    "dict_hierarchy_regions", "stream_dedup_ingest", "ssb_q1_revenue_filter",
    "ml_regression_auc2", "bitmap_max_level", "llm_text_quality",
    "mm_keyframes", "win_sessionize_users", "fn_hash_url_suite",
    "chsql_array_join_words", "agg_histogram", "source_merge_tables",
    "stream_stream_join", "ssb_q2_brand_revenue", "ml_linear_gd",
    "bitmap_join_slot_overlap", "llm_language_guess", "win_groups_frame_sum",
    "fn_geo_suite", "chsql_numbers_squares", "agg_weighted",
    "source_join_get", "ssb_q3_nation_flows",
    # --- r05 green ---
    "beh_attr_analysis_counts", "beh_attr_analysis_first", "beh_attr_analysis_decay",
    "beh_attr_analysis_procedure", "agg_decimal_money", "mm_resize_thumbnail",
    "beh_attr_fuse", "ml_logistic_gd", "bitmap_column_diff_daily",
    "llm_simhash_pairs", "ann_quantize_int8", "win_lag_in_frame",
    "fn_breadth_suite", "chsql_totals_by_status", "agg_moving_sum_arrays",
    "write_schema_evolution", "dict_children_descendants", "stream_mv_to_table",
    "ssb_q4_profit_drilldown", "beh_attr_correlation", "ml_eval_method_scores",
    "llm_doc_fingerprint", "ann_matryoshka16", "fn_map_combinator_suite",
    "chsql_asof", "agg_cohort_retention", "write_partition_prune",
    "stream_topk_trending", "beh_sequence_match", "llm_ngram_lang_id",
    "ann_pq_encode", "fn_enum_uuid_suite", "chsql_any_join",
    "agg_topk_arrays", "beh_sequence_match_gaps", "llm_quality_classifier",
    "ann_ivfpq_topk", "fn_breadth2_suite", "chsql_fill_interpolate",
    "agg_statistics", "beh_sequence_count", "llm_embedding_neardup",
    "fn_ipv4_suite", "chsql_any_multi_join", "agg_advanced_stats",
    "beh_auc", "llm_token_count", "fn_ipv6_base58_suite",
    "agg_uniq_state_merge",
    # --- r06 green ---
    "chsql_window_funnel", "beh_window_funnel_sliding", "bitmap_column_logic",
    "llm_embedding_keep_list", "win_running_concurrency", "fn_conv_suite",
    "agg_round7_suite", "chsql_multi_array_join", "write_bucketed_join",
    "source_hive_external", "dict_region_suite", "idx_token_pruned_search",
    "stream_watermark_late_drop", "op_sample_keyed", "beh_next_after_signup",
    "llm_pii_redact", "fn_strdist_suite", "agg_stat_tests",
    "chsql_compat_suite", "source_json_corrupt_tolerance", "beh_interval_length_sum",
    "llm_tfidf_top_terms", "fn_parity_suite", "agg_resample",
    "chsql_round6_agg_suite", "beh_attribution_last_touch", "llm_hash_sample",
    "fn_mysql_time_suite", "agg_ndcg", "chsql_distinct_on_ties",
    "beh_session_split", "llm_contamination", "fn_vector_suite",
    "agg_categorical_iv", "chsql_sequence_match_count", "beh_path_split",
    "llm_seq_packing", "fn_h3_suite", "agg_mean_ztest",
    "chsql_batch5_suite", "beh_attribution_linear", "llm_bm25",
    "fn_s2_suite", "agg_theta_state_merge", "chsql_final_replacing",
    "beh_attribution_position", "llm_unigram_logppl", "fn_round7_suite",
    "agg_frequency", "chsql_system_tables",
    # r07 (50/50 green)
    "beh_attribution_time_decay", "llm_repetition", "fn_round7b_suite",
    "chsql_ddl_roundtrip", "agg_misc_suite", "source_hudi_cow",
    "beh_xirr", "llm_stratified_sample", "fn_textsearch_suite",
    "chsql_geo_suite", "agg_group_array_insert_at", "beh_funnel_rep",
    "llm_chunking", "fn_bayes_ab", "chsql_lbs_circle",
    "agg_foreach_suite", "beh_user_distribution", "llm_kmeans_clusters",
    "fn_blake3_vectors", "chsql_mutation_ddl", "agg_sum_stack",
    "beh_max_intersections", "llm_dup_ngram_filter", "fn_lbs_filter_suite",
    "chsql_system_parts", "agg_merge_stream_stack", "beh_gen_array",
    "llm_source_cap", "fn_hash_exact_vectors", "chsql_limits_suite",
    "agg_bitwise_linreg", "beh_count_by_granularity", "llm_dsir_selection",
    "chsql_quota_process_suite", "agg_uniq_combined_tiers", "beh_mann_whitney",
    "llm_semdedup", "chsql_stats_ddl", "agg_concat_deltasum_ts",
    "beh_finder_funnel", "chsql_resource_group_suite", "agg_arbitrary_single",
    "beh_funnel_rep_by_times", "chsql_backup_restore", "agg_moments_suite",
    "beh_finder_funnel_by_times", "chsql_advisor_suite", "agg_parity_ext_suite",
    "beh_finder_group_funnel_by_times", "chsql_dictionary_sql",
    # r08 greens (rotation applied at r9 start)
    "beh_session_analysis", "chsql_rbac_suite", "agg_theta_setops",
    "beh_path_count", "chsql_transaction_suite", "beh_sparkbar",
    "chsql_insert_format", "beh_fast_auc", "chsql_view_exchange",
    "beh_retention_loss", "chsql_partition_ops", "beh_slide_match_count",
    "chsql_projection_rewrite", "beh_last_range_count", "chsql_star_modifiers",
    "beh_debias_auc", "chsql_databases", "beh_funnel_path_split",
    "chsql_ttl_sweep", "beh_funnel_path_split_times", "chsql_top_collate",
    "beh_reg_auc", "chsql_mv_sql", "beh_ecpm_auc",
    "chsql_file_function", "beh_finder_group_funnel", "chsql_rocksdb_upsert",
    "beh_gen_array_month", "chsql_any_right_join", "beh_retention_triangle",
    "chsql_create_grammar", "beh_user_distribution_monthly",
    "chsql_dialect8_suite", "beh_funnel_rep2", "chsql_values_tf",
    "beh_funnel_rep3", "chsql_set_settings", "beh_association_stats",
    "chsql_alias_where", "beh_ema_by_type", "chsql_groups_frame",
    "beh_path_split_r", "chsql_untuple", "beh_session_split_r2",
    "chsql_ingest_partition", "beh_page_time", "beh_retention4",
    # r09 (50/50 green; CORRECTNESS_r09.json)
    "chsql_map_byte_ops", "chsql_mann_whitney", "chsql_dialect8b_suite",
    "beh_attr_analysis_counts", "beh_attr_analysis_first",
    "beh_attr_analysis_decay", "beh_window_funnel",
    "beh_funnel_strict_order", "beh_funnel_strict_dedup", "beh_retention",
    "beh_sequence_count", "beh_session_analysis", "beh_path_count",
    "beh_sparkbar", "beh_fast_auc", "beh_retention_loss",
    "beh_slide_match_count", "beh_last_range_count", "beh_debias_auc",
    "beh_funnel_path_split", "beh_funnel_path_split_times",
    "beh_mann_whitney", "beh_finder_funnel", "beh_funnel_rep_by_times",
    "beh_finder_funnel_by_times", "beh_finder_group_funnel_by_times",
    "beh_max_intersections", "beh_gen_array", "beh_count_by_granularity",
    "beh_attr_analysis_procedure", "beh_attr_fuse", "beh_attr_correlation",
    "beh_window_funnel_sliding", "beh_sequence_match",
    "beh_sequence_match_gaps", "beh_auc", "beh_next_after_signup",
    "beh_interval_length_sum", "beh_attribution_last_touch",
    "beh_session_split", "beh_path_split", "beh_attribution_linear",
    "beh_attribution_position", "beh_attribution_time_decay", "beh_xirr",
    "beh_funnel_rep", "beh_user_distribution",
    # --- r10 green ---
    "chsql_map_byte_ops", "chsql_dialect8b_suite", "chsql_stats_ddl",
    "beh_gen_array_month", "beh_retention_triangle",
    "beh_user_distribution_monthly",
    "beh_funnel_rep2", "beh_funnel_rep3", "beh_association_stats",
    "beh_ema_by_type", "beh_path_split_r", "beh_session_split_r2",
    "beh_page_time", "ml_fast_auc2_tiers", "ml_regression_auc2",
    "ml_linear_gd", "ml_logistic_gd", "ml_eval_method_scores",
    "beh_retention4", "bitmap_cardinality_by_type",
    "bitmap_audience_overlap",
    "bitmap_union_reach", "bitmap_state_merge_uniq",
    "bitmap_expression_count",
    "bitmap_max_level", "bitmap_join_slot_overlap",
    "bitmap_column_diff_daily",
    "bitmap_column_logic", "llm_exact_dedup", "llm_minhash_dedup",
    "llm_ngram_jaccard", "llm_dedup_keep_list", "llm_simhash_pairs",
    "llm_text_quality", "llm_language_guess", "llm_doc_fingerprint",
    "ann_cosine_topk", "ann_lsh_topk", "ann_label_centroids",
    "ann_ivf_topk", "llm_ngram_lang_id", "llm_quality_classifier",
    "llm_embedding_neardup", "llm_embedding_keep_list",
    "ann_variance_matrix",
    "mm_frame_sample", "llm_token_count", "mm_audio_energy",
    "mm_keyframes", "mm_resize_thumbnail", "chsql_infix_mod",
    # --- r12 green (CORRECTNESS_r12: 50/50) ---
    "chsql_date_shift", "chsql_int_div_zero", "chsql_empty_set_aggs",
    "chsql_rollup_defaults", "chsql_totals_last", "chsql_ttl_prune_read",
    "chsql_encrypt_vectors", "chsql_json_extract_typed", "chsql_array_split_multi",
    "chsql_todatetime_tz",
}

# Queries whose builders are rows-only BY DESIGN (randomness, honest codec
# stub): the driver records `err: no_oracle` every time it samples one, so
# they register dead LAST — a capped run should never burn a sample slot on
# a row that cannot produce hash signal.  (`sample_lineitem` is already in
# _PREVIOUSLY_CERTIFIED and sorts late anyway.)
_ROWS_ONLY_LAST = ["mm_decode_features", "sample_lineitem"]

# Queries a prior driver run sampled and FAILED; their fixes landed but the
# real driver has never confirmed them.  They register FIRST — ahead of even
# never-sampled queries — so the next capped run certifies the fixes.
# r06: 50/50 sampled queries hash-green (including the chsql_window_funnel
# recertification after its round-6 sliding-anchor semantics change).
# r10: all three changed-behavior queries (chsql_map_byte_ops,
# chsql_dialect8b_suite, chsql_stats_ddl) were driver-certified green in
# CORRECTNESS_r10 — nothing is pending re-confirmation.  The r11 infix-MOD
# fix registers as a NEW query (chsql_infix_mod, fresh tier → first).
_MUST_RECERTIFY: list[str] = []

# Recency ladder for the certified tier: _R12_GREEN.._R09_GREEN hold the
# queries the r12, r11, r10 and r09 correctness runs certified
# (CORRECTNESS_r12: 50/50).  A query sorts by its most recent rung — r12
# greens at the very back, then r11, r10, r09, and queries certified
# before r09 first — so a capped run re-confirms the least-recently
# certified queries first.
_R12_GREEN = {
    "chsql_date_shift", "chsql_int_div_zero", "chsql_empty_set_aggs",
    "chsql_rollup_defaults", "chsql_totals_last", "chsql_ttl_prune_read",
    "chsql_encrypt_vectors", "chsql_json_extract_typed", "chsql_array_split_multi",
    "chsql_todatetime_tz", "agg_round7_suite", "fn_round7b_suite",
    "fn_textsearch_suite", "fn_bayes_ab", "fn_blake3_vectors",
    "fn_lbs_filter_suite", "fn_hash_exact_vectors", "chsql_hourly_activity",
    "chsql_order_buckets", "chsql_limit_by", "chsql_with_fill",
    "chsql_json_match", "chsql_array_join_words", "chsql_numbers_squares",
    "chsql_totals_by_status", "chsql_asof", "chsql_any_join",
    "chsql_fill_interpolate", "chsql_any_multi_join", "chsql_window_funnel",
    "chsql_multi_array_join", "chsql_compat_suite", "chsql_round6_agg_suite",
    "chsql_distinct_on_ties", "chsql_sequence_match_count", "chsql_batch5_suite",
    "chsql_final_replacing", "chsql_system_tables", "chsql_ddl_roundtrip",
    "chsql_geo_suite", "chsql_lbs_circle", "chsql_mutation_ddl",
    "chsql_system_parts", "chsql_limits_suite", "chsql_quota_process_suite",
    "chsql_resource_group_suite", "chsql_backup_restore", "chsql_advisor_suite",
    "chsql_dictionary_sql", "chsql_rbac_suite",
}

_R11_GREEN = {
    "chsql_infix_mod", "llm_pii_redact", "llm_tfidf_top_terms",
    "llm_hash_sample", "llm_contamination", "ann_quantize_int8",
    "llm_seq_packing", "llm_bm25", "llm_unigram_logppl",
    "ann_matryoshka16", "ann_pq_encode", "ann_ivfpq_topk",
    "llm_repetition", "llm_stratified_sample", "llm_chunking",
    "llm_kmeans_clusters", "llm_dup_ngram_filter", "llm_source_cap",
    "llm_dsir_selection", "llm_semdedup", "win_rank_recent_orders",
    "win_lag_lead_user_activity", "win_frames_running_value",
    "win_distribution_by_type", "win_derivative_delta",
    "win_sessionize_users", "win_groups_frame_sum",
    "win_lag_in_frame", "win_running_concurrency", "fn_date_suite",
    "fn_string_suite", "fn_math_cond_suite", "fn_array_suite",
    "fn_json_suite", "fn_hash_url_suite", "fn_geo_suite",
    "fn_breadth_suite", "fn_map_combinator_suite",
    "fn_enum_uuid_suite", "fn_breadth2_suite", "fn_ipv4_suite",
    "fn_ipv6_base58_suite", "fn_conv_suite", "fn_strdist_suite",
    "fn_parity_suite", "fn_mysql_time_suite", "fn_vector_suite",
    "fn_h3_suite", "fn_s2_suite", "fn_round7_suite",
}

_R10_GREEN = {
    "chsql_map_byte_ops", "chsql_dialect8b_suite", "chsql_stats_ddl",
    "beh_gen_array_month", "beh_retention_triangle",
    "beh_user_distribution_monthly",
    "beh_funnel_rep2", "beh_funnel_rep3", "beh_association_stats",
    "beh_ema_by_type", "beh_path_split_r", "beh_session_split_r2",
    "beh_page_time", "ml_fast_auc2_tiers", "ml_regression_auc2",
    "ml_linear_gd", "ml_logistic_gd", "ml_eval_method_scores",
    "beh_retention4", "bitmap_cardinality_by_type",
    "bitmap_audience_overlap",
    "bitmap_union_reach", "bitmap_state_merge_uniq",
    "bitmap_expression_count",
    "bitmap_max_level", "bitmap_join_slot_overlap",
    "bitmap_column_diff_daily",
    "bitmap_column_logic", "llm_exact_dedup", "llm_minhash_dedup",
    "llm_ngram_jaccard", "llm_dedup_keep_list", "llm_simhash_pairs",
    "llm_text_quality", "llm_language_guess", "llm_doc_fingerprint",
    "ann_cosine_topk", "ann_lsh_topk", "ann_label_centroids",
    "ann_ivf_topk", "llm_ngram_lang_id", "llm_quality_classifier",
    "llm_embedding_neardup", "llm_embedding_keep_list",
    "ann_variance_matrix",
    "mm_frame_sample", "llm_token_count", "mm_audio_energy",
    "mm_keyframes", "mm_resize_thumbnail",
}

# r09 greens: the oldest rung of the recency ladder above
_R09_GREEN = {
    "chsql_map_byte_ops", "chsql_mann_whitney", "chsql_dialect8b_suite",
    "beh_attr_analysis_counts", "beh_attr_analysis_first",
    "beh_attr_analysis_decay", "beh_attr_analysis_procedure",
    "beh_attr_fuse", "beh_attr_correlation", "beh_window_funnel",
    "beh_window_funnel_sliding", "beh_funnel_strict_order",
    "beh_funnel_strict_dedup", "beh_retention", "beh_sequence_match",
    "beh_sequence_match_gaps", "beh_sequence_count", "beh_auc",
    "beh_next_after_signup", "beh_interval_length_sum",
    "beh_attribution_last_touch", "beh_session_split", "beh_path_split",
    "beh_attribution_linear", "beh_attribution_position",
    "beh_attribution_time_decay", "beh_xirr", "beh_funnel_rep",
    "beh_user_distribution", "beh_max_intersections", "beh_gen_array",
    "beh_count_by_granularity", "beh_mann_whitney", "beh_finder_funnel",
    "beh_funnel_rep_by_times", "beh_finder_funnel_by_times",
    "beh_finder_group_funnel_by_times", "beh_session_analysis",
    "beh_path_count", "beh_sparkbar", "beh_fast_auc",
    "beh_retention_loss", "beh_slide_match_count",
    "beh_last_range_count", "beh_debias_auc", "beh_funnel_path_split",
    "beh_funnel_path_split_times", "beh_reg_auc", "beh_ecpm_auc",
    "beh_finder_group_funnel",
}


def all_queries() -> dict[str, QueryDef]:
    # Import side-effect populates the registry.  ORDER MATTERS: the
    # verification driver caps its oracle run at the first N registered
    # queries.  Two levers maximize fresh signal under any cap:
    #   1. queries never certified by a prior driver round come FIRST;
    #   2. within each tier, families interleave ROUND-ROBIN (by name
    #      prefix) so a small cap still certifies every family.
    from byconity_spark.workloads import (  # noqa: F401
        attribution_suite,
        behavioral,
        ml_suite,
        bitmaps_suite,
        llm_pipeline,
        windows,
        functions_suite,
        chsql_suite,
        chsql_round8,
        chsql_round8b,
        chsql_round11,
        chsql_round12,
        aggregates_suite,
        writes,
        sources_suite,
        streaming_suite,
        setops_grouping,
        ssb_suite,
        tpch,
        tpch_extra,
        relational,
    )

    def family(name: str) -> str:
        return name.split("_", 1)[0]

    def round_robin(names: list[str]) -> list[str]:
        from collections import defaultdict

        by_fam: dict[str, list[str]] = defaultdict(list)
        for n in names:
            by_fam[family(n)].append(n)  # keeps registration order per family
        out: list[str] = []
        queues = list(by_fam.values())
        while queues:
            queues = [q for q in queues if q]
            for q in queues:
                if q:
                    out.append(q.pop(0))
        return out

    recert = [n for n in _MUST_RECERTIFY if n in _REGISTRY]
    last = [
        n for n in _ROWS_ONLY_LAST
        if n in _REGISTRY and n not in set(recert)
    ]
    skip = set(recert) | set(last) | _PREVIOUSLY_CERTIFIED
    fresh = [n for n in _REGISTRY if n not in skip]
    certified = [
        n for n in _REGISTRY
        if n in _PREVIOUSLY_CERTIFIED and n not in set(recert) and n not in set(last)
    ]
    # rotation: the four-rung recency ladder (r12 greens last, then r11,
    # r10, r09) so a capped run re-confirms the LEAST-recently certified
    # queries first
    certified.sort(
        key=lambda n: (4 if n in _R12_GREEN else
                       3 if n in _R11_GREEN else
                       2 if n in _R10_GREEN else
                       1 if n in _R09_GREEN else 0)
    )
    ordered = recert + round_robin(fresh) + certified + last
    return {n: _REGISTRY[n] for n in ordered}
