"""Query catalog — the engine's demonstrated SQL/operator surface.

Every entry here is one row of SURVEY.md §2's operator inventory, expressed
twice: a Spark implementation (DataFrame API or Spark SQL) and, where the
semantics are ANSI-SQL-expressible, a DuckDB oracle string. The driver runs
both sides at sf=0.01 and hash-compares results — so every aggregate /
computed column is aliased identically on both sides, floats that can pick
up cross-engine accumulation-order noise are rounded/cast identically on
both sides, and every ORDER BY used under a LIMIT carries a unique
tiebreaker.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from datafusion_gpu_spark.aggregates import register_aggregates
from datafusion_gpu_spark.context import register_tables

QueryFn = Callable[[SparkSession, str], DataFrame]


def load(spark: SparkSession, sf_dir: str) -> SparkSession:
    """Make the star schema + custom aggregates available for a query run.

    Registers once per (session, ``sf_dir``); a warm call only checks the
    JVM catalog and re-registers just what is missing or was replaced — a
    dropped or shadowed view, a dropped or re-registered sum, every view
    when ``sf_dir`` changes. The session time zone is pinned to UTC on
    every call. See ``context._SESSION_STATE``.
    """
    register_tables(spark, sf_dir)
    register_aggregates(spark)
    return spark


def sql_query(statement: str) -> QueryFn:
    """Wrap a Spark SQL string as a (spark, sf_dir) -> DataFrame callable."""

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        load(spark, sf_dir)
        return spark.sql(statement)

    return run


# Driver coverage closed in round 5: the union of CORRECTNESS_r01-r05 is all
# 224 registered queries, every row green. The driver gate checks at most 50
# queries per round in registry order, so from round 6 on the ordering is a
# STALENESS ROTATION: each round's 50 slots go to the rows whose last driver
# check is OLDEST (the engine underneath an r1-checked row has been refactored
# for four rounds — local pytest covers it, but a driver re-check is the
# stronger evidence; VERDICT r5, ask #3). Brand-new queries slot in right
# after the two oldest tranches: a new op still needs its FIRST driver row
# soon, but never at the cost of the longest-stale re-checks.
#
# Maintenance contract: when CORRECTNESS_r{N} lands, add its 50 names as a
# _CHECKED_R{N} tuple below and include it in the enumerate() feed (later
# tuples win, so a re-checked name automatically advances its rank).
_CHECKED_R1 = (
    "agg_approximate", "agg_bool_bit", "agg_collect_ordered", "agg_count_distinct",
    "agg_filter_clause", "agg_grouping_sets", "agg_median", "agg_min_max_by",
    "agg_rollup", "agg_statistical", "custom_sum_f32_grouped", "fn_array_pack",
    "fn_conditional", "fn_crypto_pack", "fn_date_bin", "fn_datetime_pack",
    "fn_json_extract", "fn_math_pack", "fn_regex_pack", "fn_string_pack",
    "fn_struct_map", "fn_unnest_wordcount", "window_first_last_nth", "window_lag_lead",
    "window_percent_rank", "window_range_frame", "window_ranking", "window_rows_frame",
)
_CHECKED_R2 = (
    "agg_group_by_all", "cte_recursive", "cte_values_join", "ddl_create_view",
    "distinct_on_latest_order", "explain_plan", "join_anti_not_exists", "join_cross",
    "join_full_outer", "join_lateral_topk", "join_left_outer", "join_non_equi_band",
    "join_right_outer", "join_semi_api", "join_semi_exists", "join_sort_merge_hint",
    "pivot_orders", "set_except", "set_except_all", "set_intersect",
    "set_intersect_all", "set_union", "sort_limit_offset", "subquery_correlated",
    "subquery_in", "subquery_scalar", "table_function_range", "tpch_q10_returned_items",
    "tpch_q11_important_stock", "tpch_q12_priority_pivot", "tpch_q13_order_distribution",
    "tpch_q14_promo_share", "tpch_q15_top_supplier_view", "tpch_q16_supplier_cnt",
    "tpch_q17_small_qty_revenue", "tpch_q18_large_volume", "tpch_q19_disjunctive_pred",
    "tpch_q20_excess_stock", "tpch_q21_waiting_supplier", "tpch_q22_inactive_customers",
    "tpch_q2_min_cost_supplier", "tpch_q4_priority_exists", "tpch_q6_forecast_revenue",
    "tpch_q7_volume_shipping", "tpch_q8_market_share", "tpch_q9_profit_rollup",
    "unpivot_customer_metrics",
)
_CHECKED_R3 = (
    "csv_scan_agg", "dedup_components", "dedup_embedding_cosine", "dedup_embedding_lsh",
    "dedup_exact", "dedup_lines", "dedup_minhash_lsh", "dedup_ngram_jaccard",
    "dedup_semantic", "dedup_simhash", "dedup_substring_spans", "events_anomalies",
    "events_asof", "events_gap_fill", "events_hopping", "events_interval_join",
    "events_salted_sum", "events_session_native", "events_sessionize", "events_tumbling",
    "events_winsorize", "io_compact_small_files", "io_copy_to_sql", "io_partitioned_parquet",
    "io_roundtrip_arrow", "io_roundtrip_csv", "io_roundtrip_json", "io_roundtrip_json_gzip",
    "io_roundtrip_orc", "io_schema_evolution", "multimodal_chunks", "multimodal_features",
    "pipeline_end_to_end", "retrieval_hard_negatives", "sim_bitext_margin",
    "sim_contrastive_triplets", "sim_knn_graph", "sim_topk_bruteforce", "sim_topk_ivf",
    "sim_topk_lsh", "sim_topk_pq", "sim_topk_vectorized", "source_python_datasource",
    "streaming_dedup_keys", "streaming_enriched_purchases", "streaming_session_counts",
    "streaming_tumbling_counts", "text_quality", "types_sum_parity",
)
_CHECKED_R4 = (
    "agg_approx_error_bounded", "agg_cube", "agg_hll_sketch_union", "curation_dsir_resample",
    "curation_hash_split", "curation_mix_domains", "curation_pack_sequences",
    "curation_quantile_filter", "curation_shuffle", "curation_stratified_sample",
    "curation_temperature_mix", "curation_weighted_sample", "curation_zorder_key",
    "custom_sum_f32_dataframe_api", "custom_sum_f32_global", "custom_sum_f32_scalable",
    "custom_sum_f32_sql_rewritten", "custom_sum_f32_unfused", "dedup_incremental",
    "events_multi_rollup", "events_scd2_history", "fn_alias_shims", "fn_edit_distance",
    "fn_null_semantics", "fn_udtf_split", "fn_url_pack", "fn_variant_json",
    "graph_pagerank", "io_merge_upsert", "multimodal_decode", "retrieval_bm25",
    "retrieval_tfidf", "sim_mmr_rerank", "sim_quantize_int8", "sim_topk_ivf_kmeans_recall",
    "text_c4_rules", "text_chunks", "text_collocations", "text_contamination",
    "text_fingerprints", "text_gopher_rules", "text_lang_id", "text_perplexity",
    "text_pii_redact", "text_repetition", "text_tokens", "text_winnowing",
    "window_exclude_current_emulated", "window_groups_frame_emulated", "window_qualify_rewrite",
)
_CHECKED_R5 = (
    "agg_bitmap_distinct", "agg_count_min_estimate", "agg_kll_quantiles",
    "agg_mode_deterministic", "agg_regression", "agg_string_agg", "agg_theta_setops",
    "dedup_incremental_bloom", "dedup_url", "events_ab_test", "events_anomaly_mad",
    "events_funnel", "events_histogram", "events_retention", "events_rfm",
    "events_scd2_asof", "events_top_paths", "events_transitions", "fn_bitwise_pack",
    "fn_collation", "graph_common_neighbors", "graph_degree_hist", "graph_kcore",
    "graph_triangle_count", "io_bucketed_join", "io_csv_quoted_multiline",
    "io_snapshot_diff", "io_time_travel", "join_band_bucketed", "multimodal_audio",
    "multimodal_frame_sample", "multimodal_resize", "pipeline_multimodal",
    "sim_pca_contract", "sim_random_projection", "sort_limit_with_ties",
    "source_python_stream", "streaming_funnel", "streaming_histogram",
    "streaming_multi_rollup", "streaming_stream_stream_join", "text_bigram_lm",
    "text_bpe_contract", "text_bpe_encode", "text_heavy_hitters", "text_readability",
    "tpch_q1_pricing_summary", "tpch_q3_shipping_priority", "tpch_q5_local_supplier",
    "window_ignore_nulls",
)

_CHECKED_R6 = (
    "agg_approximate", "agg_bool_bit", "agg_collect_ordered", "agg_count_distinct",
    "agg_filter_clause", "agg_grouping_sets", "agg_median", "agg_min_max_by",
    "agg_rollup", "agg_statistical", "custom_sum_f32_grouped", "fn_array_pack",
    "fn_conditional", "fn_crypto_pack", "fn_date_bin", "fn_datetime_pack",
    "fn_json_extract", "fn_math_pack", "fn_regex_pack", "fn_string_pack",
    "fn_struct_map", "fn_unnest_wordcount", "join_full_outer", "join_left_outer",
    "join_semi_exists", "tpch_q10_returned_items", "tpch_q11_important_stock", "tpch_q12_priority_pivot",
    "tpch_q13_order_distribution", "tpch_q14_promo_share", "tpch_q15_top_supplier_view", "tpch_q16_supplier_cnt",
    "tpch_q17_small_qty_revenue", "tpch_q18_large_volume", "tpch_q19_disjunctive_pred", "tpch_q20_excess_stock",
    "tpch_q21_waiting_supplier", "tpch_q22_inactive_customers", "tpch_q2_min_cost_supplier", "tpch_q4_priority_exists",
    "tpch_q6_forecast_revenue", "tpch_q7_volume_shipping", "tpch_q8_market_share", "tpch_q9_profit_rollup",
    "window_first_last_nth", "window_lag_lead", "window_percent_rank", "window_range_frame",
    "window_ranking", "window_rows_frame",
)

_CHECKED_R7 = (
    "agg_gini", "agg_group_by_all", "agg_trimmed_mean", "agg_weighted_median",
    "cte_recursive", "cte_values_join", "ddl_create_view", "dedup_prefix_filter",
    "distinct_on_latest_order", "events_changepoint_cusum", "events_match_recognize", "events_sliding_distinct",
    "explain_plan", "graph_bellman_ford", "graph_bfs", "graph_condensation",
    "graph_delta_stepping", "graph_harmonic_exact", "graph_harmonic_hyperball", "graph_louvain",
    "graph_mst", "graph_pagerank_personalized", "graph_resource_allocation", "graph_scc",
    "graph_toposort", "join_anti_not_exists", "join_cross", "join_fuzzy_blocked",
    "join_geo_radius", "join_lateral_topk", "join_non_equi_band", "join_right_outer",
    "join_semi_api", "join_sort_merge_hint", "multimodal_phash", "pivot_orders",
    "set_except", "set_except_all", "set_intersect", "set_intersect_all",
    "set_union", "sort_limit_offset", "subquery_correlated", "subquery_in",
    "subquery_scalar", "table_function_range", "text_unicode_clean", "unpivot_customer_metrics",
    "window_rolling_median", "window_running_distinct",
)

_CHECKED_R8 = (
    "agg_benford", "agg_chi_squared", "agg_entropy", "agg_mann_whitney",
    "agg_spearman", "curation_apportion", "curation_pack_bestfit",
    "curation_reservoir_per_source", "curation_token_budget", "dedup_components",
    "dedup_containment", "dedup_embedding_cosine", "dedup_embedding_lsh", "dedup_exact",
    "dedup_lines", "dedup_minhash_lsh", "dedup_ngram_jaccard", "dedup_semantic",
    "dedup_simhash", "dedup_substring_spans", "events_ab_srm", "events_attribution",
    "events_autocorr", "events_ewma", "events_interval_merge", "events_ks_test",
    "events_markov_2step", "events_ohlc", "events_survival_km", "fn_higher_order",
    "graph_assortativity", "graph_clustering_coeff", "graph_label_propagation",
    "io_incremental_agg", "io_incremental_agg_bucketed", "io_roundtrip_parquet_zstd",
    "join_asof_nearest", "join_skew_salted", "sim_bitext_margin", "sim_knn_graph",
    "sim_topk_bruteforce", "streaming_cusum", "streaming_ewma",
    "streaming_incremental_agg", "streaming_ohlc", "text_hashing_vectorizer",
    "text_kneser_ney", "text_zipf_fit", "window_bollinger", "window_rolling_corr",
)

_CHECKED_R9 = (
    "agg_anova_f", "agg_auc_exact", "agg_brown_forsythe", "agg_calibration_bins",
    "agg_chi2_independence", "agg_equidepth_bins", "agg_kruskal_wallis", "agg_mann_whitney_bucketed",
    "agg_mood_median", "agg_pr_at_threshold", "agg_simpson_diversity", "agg_welch_ttest",
    "curation_k_anonymity", "curation_l_diversity", "curation_source_overlap", "curation_t_closeness",
    "events_anomalies", "events_cross_corr", "events_did", "events_gap_fill",
    "events_interval_join", "events_ks_test_bucketed", "events_lorenz_curve", "events_proportion_ztest",
    "events_salted_sum", "events_seasonal_anomaly", "events_tumbling", "events_winsorize",
    "fn_error_safe", "graph_reciprocity", "io_checksum_manifest", "io_profile_stats",
    "multimodal_chunks", "multimodal_features", "pipeline_end_to_end", "retrieval_hard_negatives",
    "sim_contrastive_triplets", "sim_embedding_drift", "sim_topk_ivf", "sim_topk_lsh",
    "sim_topk_pq", "sim_topk_vectorized", "streaming_auc_exact", "streaming_seasonal_anomaly",
    "streaming_tumbling_counts", "streaming_welch_ttest", "text_heaps_fit", "text_jsd_drift",
    "text_quality", "text_rake_keywords",
)

_CHECKED_R10 = (
    "agg_gain_lift_curve", "agg_precision_at_k", "events_holt_smoothing", "streaming_holt",
    "agg_mcc", "agg_cohen_kappa", "agg_cramers_v", "agg_ndcg_at_k",
    "agg_mrr", "events_theil_index", "agg_brier_score", "events_power_analysis",
    "agg_gmean_hmean", "text_burstiness", "curation_dup_rate_by_source", "agg_tukey_fences",
    "events_max_drawdown", "streaming_max_drawdown", "events_bootstrap_ci", "curation_class_balance",
    "events_pacf", "agg_median_ci", "events_runs_test", "events_seasonality_strength",
    "window_atr", "curation_mix_kl", "streaming_session_counts", "streaming_enriched_purchases",
    "streaming_dedup_keys", "events_hopping", "events_session_native", "events_sessionize",
    "events_asof", "types_sum_parity", "csv_scan_agg", "io_copy_to_sql",
    "io_schema_evolution", "io_compact_small_files", "source_python_datasource", "io_roundtrip_json",
    "io_roundtrip_json_gzip", "io_roundtrip_csv", "io_roundtrip_orc", "io_roundtrip_arrow",
    "io_partitioned_parquet", "agg_hll_sketch_union", "agg_cube", "agg_approx_error_bounded",
    "window_groups_frame_emulated", "window_exclude_current_emulated",
)

_CHECKED_R11 = (
    "agg_cliff_delta", "agg_cohens_d", "agg_ece", "agg_gain_lift_curve",
    "agg_hosmer_lemeshow", "agg_isotonic_calibration", "agg_kruskal_wallis", "agg_ks_uniform",
    "agg_mann_whitney_bucketed", "agg_mrr", "agg_pinball_loss", "agg_precision_at_k",
    "agg_tost_equivalence", "curation_quantile_filter", "custom_sum_f32_dataframe_api", "custom_sum_f32_global",
    "custom_sum_f32_scalable", "custom_sum_f32_sql_rewritten", "custom_sum_f32_unfused", "dedup_incremental",
    "events_conformal_interval", "events_croston", "events_cvm_test", "events_gap_fill",
    "events_gap_fill_linear", "events_holt_winters", "events_its_segmented", "events_ks_test_bucketed",
    "events_lorenz_curve", "events_page_hinkley", "events_scd2_history", "events_survival_greenwood",
    "events_theil_u2", "fn_alias_shims", "fn_edit_distance", "fn_null_semantics",
    "fn_udtf_split", "fn_url_pack", "fn_variant_json", "sim_topk_lsh_recall",
    "sim_topk_pq_recall", "streaming_croston", "streaming_donchian", "streaming_holt_winters",
    "streaming_page_hinkley", "text_heaps_fit", "text_missing_mass", "text_token_hhi",
    "window_donchian", "window_qualify_rewrite",
)

_CHECKED_R12 = (
    "agg_cliff_delta", "agg_ece", "agg_friedman", "agg_kendall_tau",
    "agg_ks_uniform", "curation_dsir_resample", "curation_hash_split", "curation_mix_domains",
    "curation_shuffle", "curation_zorder_key", "events_breslow_day", "events_cmh",
    "events_cochran_q", "events_competing_risks", "events_conformal_interval", "events_cvm_test",
    "events_forecast_backtest", "events_group_sequential", "events_logrank", "events_logrank_stratified",
    "events_mcnemar", "events_multi_rollup", "events_sprt", "events_survival_greenwood",
    "events_survival_median", "events_survival_na_bands", "events_survival_rmst", "graph_pagerank",
    "multimodal_decode", "retrieval_bm25", "retrieval_tfidf", "sim_mmr_rerank",
    "sim_quantize_int8", "sim_topk_ivf_kmeans_recall", "streaming_cochran_q", "streaming_mcnemar",
    "streaming_sprt", "text_c4_rules", "text_chunks", "text_collocations",
    "text_contamination", "text_fingerprints", "text_gopher_rules", "text_lang_id",
    "text_mattr", "text_perplexity", "text_pii_redact", "text_repetition",
    "text_tokens", "text_winnowing",
)

_CHECKED_R13 = (
    "agg_average_precision", "agg_bartlett", "agg_bh_fdr", "agg_bland_altman",
    "agg_cochran_armitage", "agg_cohens_h", "agg_cronbach_alpha", "agg_cv_auc",
    "agg_dunn_posthoc", "agg_fleiss_kappa", "agg_g_test", "agg_gk_lambda",
    "agg_icc", "agg_jarque_bera", "agg_kendall_w", "agg_lin_ccc",
    "agg_log_loss", "agg_somers_d", "agg_uncertainty_coeff", "agg_welch_anova",
    "curation_capture_recapture", "curation_eb_shrinkage", "events_classical_decomp", "events_cox_ph",
    "events_cuped", "events_group_sequential", "events_group_sequential_pocock", "events_harrell_c",
    "events_hurst_rs", "events_jackknife_ratio", "events_kpss", "events_life_table",
    "events_ljung_box", "events_logrank_k", "events_logrank_weighted", "events_mann_kendall",
    "events_page_trend", "events_rate_ratio", "events_siegel_trend", "events_survival_diff_72h",
    "events_theil_sen", "events_theil_sen_bucketed", "events_variance_ratio", "graph_hits",
    "graph_modularity", "sim_corpus_dispersion", "streaming_group_sequential", "streaming_jarque_bera",
    "streaming_log_loss", "window_rsi",
)

_CHECKED_R14 = (
    "agg_bh_fdr", "agg_bitmap_distinct", "agg_brunner_munzel", "agg_count_min_estimate",
    "agg_kll_quantiles", "agg_mode_deterministic", "agg_regression", "agg_string_agg",
    "agg_theta_setops", "agg_tost_equivalence", "agg_weighted_median", "curation_pack_sequences",
    "curation_stratified_sample", "curation_temperature_mix", "curation_weighted_sample", "dedup_incremental_bloom",
    "events_ab_test", "events_auc_td", "events_brier_ipcw", "events_funnel",
    "events_harrell_c_cont", "events_retention", "events_rfm", "events_scd2_asof",
    "events_schoenfeld_ph", "events_seasonal_mk", "events_survival_calibration", "events_top_paths",
    "events_transitions", "events_uno_c", "fn_bitwise_pack", "fn_collation",
    "graph_modularity", "io_merge_upsert", "join_band_bucketed", "multimodal_audio",
    "multimodal_frame_sample", "pipeline_multimodal", "sim_pca_contract", "sort_limit_with_ties",
    "source_python_stream", "streaming_funnel", "streaming_multi_rollup", "streaming_stream_stream_join",
    "text_heavy_hitters", "text_missing_mass", "tpch_q1_pricing_summary", "tpch_q3_shipping_priority",
    "tpch_q5_local_supplier", "window_ignore_nulls",
)

_CHECKED_R15 = (
    "curation_dsir_resample", "dedup_components", "dedup_incremental_embedding", "dedup_incremental_minhash",
    "dedup_lines", "dedup_minhash_lsh", "dedup_url", "events_anomaly_mad",
    "events_cox_ph", "events_croston", "events_ewma", "events_forecast_backtest",
    "events_histogram", "events_holt_smoothing", "events_holt_winters", "graph_common_neighbors",
    "graph_degree_hist", "graph_hits", "graph_kcore", "graph_louvain",
    "graph_mst", "graph_triangle_count", "io_bucketed_join", "io_csv_quoted_multiline",
    "io_snapshot_diff", "io_time_travel", "multimodal_audio_fp", "multimodal_audio_neardup",
    "multimodal_resize", "retrieval_bm25", "sim_random_projection", "streaming_histogram",
    "streaming_incremental_minhash", "text_bigram_lm", "text_bpe_contract", "text_bpe_encode",
    "text_perplexity", "text_readability", "tpch_q10_returned_items", "tpch_q14_promo_share",
    "tpch_q15_top_supplier_view", "tpch_q16_supplier_cnt", "tpch_q18_large_volume", "tpch_q19_disjunctive_pred",
    "tpch_q22_inactive_customers", "tpch_q4_priority_exists", "tpch_q6_forecast_revenue", "tpch_q7_volume_shipping",
    "tpch_q8_market_share", "tpch_q9_profit_rollup",
)

#: Rows whose IMPLEMENTATION changed after their most recent driver check
#: (VERDICT r10, "What's wrong" #1: the staleness rotation keyed on check
#: age only, so a query rewired in round N but last driver-checked in round
#: N-1 would wait ~4 rounds for post-rewire driver evidence). These jump
#: the queue: rank 0, ahead of every stale tranche. Maintenance contract:
#: when an existing query's spelling (or shared machinery under it) changes,
#: add its name here; when its post-change driver row lands, the _CHECKED_R{N}
#: fold supersedes the pin — remove the name from this tuple at the same time.
#:
#: Round-15 pins: all five round-14 representation pins pruned — each got
#: its post-fix green driver row in CORRECTNESS_r14 (graph_modularity,
#: agg_bh_fdr, agg_tost_equivalence, agg_weighted_median,
#: text_missing_mass), so the _CHECKED_R14 fold supersedes them.
#: Round-16 pins: all fifteen r15 optimization pins pruned — the r15
#: driver sample deliberately covered every respelled row and all
#: landed green in CORRECTNESS_r15 (the _CHECKED_R15 fold supersedes
#: them). Re-pinned below: rows whose machinery changed AGAIN in the
#: r16 optimization round (OPTIMIZATION_r16.md) — results proven
#: identical against the local oracle, but the post-change DRIVER row
#: must land first.
_CHANGED_SINCE_CHECK: tuple[str, ...] = (
    # cox/hits eager materialization reverted to the lazy local-mode
    # spelling (cluster-gated via util.scale_truncator).
    "events_cox_ph", "graph_hits",
    # minhash: set sizes fused into the signature pass + doc-sized
    # signature relation materialized once.
    "dedup_minhash_lsh",
    # connected_components: guarded label-side broadcast (graph_mst's
    # Boruvka loop rides the same machinery).
    "dedup_components", "graph_mst",
    # louvain: broadcast-hinted assign-degree attachment shared by
    # comm_tot and the scoring join.
    "graph_louvain",
)

#: name -> round of its most recent green driver CORRECTNESS row, and
#: name -> how many distinct rounds have checked it green.
_LAST_DRIVER_ROUND: dict[str, int] = {}
_CHECK_COUNT: dict[str, int] = {}
for _rnd, _names in enumerate(
    (_CHECKED_R1, _CHECKED_R2, _CHECKED_R3, _CHECKED_R4, _CHECKED_R5, _CHECKED_R6,
     _CHECKED_R7, _CHECKED_R8, _CHECKED_R9, _CHECKED_R10, _CHECKED_R11,
     _CHECKED_R12, _CHECKED_R13, _CHECKED_R14, _CHECKED_R15), start=1
):
    for _n in _names:
        _LAST_DRIVER_ROUND[_n] = _rnd
        _CHECK_COUNT[_n] = _CHECK_COUNT.get(_n, 0) + 1

#: Gate-slot economics (VERDICT r12 ask #6): at ~396 rows and 50 driver
#: slots/round a flat rotation re-checks everything every ~8 rounds, and
#: the cycle stretches as the registry grows. The driver's gate size is
#: not ours to raise, so staleness is EVIDENCE-WEIGHTED instead: a row
#: that has been driver-green in >= _TIER_CHECKS distinct rounds (the
#: frozen core — tpch, scalar packs, joins, windows, all spelled once
#: and re-checked green across at least one engine-refactor cycle) ages
#: one round slower than a row with thinner evidence from the same
#: tranche, so the scarce slots prefer rows with ONE green row over
#: rows with two. The tier is computed from the _CHECKED_R* tables
#: themselves (no manual list to rot), and a pin in
#: _CHANGED_SINCE_CHECK still outranks EVERYTHING — changed code beats
#: any amount of old green evidence.
_TIER_CHECKS = 2
_TIER_BONUS = 1.0

#: Never-driver-checked entries sort as if last checked between r2 and r3:
#: behind the two oldest tranches (75 names — more than one round's 50
#: slots), ahead of everything checked r3+. With 28 r1 + 47 r2 names, round
#: 6's 50 slots land on all of r1 plus the first 22 of r2; round 7 picks up
#: the remaining r2 tranche and then the new entries — first-check latency
#: for a new op is at most one round behind the stalest re-checks.
_NEVER_CHECKED_RANK = 2.5


def _staleness_rank(name: str) -> float:
    """Effective staleness rank: smaller = checked sooner. Pins rank 0,
    never-checked rows 2.5, checked rows their last green round plus the
    evidence-tier bonus (rows green in >= _TIER_CHECKS distinct rounds
    age _TIER_BONUS rounds slower — see the gate-slot economics note)."""
    if name in _CHANGED_SINCE_CHECK:
        return 0.0
    if name not in _LAST_DRIVER_ROUND:
        return _NEVER_CHECKED_RANK
    bonus = _TIER_BONUS if _CHECK_COUNT[name] >= _TIER_CHECKS else 0.0
    return _LAST_DRIVER_ROUND[name] + bonus


def _staleness_rotation(registry: dict) -> dict:
    """Order so the driver's 50-query/round gate always lands on the rows
    with the least-recent driver evidence — except changed-code rows
    (:data:`_CHANGED_SINCE_CHECK`), which outrank every stale tranche:
    a row whose spelling changed after its last driver check has WEAKER
    evidence than any merely-old green row, whatever its age. Python's
    sort is stable, so registry (module) order breaks ties within a
    tranche — the '50 oldest' cut is deterministic round to round."""
    ordered = sorted(registry, key=_staleness_rank)
    return {k: registry[k] for k in ordered}


def all_queries() -> dict[str, QueryFn]:
    registry: dict[str, QueryFn] = {}
    for mod in _modules():
        registry.update(mod.QUERIES)
    return _staleness_rotation(registry)


def all_oracles() -> dict[str, str]:
    registry: dict[str, str] = {}
    for mod in _modules():
        registry.update(mod.ORACLES)
    return _staleness_rotation(registry)


def _modules():
    from datafusion_gpu_spark.queries import (
        aggregates_q,
        custom_agg,
        io_q,
        pipeline,
        reference_tables,
        relational,
        scalar_fns,
        tpch,
        tpch_extra,
        tpch_full,
        windows,
    )

    return (
        tpch,
        tpch_extra,
        tpch_full,
        relational,
        aggregates_q,
        windows,
        scalar_fns,
        custom_agg,
        pipeline,
        reference_tables,
        io_q,
    )
