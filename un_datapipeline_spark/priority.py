"""Driver-pass ordering for the operator registry.

GENERATED by tools/regen_priority.py from the union of
CORRECTNESS_r03.json, CORRECTNESS_r04.json, CORRECTNESS_r05.json, CORRECTNESS_r06.json, CORRECTNESS_r07.json, CORRECTNESS_r08.json, CORRECTNESS_r09.json, CORRECTNESS_r10.json, CORRECTNESS_r11.json, CORRECTNESS_r12.json, CORRECTNESS_r13.json — regenerate after every
round instead of editing by hand.  Groups (sort_key codes):

0. never driver-verified / latest verdict not green — first;
1. STALE_REFRESH — a few of the stalest greens, re-confirmed
   every round (one per name family; see tools/regen_priority.py);
2. registered after this regeneration (no verdict) — next;
3. driver-green, ordered STALEST latest-verdict first, so
   leftover slots refresh the oldest verdicts.
"""

from __future__ import annotations

# Latest driver verdict was a crash or mismatch (re-verify first);
# operators never seen by the driver are handled by sort_key as
# group 2 without being listed here.
NEVER_VERIFIED = (
)

# Greens re-confirmed this round (the round-5 transpose incident:
# local parity has blind spots the driver doesn't — don't trust
# old stamps forever).  FORCED names (re-edited since their last
# driver stamp — see tools/regen_priority.py FORCE_REFRESH) lead;
# the rest are the stalest greens, one per name family.
STALE_REFRESH = (
    "llm_dedup_incremental",  # forced: re-edited since last stamp
    "llm_dedup_cluster",  # forced: re-edited since last stamp
    "llm_canonical_select",  # forced: re-edited since last stamp
    "llm_simsearch_cosine_topk",  # forced: re-edited since last stamp
    "llm_knn_join",  # forced: re-edited since last stamp
    "llm_dedup_embedding",  # forced: re-edited since last stamp
    "llm_hard_negatives",  # forced: re-edited since last stamp
    "llm_vector_norms",  # forced: re-edited since last stamp
    "llm_embed_join_docs",  # forced: re-edited since last stamp
    "llm_simsearch_ivf",  # forced: re-edited since last stamp
    "llm_simsearch_hnsw",  # forced: re-edited since last stamp
    "llm_simsearch_lsh",  # forced: re-edited since last stamp
    "llm_simsearch_multiprobe",  # forced: re-edited since last stamp
    "etl_time_travel",  # forced: re-edited since last stamp
    "etl_gdpr_delete",  # forced: re-edited since last stamp
    "etl_vacuum_retention",  # forced: re-edited since last stamp
    "etl_pipeline_compose",  # forced: re-edited since last stamp
    "etl_incremental_watermark",  # forced: re-edited since last stamp
    "sink_parquet_write",  # forced: re-edited since last stamp
    "sink_clustered_write",  # forced: re-edited since last stamp
    "sink_zorder_write",  # forced: re-edited since last stamp
    "src_recursive_listing",  # forced: re-edited since last stamp
    "src_manifest_read",  # forced: re-edited since last stamp
    "graph_kcore",  # forced: re-edited since last stamp
    "graph_label_propagation",  # forced: re-edited since last stamp
    "graph_modularity",  # forced: re-edited since last stamp
    "llm_neardup_cluster",  # forced: re-edited since last stamp
    "llm_dedup_ngram_jaccard",  # forced: re-edited since last stamp
    "llm_dedup_containment",  # forced: re-edited since last stamp
    "llm_dedup_simhash",  # forced: re-edited since last stamp
    "mm_phash_dedup",  # forced: re-edited since last stamp
    "join_runtime_bloom",  # forced: re-edited since last stamp
    "llm_ranker_agreement",  # forced: re-edited since last stamp
    "graph_pagerank",  # forced: re-edited since last stamp
    "graph_bfs_layers",  # forced: re-edited since last stamp
    "graph_triangle_count",  # forced: re-edited since last stamp
    "graph_local_clustering",  # forced: re-edited since last stamp
    "graph_degree_stats",  # forced: re-edited since last stamp
    "graph_jaccard_neighbors",  # forced: re-edited since last stamp
    "graph_link_predict_aa",  # forced: re-edited since last stamp
    "etl_compact_files",  # forced: re-edited since last stamp
    "etl_backfill_partitions",  # forced: re-edited since last stamp
    "src_stream_file",  # forced: re-edited since last stamp
    "stream_checkpoint_resume",  # forced: re-edited since last stamp
    "stream_custom_stateful",  # forced: re-edited since last stamp
    "stream_dedup",  # forced: re-edited since last stamp
    "stream_foreach_batch_sink",  # forced: re-edited since last stamp
    "stream_kafka_source",  # forced: re-edited since last stamp
    "stream_session_dynamic_gap",  # forced: re-edited since last stamp
    "stream_session_window",  # forced: re-edited since last stamp
)

# 351 green names, stalest verdict first.
DRIVER_GREEN = (
    # latest verdict: round 3
    "win_streaks",
    "win_dedup_debounce",
    "win_funnel_attribution",
    "ts_gap_detect",
    "join_null_safe_eq",
    "join_prefilter_semi",
    "etl_stratified_sample",
    "etl_domain_mixture",
    "etl_balance_domains",
    "etl_pack_sequences",
    "etl_scd2_incremental",
    "src_schema_evolution",
    "src_orc_roundtrip",
    # latest verdict: round 4
    "ts_transition_matrix",
    "agg_weighted_avg",
    "agg_bitmap_distinct",
    "agg_listagg_sorted",
    "agg_cohort_retention",
    "agg_entropy_gini",
    "sink_zorder_write",
    "fn_collation_compare",
    "agg_time_to_convert",
    "etl_k_anonymity",
    "llm_perplexity_filter",
    "llm_corpus_stats",
    "etl_cdc_diff",
    "etl_time_travel",
    "etl_gdpr_delete",
    "fn_try_arithmetic",
    "fn_binary_codecs",
    "fn_array_set_ops",
    "join_lateral_topn",
    "llm_rouge_overlap",
    # latest verdict: round 5
    "agg_approx_topk",
    "agg_decimal_exact",
    "agg_filter_clause",
    "agg_bool_logic",
    "etl_date_spine",
    "fn_uuid_deterministic",
    "graph_jaccard_neighbors",
    "join_asof_bucketed",
    "join_runtime_bloom",
    "filter_exists_subquery",
    "agg_mad_outliers",
    "ts_theil_sen_slope",
    "agg_benford_digits",
    "win_pareto_abc",
    "agg_chisq_independence",
    "agg_lorenz_gini",
    "agg_hhi_concentration",
    "agg_survival_km",
    "sink_clustered_write",
    "src_csv_malformed",
    "src_json_nested",
    "src_observe_metrics",
    "src_python_datasource",
    "join_geo_radius",
    "llm_watermark_strip",
    "ts_holt_forecast",
    "ts_burst_detect",
    "llm_tokenizer_apply",
    "llm_dsir_ngram_weights",
    "win_running_distinct",
    "win_ignore_nulls",
    "win_range_interval",
    # latest verdict: round 6
    "reshape_transpose",
    "agg_pricing_summary",
    "etl_latest_by_key",
    "fn_conditional",
    "join_inner_equi",
    "win_match_recognize",
    "agg_grouping_id",
    "agg_percentile_disc",
    "agg_skew_kurtosis",
    "agg_heavy_hitters_mg",
    "agg_weighted_median",
    "agg_market_basket",
    "llm_ccnet_buckets",
    "llm_vocab_growth",
    "llm_classifier_filter",
    "llm_dedup_url",
    "etl_vacuum_retention",
    "etl_pipeline_compose",
    "etl_incremental_watermark",
    "etl_data_profile",
    "etl_skew_report",
    "fn_sql_variables",
    "fn_recursive_cte",
    "fn_params_identifier",
    "fn_month_arithmetic",
    "fn_group_by_all",
    "graph_link_predict_aa",
    "join_asof_forward",
    "join_scd2_pointintime",
    "join_shuffle_hash",
    "llm_softdedup_weights",
    "llm_prefix_sharing",
    "llm_jsonl_export",
    "mm_magic_byte_routing",
    # latest verdict: round 7
    "llm_token_count_bpe",
    "etl_compact_files",
    "llm_quality_score",
    "tpch_q3_shipping_priority",
    "tpch_q4_late_ship_priority",
    "tpch_q5_regional_revenue",
    "tpch_q6_revenue_delta",
    "tpch_q7_volume_shipping",
    "tpch_q8_market_share",
    "tpch_q9_product_profit",
    "tpch_q10_returned_items",
    "tpch_q13_order_distribution",
    "tpch_q14_promo_effect",
    "tpch_q15_top_supplier",
    "tpch_q16_supplier_part_cnt",
    "tpch_q17_small_qty_revenue",
    "tpch_q18_volume_customer",
    "tpch_q19_bracket_revenue",
    "tpch_q22_dormant_customers",
    "mm_phash_dedup",
    "llm_retrieval_rrf_fusion",
    "llm_retrieval_ndcg_eval",
    "llm_classifier_eval_metrics",
    "llm_ranker_agreement",
    "llm_annotator_agreement",
    "set_union_by_name",
    "src_json_malformed",
    "src_manifest_read",
    "src_xml_files",
    "stream_session_dynamic_gap",
    "stream_checkpoint_resume",
    "llm_bm25_rank",
    "llm_domain_route",
    "ts_m4_downsample",
    "ts_rolling_active_users",
    "llm_ngram_lm_kneser_ney",
    "llm_temperature_mixture",
    # latest verdict: round 8
    "fn_mask_redact",
    "agg_mann_whitney",
    "agg_ks_test",
    "llm_shuffle_deterministic",
    "llm_preference_pairs",
    "llm_interleave_schedule",
    "udf_grouped_arrow",
    "win_session_native",
    "win_concurrency_sweep",
    "win_interval_union",
    "agg_count_distinct",
    "agg_rollup",
    "agg_having",
    "agg_approx_distinct",
    "agg_grouping_sets",
    "agg_cube",
    "agg_stats",
    "agg_percentile_exact",
    "agg_histogram",
    "llm_dedup_simhash",
    "etl_merge_upsert",
    "etl_dq_validate",
    "etl_train_split",
    "fn_datetime",
    "fn_bitwise",
    "join_broadcast_dim",
    "join_sort_merge",
    "join_left_outer",
    "join_full_outer",
    "join_left_semi",
    "join_left_anti",
    # latest verdict: round 9
    "etl_table_fingerprint",
    "etl_scd3_prev_value",
    "llm_lang_id",
    "fn_url_parse",
    "fn_aes_roundtrip",
    "fn_sql_scripting",
    "fn_map",
    "fn_struct_nested",
    "fn_regex_extract",
    "udf_python_scalar",
    "udtf_dynamic_schema",
    "udtf_table_arg",
    "udf_pandas_iter",
    "win_percent_rank_cume",
    "agg_quantile_bands",
    "stream_sliding_topk",
    "win_moving_median",
    "ts_lttb_downsample",
    "stream_dedup",
    "stream_stream_join",
    "src_recursive_listing",
    "mm_frame_sample",
    "join_cross",
    # latest verdict: round 10
    "llm_simsearch_cosine_topk",
    "llm_vector_norms",
    "llm_embed_join_docs",
    "llm_embedding_mean_pool",
    "fn_array",
    "llm_dedup_embedding",
    "llm_hard_negatives",
    "llm_simsearch_ivf",
    "llm_vector_pq",
    "llm_kmeans_cluster",
    "llm_simsearch_lsh",
    "llm_dedup_ngram_jaccard",
    "llm_dedup_containment",
    "llm_ngram_novelty",
    "llm_fim_transform",
    "src_text_wholetext",
    "src_binary_files",
    "mm_decode_features",
    "mm_audio_windows",
    "llm_filter_funnel",
    "llm_chat_template_apply",
    "llm_sft_loss_mask",
    "join_asof",
    "llm_training_shard_write",
    "win_event_pattern",
    "ts_local_day_dst",
    "llm_dedup_incremental",
    "llm_span_corruption",
    # latest verdict: round 11
    "src_text_lines",
    "stream_watermark_late",
    "llm_simsearch_hnsw",
    "llm_semdedup",
    "win_bollinger_bands",
    "stream_tumbling_window",
    "stream_stateful_running",
    "stream_static_join",
    "stream_kafka_source",
    "ts_calendar_rollup",
    "src_partitioned_pruning",
    "join_dpp_partitioned",
    "etl_backfill_partitions",
    "ts_anomaly_zscore",
    "ts_autocorrelation",
    "agg_linear_regression",
    "ts_cross_correlation_lagged",
    "ts_hampel_outliers",
    "ts_interpolate_linear",
    "win_share_of_total",
    "ts_max_drawdown",
    "win_rolling_regression",
    "ts_backtest_snaive",
    "agg_trimmed_winsorized",
    "ts_day_over_day",
    "ts_peak_detect",
    "ts_seasonal_decompose",
    "fn_json",
    "fn_json_schema_infer",
    "fn_variant_json",
    "etl_quarantine_bad_rows",
    "llm_knn_join",
    "llm_boilerplate_ngrams",
    "llm_dedup_substr",
    "llm_leakage_safe_split",
    "src_csv_multiline",
    "join_theta_range",
    "join_interval",
    "llm_lang_filter_clean",
    "llm_text_token_stats",
    "llm_word_freq_topk",
    # latest verdict: round 12
    "llm_dedup_fuzzy_edit",
    "win_rolling_corr",
    "udf_grouped_map",
    "stream_custom_stateful",
    "ts_cusum_changepoint",
    "udf_map_arrow",
    "win_sliding_range",
    "ts_multires_rollup",
    "ts_ohlc_bars",
    "ts_resample_ffill",
    "agg_ab_ttest",
    "sink_bucketed_write",
    "ts_similarity_corr",
    "llm_repetition_flags",
    "llm_doc_chunking",
    "llm_bpe_pair_counts",
    "llm_pmi_collocations",
    "graph_degree_stats",
    "llm_bpe_train",
    "llm_tfidf_topterms",
    "llm_dedup_exact",
    "mm_binary_stats",
    "agg_collect_sorted",
    "fn_string",
    "proj_select_expr",
    "filter_complex_pred",
    "filter_case_when",
    "filter_null_handling",
    "distinct_rows",
    "set_union_all",
    "set_union_distinct",
    "set_intersect",
    "set_except",
    "sort_multi_key",
    "topk_global",
    "limit_offset",
    "src_parquet_scan",
    "src_csv_roundtrip",
    "src_json_roundtrip",
    "sink_parquet_write",
    "src_stream_file",
    "stream_sliding_window",
    # latest verdict: round 13
    "llm_line_dedup_reconstruct",
    "graph_label_propagation",
    "graph_modularity",
    "graph_bfs_layers",
    "graph_pagerank",
    "graph_kcore",
    "llm_canonical_select",
    "llm_dedup_cluster",
    "llm_contamination_check",
    "llm_dedup_minhash_ml",
    "fn_xml_roundtrip",
    "fn_math",
    "fn_cast_types",
    "graph_triangle_count",
    "graph_local_clustering",
    "llm_dedup_near_minhash",
    "llm_neardup_cluster",
    "llm_doc_fingerprint",
    "llm_ann_brp_lsh",
    "stream_session_window",
    "stream_foreach_batch_sink",
    "udf_pandas_scalar",
    "udaf_grouped_agg",
    "udtf_split_words",
    "win_ranking",
    "win_running_sum",
    "win_topk_per_group",
    "win_analytic",
    "etl_scd2_snapshot",
    "llm_sessionize_funnel",
    "llm_simsearch_multiprobe",
    "etl_sample_hash",
    "agg_mode",
    "join_skew_salted",
    "agg_corr_pearson",
    "agg_approx_percentile",
    "agg_iqr_outliers",
    "ts_ewma_smooth",
    "llm_ngram_lm",
    "fn_explode_pos",
    "llm_type_token_ratio",
    "llm_pii_redact",
    "llm_length_curriculum",
    "set_intersect_all",
    "set_except_all",
    "reshape_pivot",
    "reshape_unpivot",
    "agg_sketch_mergeable",
    "agg_freq_sketch_cms",
    "llm_vocab_coverage",
)

# Operators added mid-round AFTER the 50-slot window was already full of
# higher-priority work: parked in overflow (group 4, behind the greens)
# so they cannot displace the round's verification plan.  Regen always
# resets this to empty (a parked op with no verdict becomes group 2).
DEFERRED = ()


def sort_key(names: list[str]) -> dict[str, tuple]:
    """Map each operator name to (group, within-group order) — the
    within-group order is an int for groups 0/1/3/4 and a (sub, index)
    tuple for group 2 (tpch-first), compared only within its group."""
    group: dict[str, tuple] = {}
    for i, n in enumerate(NEVER_VERIFIED):
        group[n] = (0, i)
    for i, n in enumerate(STALE_REFRESH):
        group.setdefault(n, (1, i))  # in-window green re-confirms
    out: dict[str, tuple] = {}
    green_rank = {n: i for i, n in enumerate(DRIVER_GREEN)}
    deferred_rank = {n: i for i, n in enumerate(DEFERRED)}
    for i, n in enumerate(names):
        if n in group:
            out[n] = group[n]
        elif n in deferred_rank:
            out[n] = (4, deferred_rank[n])  # parked past the greens
        elif n in green_rank:
            # already green — last of the verification-relevant groups,
            # stalest verdict first
            out[n] = (3, green_rank[n])
        else:
            # never-driver-seen — after the refreshes.  Drained
            # tpch-first (VERDICT r06: the warehouse suite is the
            # highest-user-value unverified family), then registry
            # order; the (sub, i) tuple only ever compares within
            # group 2.
            out[n] = (2, (0 if n.startswith("tpch_") else 1, i))
    return out
