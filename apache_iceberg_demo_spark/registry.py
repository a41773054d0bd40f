"""Query + oracle registry — the driver contract's backbone.

Every implemented operator from SURVEY.md §2 registers here:

- a *query*: ``(spark, sf_dir) -> DataFrame`` (Spark-first implementation), and
- optionally an *oracle*: the equivalent ANSI SQL DuckDB runs on the same
  parquet (driver compares row count + schema + order-insensitive value-hash).

This reproduces the reference's own correctness methodology — an identical
query suite run on two independent engines with results diffed
(``/root/reference/README.md:85-211``, DuckDB vs Presto) — as an automated,
per-operator gate.

Float discipline (SURVEY.md §5.3): the reference's own cross-engine AVGs
diverge in the last ~6 digits (``README.md:113`` vs ``:172``), so every double
aggregate is rounded (helper ``round6``) on BOTH sides before hashing.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Optional

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def register(name: str, oracle: Optional[str] = None) -> Callable[[QueryFn], QueryFn]:
    """Decorator: add a query (and its DuckDB oracle SQL, if expressible)."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name {name!r}")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


# Queries the round-1 driver run already verified green (CORRECTNESS_r01.json
# reached exactly the first 50 registrations). The driver evaluates queries in
# registration order and may truncate, so load_all() re-orders the registry to
# put not-yet-driver-verified queries FIRST each round. Names never change —
# only dict insertion order does.
_DRIVER_VERIFIED: set[str] = {
    "a09_count_all", "a10_q1_filter_count", "a11_q2_filter_avg",
    "a12_q3_group_agg_sort", "flagship_pricing_summary", "b4_agg_stats",
    "b4_count_distinct", "b4_rollup", "b4_cube",
    "b4_grouping_sets", "b4_having", "b4_percentiles",
    "b4_salted_skew_agg", "b4_corr_regression", "b4_histogram_width_bucket",
    "b4_collect_sorted_lists", "b4_median_bool",
    # b4_approx_count_distinct / b4_percentile_approx / b4_freq_items were
    # driver-seen in r01 but only as rows-only checks; they gained accuracy
    # oracles in r02 and must re-verify under the stronger check.
    "b4_grouping_id", "asof_join_events", "sessionize_gap30m",
    "funnel_signup_to_purchase", "c1_dedup_exact_docs", "c1_dedup_content_hash",
    "c2_minhash_lsh_neardup", "c2_simhash_neardup", "c2_ngram_jaccard_pairs",
    "c2_dedup_clusters", "b2_filter_between", "b2_filter_in", "b2_filter_like",
    "b2_filter_null_bool", "b2_project_computed", "b2_filter_regex_ilike",
    "b3_join_inner_broadcast", "b3_join_star_revenue", "b3_join_left_outer",
    "b3_join_full_outer", "b3_join_semi", "b3_join_anti", "b3_join_cross",
    "b3_join_multikey", "b3_join_nonequi_range", "b3_join_bucketed_colocated",
    "b3_join_salted_skew", "b3_join_null_safe", "b3_join_dpp_partitioned",
    # --- r03/r04 driver greens (CORRECTNESS_r03/r04.json), folded in per
    # VERDICT r04 item 2 so the round-5 driver budget reaches the ~47
    # never-run oracle-paired queries instead of re-proving these:
    "b2_agg_membership_big_orders", "b2_disjunctive_pushdown",
    "b2_exists_late_shipment", "b2_latest_shipper_per_order",
    "b2_not_exists_quiet_customers", "b2_promotion_part_suppliers",
    "b2_small_quantity_avg_correlated", "b3_custdist_outer_agg",
    "b3_local_supplier_volume", "b3_market_share", "b3_min_cost_supplier",
    "b3_nation_volume_matrix", "b3_product_type_profit",
    "b3_returned_item_reporting", "b4_approx_count_distinct", "b4_freq_items",
    "b4_important_stock_value", "b4_percentile_approx",
    "b4_promo_revenue_share", "b4_revenue_delta_forecast",
    "b4_shipdelay_priority", "b4_supplier_part_census",
    "b4_top_supplier_revenue", "b5_pivot_status_counts",
    "b5_unpivot_measures", "b6_limit_offset", "b6_sort_nulls_placement",
    "b6_topk_limit", "b7_distinct_pairs", "b7_drop_duplicates_subset",
    "b7_except", "b7_except_all", "b7_intersect", "b7_intersect_all",
    "b7_union_all", "b7_union_by_name", "b7_union_distinct", "b8_map_funcs",
    "c3_cosine_neardup_pairs", "c3_cosine_topk", "c3_cosine_topk_batch",
    "c4_multimodal_metadata", "s1_hash_sample_10pct", "s1_mixture_weighted",
    "s1_train_val_test_split",
    # --- r05 driver greens (CORRECTNESS_r05.json — all 50 rows fully green,
    # including the long-open b4_filtered_aggs hash fix), folded in per
    # VERDICT r05 item 1 so the round-6 budget reaches the ~113 oracle-paired
    # queries that still have no driver row:
    "b4_filtered_aggs", "b4_rollup_reuse_hierarchy",
    "b2_sql_api_shipping_priority", "b2_scalar_subquery", "b2_in_subquery",
    "b4_hll_sketch_mergeable", "b4_data_profile", "b2_sql_pipe_syntax",
    "b4_retention_cohorts", "asof_join_tolerance", "c1_dedup_keep_best",
    "c2_containment_pairs", "b2_sql_named_params", "b3_join_range_binned",
    "s1_mixture_temperature", "s1_split_leakage_audit",
    "c3_quantize_int8_error", "b2_correlated_exists", "b2_correlated_scalar",
    "b2_not_in_null_semantics", "b2_recursive_cte_spine",
    "c5_token_frequencies", "c5_doc_stats", "c5_quality_score",
    "c5_token_count_bpe_regex", "c5_lang_source_stats", "c5_tfidf_top_terms",
    "pipeline_llm_corpus_clean", "c5_sequence_packing",
    "c5_decontaminate_ngram_overlap", "pipeline_pretrain_data_prep",
    "c5_repetition_stats", "c5_unigram_logprob_score", "b5_row_number_topk",
    "b5_rank_dense_ntile", "b5_lag_lead", "b5_running_agg", "b5_range_frame",
    "b5_value_functions", "b5_percent_rank_cume_dist", "b5_gap_fill_forward",
    "b5_named_window_clause", "a01_a06_csv_ingest_roundtrip",
    "b8_string_funcs", "b8_date_funcs", "b8_math_funcs", "b8_conditional",
    "b8_array_funcs", "b8_json_funcs", "b8_variant_json",
    # --- r06 driver greens (CORRECTNESS_r06.json — all 50 rows fully green:
    # whole B1 + B10 categories, first-ever b9/c6 rows, 9 b8 galleries),
    # folded in per VERDICT r06 item 1 so the round-7 budget reaches the 76
    # never-run oracle-paired queries (b4/b5 statistical tail, graph ops)
    # plus the 11 rows-only→oracle conversions made this round:
    "b1_json_roundtrip", "b1_csv_malformed_modes", "b1_orc_roundtrip",
    "b1_partitioned_parquet_roundtrip", "b1_metadata_columns",
    "b1_mergeschema_landing", "b1_xml_roundtrip", "b1_codec_comparison",
    "b1_python_datasource", "b10_pandas_udf_scalar",
    "b10_udtf_explode_bigrams", "b10_grouped_agg_median",
    "b10_apply_in_pandas_zscore", "b10_map_in_pandas_tokens",
    "b10_arrow_scalar_udf", "b10_pandas_udf_scalar_iter",
    "b10_map_in_arrow_stats", "b10_python_udtf_chunks",
    "b10_python_udf_rowwise", "b10_udtf_polymorphic", "b8_cast_coercion",
    "a15_smoke_literal", "b8_string_distance", "b8_array_ops_extended",
    "b8_posexplode_tokens", "b8_bitwise_funcs", "b8_trig_funcs",
    "b8_struct_funcs", "b8_try_functions", "c6_incremental_snapshot_read",
    "b9_tumbling_window", "b9_sliding_window", "b9_session_window",
    "b9_stream_stream_interval_join", "b9_stream_static_enrichment",
    "c5_span_dedup_exact", "s1_cap_per_source", "c5_source_divergence",
    "b3_join_runtime_bloom_prune", "b4_parquet_agg_pushdown",
    "b2_lateral_topn_per_customer", "c1_dedup_url_canonical",
    "s1_balanced_class_downsample", "c5_chunk_surgery_dedup",
    "b5_distinct_count_window", "b8_url_funcs", "b4_ohlc_bars",
    "b4_time_weighted_avg", "b4_skew_diagnosis", "c5_passage_chunking",
    # --- r07 driver greens (CORRECTNESS_r07.json — 49 of 50 rows fully
    # green; the one red, c3_covariance_matrix, is re-proven via _HEAD
    # after the fixed-point determinism fix), folded in per VERDICT r07
    # item 2 so the round-8 budget reaches the 63 never-run oracle-paired
    # queries (b4/b5 statistical tail, graph ops, roundout leftovers):
    "a8_relocated_warehouse_scan", "c6_system_queries",
    "c6_row_level_delete_update", "c6_compaction_rewrite",
    "c6_partition_evolution", "c6_expire_snapshots_retention",
    "c6_remove_orphan_files", "c6_sort_order_clustering",
    "c6_analyze_table_cbo", "b4_countmin_heavy_hitters",
    "b1_binaryfile_ingest", "c5_language_id", "c4_patch_extraction",
    "pipeline_multimodal_prep", "c6_file_skipping", "c6_zorder_clustering",
    "c3_binary_hamming_topk", "b10_cogroup_apply_reconcile",
    "c6_metadata_snapshots", "c6_time_travel", "c6_named_refs",
    "c6_rollback_cherry_pick", "c6_snapshot_diff_cdc",
    "c6_merge_into_upsert", "c6_schema_evolution",
    "c6_write_audit_publish", "c6_partitions_metadata",
    "b9_update_mode_counts", "b9_complete_mode_topk", "b4_observe_metrics",
    "b9_stateful_sessionize", "b9_stream_dedup_watermark",
    "c1_dedup_incremental_index", "b9_foreachbatch_merge_sink",
    "b9_file_sink_exactly_once", "b9_stream_left_outer_interval_join",
    "c6_merge_on_read_delete", "c6_branch_fast_forward", "s1_epoch_shuffle",
    "b4_target_encoding_loo", "b4_column_entropy",
    "b4_markov_event_transitions", "b5_session_window_batch",
    "b3_triangle_count_copurchase", "s1_weighted_sample_topk",
    "b4_incremental_agg_maintenance", "c5_bm25_search",
    "s1_stratified_exact_split", "b4_winsorized_robust_stats",
    # --- r08 driver greens (CORRECTNESS_r08.json — 49 of 50 rows fully
    # green; the one red, c3_covariance_matrix, is re-proven via _HEAD
    # after the engine-proof integer-rounding rework), folded in per
    # VERDICT r08 item 2 so the round-9 budget clears the ENTIRE driver
    # debt: 19 never-run oracle-paired queries (incl. the png/avi/jpeg
    # codec kernels added this round) then 22 never-run rows-only
    # entries (42 total incl. _HEAD ≤ the ~50 budget):
    "c4_wav_pcm_decode", "c4_bmp_decode", "b3_pagerank_copurchase",
    "b3_join_strategy_hints", "b4_zscore_anomalies", "b5_rolling_median",
    "b5_ewma_smoothing", "c2_fuzzy_join_blocked", "b2_group_by_all",
    "b5_interval_union_length", "c3_nearest_centroid_confusion",
    "b8_collation_compare", "b5_event_pattern_match", "b3_bfs_reachability",
    "b4_hll_intersection_estimate", "b4_ks_two_sample",
    "b4_autocorrelation_lag", "c4_binary_header_sniff",
    "pipeline_dq_expectations", "b2_relational_division",
    "b5_point_in_time_features", "b4_bitmap_distinct_rollup",
    "b8_aes_roundtrip", "c5_pii_redaction", "s1_time_based_split",
    "b6_cached_scan_reuse", "b4_jackknife_ci", "b8_sql_udf",
    "b4_ols_normal_equations", "s1_negative_sampling", "c3_knn_classifier",
    "s1_walk_forward_folds", "b2_sql_identifier_clause",
    "b6_keyset_pagination", "b3_haversine_nearest_hub",
    "b1_dynamic_partition_overwrite", "b8_xpath_funcs",
    "b8_csv_conversion_funcs", "b3_scd2_temporal_join", "b4_weighted_median",
    "b4_conversion_latency", "c5_chat_template_render", "b4_ab_test_ztest",
    "b4_kaplan_meier", "b3_bellman_ford_bounded", "b4_mann_whitney_u",
    "b4_gini_concentration", "b2_sql_pivot_clause", "b8_mask_funcs",
    # --- r09 driver greens (CORRECTNESS_r09.json — all 50 rows clean:
    # 28 oracle hash-green incl. the covariance engine-proof re-run and
    # all three new codec kernels; 22 rows-only ran with rows > 0).
    # With this fold every one of the 331 registered queries has been
    # driver-verified at least once — debt is ZERO (VERDICT r09):
    "c3_covariance_matrix", "c4_png_decode", "c4_avi_frame_extract",
    "c4_jpeg_baseline_decode", "b7_symmetric_difference", "b4_runs_test",
    "c5_blocklist_filter", "b5_islands_gaps", "b4_benford_test",
    "b4_chisq_independence", "b5_xmr_control_chart",
    "b4_seasonality_strength", "c5_bigram_backoff_score", "b4_cohort_ltv",
    "s1_upsample_minority", "b2_sql_scripting_compound",
    "b4_approx_top_k_events", "b6_group_order_by_all",
    "b5_session_window_dynamic_gap", "c5_bpe_pair_merges",
    "c2_minhash_estimate_accuracy", "c4_phash_near_dup",
    "c4_content_defined_chunking",
    # s1_stratified_sample_by: r09-seen rows-only, but it gained a binomial
    # oracle in r10 and must RE-verify under the stronger check (the r01
    # approx-agg precedent) — deliberately NOT in this set.
    "c3_ann_lsh_topk", "c3_ann_ivf_topk", "c3_kmeans_embeddings",
    "c3_semantic_dedup", "c3_ann_recall_audit", "c3_product_quantization",
    "c3_ann_pq_adc_topk", "c3_mmr_diverse_topk", "c5_fingerprint_winnow",
    "pipeline_corpus_release", "b9_stateful_ewma_anomaly",
    "b9_stream_progress_metrics", "c3_pca_project", "pipeline_rag_retrieval",
    "c3_random_projection_jl", "pipeline_dedup_cascade",
    "c4_channel_norm_stats", "c2_lsh_band_tuning",
    # --- r10 driver greens (CORRECTNESS_r10.json — all 50 rows clean: the
    # 3 newcomers below hash-green plus 47 of the 50 _RECHECK names
    # re-proven; the 3 unreached ones lead the r11 rotation), folded in per
    # VERDICT r10 item 1:
    "s1_stratified_sample_by", "a7_iceberg_v2_spec_scan",
    "c6_iceberg_v2_equality_delete_export",
    # --- r11 driver greens (CORRECTNESS_r11.json — all 50 rows fully green:
    # the 3 new interop queries hash-green first run plus 47 _RECHECK
    # re-proofs), folded in per VERDICT r11 item 1:
    "c6_iceberg_v2_positional_delete_export", "c6_iceberg_v2_incremental_scan",
    "c6_iceberg_v2_change_feed_consume",
    # --- r12 driver greens (CORRECTNESS_r12.json — all 50 rows fully green:
    # the new hidden-partitioning query hash-green first run plus 49 of the
    # 50 _RECHECK re-proofs; only b10_udtf_explode_bigrams slipped past the
    # budget and leads the r13 rotation), folded in per VERDICT r12 item 1:
    "c6_iceberg_v2_hidden_partitioning",
    # --- r13 driver greens (CORRECTNESS_r13.json — all 50 rows clean: the
    # new multi-field-spec query hash-green first run plus 49 _RECHECK
    # re-proofs incl. the rows-only codec comparison; only c6_time_travel
    # slipped past the budget and leads the r14 rotation), folded in per
    # VERDICT r13 item 1:
    "c6_iceberg_v2_multi_field_spec",
    # --- r14 driver greens (CORRECTNESS_r14.json — all 50 rows fully
    # hash-green, zero slippage: the complete promised _RECHECK block led
    # by c6_time_travel). No new names to fold — the whole block was
    # already in this set; oldest green advances to r08 (VERDICT r14
    # item 1).
    # --- r15 driver greens (CORRECTNESS_r15.json — all 50 rows fully
    # green, zero slippage: the complete promised r08-era _RECHECK
    # block). Again nothing new to fold — pure re-proofs; oldest green
    # advances to r09. The r16 _RECHECK below rotates the next-stalest 50.
}

# Names that must lead the registry regardless of verification history
# (driver re-proof of changed code): every query that reads a native
# warehouse table (the native read is one scan with field-id binding, its
# partition values now bound from each file's stored copy, and the spec
# reader shares the constant-attach join), then the r16/r17
# carry-overs the driver has not re-run yet: the two r16 rewrites and
# every query whose cache lifecycle moved onto caching.operator_scope
# (graph iterations first).
_HEAD: list[str] = [
    "a8_relocated_warehouse_scan", "c6_metadata_snapshots", "c6_time_travel",
    "c6_compaction_rewrite", "c6_merge_into_upsert", "c6_schema_evolution",
    "c6_system_queries", "c6_sort_order_clustering", "c6_file_skipping",
    "c6_incremental_snapshot_read", "c6_write_audit_publish",
    "c6_remove_orphan_files", "c6_zorder_clustering", "c6_named_refs",
    "c6_row_level_delete_update", "c6_snapshot_diff_cdc",
    "c6_partition_evolution", "c6_rollback_cherry_pick",
    "c6_partitions_metadata", "c6_expire_snapshots_retention",
    "c6_branch_fast_forward", "c6_merge_on_read_delete",
    "a7_iceberg_v2_spec_scan", "c6_iceberg_v2_equality_delete_export",
    "c6_iceberg_v2_positional_delete_export",
    "c6_iceberg_v2_incremental_scan", "c6_iceberg_v2_change_feed_consume",
    "c6_iceberg_v2_hidden_partitioning", "c6_iceberg_v2_multi_field_spec",
    "b9_foreachbatch_merge_sink", "c1_dedup_incremental_index",
    "pipeline_corpus_release", "a01_a06_csv_ingest_roundtrip",
    "b3_join_star_revenue", "asof_join_tolerance",
    "b3_pagerank_copurchase", "b3_bfs_reachability",
    "b3_bellman_ford_bounded", "b3_triangle_count_copurchase",
    "c2_dedup_clusters", "c2_minhash_lsh_neardup", "pipeline_rag_retrieval",
    "b6_cached_scan_reuse", "c2_lsh_band_tuning",
    "b4_incremental_agg_maintenance", "c3_covariance_matrix",
    "c5_bm25_search", "b4_winsorized_robust_stats", "c5_source_divergence",
    "b4_countmin_heavy_hitters", "c4_content_defined_chunking",
    "c4_jpeg_baseline_decode", "c5_language_id",
    "c5_decontaminate_ngram_overlap", "pipeline_pretrain_data_prep",
]

# Within the driver-unverified block, run these FIRST. Empty after r07:
# all 38 prior members came back fully green (folded into _DRIVER_VERIFIED
# above), so the full round-8 budget flows to the never-run oracle-paired
# b4/b5/b3 statistical tail in registration order via _reorder
# (VERDICT r07 item 2).
_PRIORITY: list[str] = []

# Round-16 staleness rotation (VERDICT r15 item 7): the r15 run re-proved
# its entire 50-name block (zero slippage — CORRECTNESS_r15 50/50 clean),
# so this rotation is the next-stalest 50 greens: the whole remaining
# 38-name r09-era fold (b4 count-distinct/runs/seasonality, b5
# islands/xmr/dynamic-gap session windows, the b9 stateful-EWMA +
# progress-metrics streams, the c2 LSH/minhash accuracy contracts, the
# full c3 ANN/k-means/PQ/MMR/PCA/JL family incl. covariance, the c4
# codec kernels — avi/jpeg/png/phash/CDC/channel-norm, the c5
# bigram/blocklist/BPE/winnow text tail, the corpus/dedup/RAG pipelines,
# s1 upsample, and flagship itself — which also re-proves the r15
# two-level integer-sum rewrite under the driver) topped up with the 12
# oldest r10 names (a7 spec scan, asof_join_events — the other r15
# rewrite — and the b2 filter/subquery gallery head). Computed from the
# cumulative CORRECTNESS_r01-r15 record (latest clean round per query;
# rows-only rows count as clean when they ran without error — err ==
# 'no_oracle' with spark_rows >= 0; ties broken alphabetically). They
# rank directly after any genuinely unverified newcomers; future rounds
# rotate the next-stalest block in (rest of the r10 fold: b2 subquery
# tail, b3 join gallery, then r11).
_RECHECK: list[str] = [
    "b4_count_distinct", "b4_runs_test", "b4_seasonality_strength",
    "b5_islands_gaps", "b5_session_window_dynamic_gap",
    "b5_xmr_control_chart", "b6_group_order_by_all",
    "b7_symmetric_difference", "b9_stateful_ewma_anomaly",
    "b9_stream_progress_metrics", "c2_lsh_band_tuning",
    "c2_minhash_estimate_accuracy", "c3_ann_ivf_topk", "c3_ann_lsh_topk",
    "c3_ann_pq_adc_topk", "c3_ann_recall_audit", "c3_covariance_matrix",
    "c3_kmeans_embeddings", "c3_mmr_diverse_topk", "c3_pca_project",
    "c3_product_quantization", "c3_random_projection_jl",
    "c3_semantic_dedup", "c4_avi_frame_extract", "c4_channel_norm_stats",
    "c4_content_defined_chunking", "c4_jpeg_baseline_decode",
    "c4_phash_near_dup", "c4_png_decode", "c5_bigram_backoff_score",
    "c5_blocklist_filter", "c5_bpe_pair_merges", "c5_fingerprint_winnow",
    "flagship_pricing_summary", "pipeline_corpus_release",
    "pipeline_dedup_cascade", "pipeline_rag_retrieval",
    "s1_upsample_minority", "a7_iceberg_v2_spec_scan", "asof_join_events",
    "b2_agg_membership_big_orders", "b2_disjunctive_pushdown",
    "b2_exists_late_shipment", "b2_filter_between", "b2_filter_in",
    "b2_filter_like", "b2_filter_null_bool", "b2_filter_regex_ilike",
    "b2_latest_shipper_per_order", "b2_not_exists_quiet_customers",
]


def _finalize_late_oracles() -> None:
    """Bind oracles that depend on the FINAL registry contents.

    ``c6_system_queries`` serves the engine's system metadata table — the
    full registered-query listing — so its oracle can only be authored once
    every module has imported: a VALUES table of the actual
    (query_name, inventory_row, oracle_paired) rows. The driver's hash
    check then proves the served system table matches the real surface."""
    paired = set(ORACLES) | {"c6_system_queries"}
    rows = ",\n".join(
        "('{}', '{}', {})".format(
            n, n.split("_")[0], "TRUE" if n in paired else "FALSE"
        )
        for n in sorted(QUERIES)
    )
    ORACLES["c6_system_queries"] = (
        "SELECT query_name, inventory_row, oracle_paired FROM (VALUES\n"
        + rows
        + "\n) AS t(query_name, inventory_row, oracle_paired)"
    )


def _reorder() -> None:
    """Rebuild QUERIES/ORACLES insertion order: head fixes, then driver-
    unverified (stable registration order), then already-verified."""

    def rank(item: tuple[int, str]) -> tuple[int, int, int]:
        idx, name = item
        if name in _HEAD:
            return (0, 0, _HEAD.index(name))
        if name not in _DRIVER_VERIFIED:
            if name in _PRIORITY:
                return (1, 0, _PRIORITY.index(name))
            # oracle-paired before rows-only: full value-hash rows are the
            # stronger evidence, and the slowest queries (ingest/warehouse/
            # streaming roundtrips) are rows-only by design
            return (1, 1 if name in ORACLES else 2, idx)
        if name in _RECHECK:
            return (2, 0, _RECHECK.index(name))
        return (3, 0, idx)

    ordered = sorted(((i, n) for i, n in enumerate(QUERIES)), key=rank)
    new_q = {n: QUERIES[n] for _, n in ordered}
    new_o = {n: ORACLES[n] for _, n in ordered if n in ORACLES}
    QUERIES.clear()
    QUERIES.update(new_q)
    ORACLES.clear()
    ORACLES.update(new_o)


def load_all() -> None:
    """Import every module that registers queries (idempotent), then order
    the registry so driver-unverified queries come first (see _reorder)."""
    from apache_iceberg_demo_spark.operators import (  # noqa: F401
        aggregates,
        analytics,
        asof,
        dedup,
        filters,
        joins,
        multimodal,
        reshape,
        sampling,
        setops,
        similarity,
        sorts,
        subqueries,
        text,
        windows,
    )
    from apache_iceberg_demo_spark import ingest  # noqa: F401
    from apache_iceberg_demo_spark.functions import scalars, udfs  # noqa: F401
    from apache_iceberg_demo_spark.sources import formats, warehouse  # noqa: F401
    from apache_iceberg_demo_spark.streaming import windows as swindows  # noqa: F401

    # imported last ON PURPOSE: corpus.py's / mlprep.py's oracle-paired
    # entries must rank after every earlier driver-unverified query (see
    # their module docstrings)
    from apache_iceberg_demo_spark.operators import corpus, mlprep  # noqa: F401

    # imported after corpus/mlprep for the same ordering reason (see its
    # module docstring)
    from apache_iceberg_demo_spark.operators import roundout  # noqa: F401

    # round-6 surface, imported last (same append-only ordering rule)
    from apache_iceberg_demo_spark.operators import round6  # noqa: F401

    # round-10 interop surface (Iceberg-v2 spec export/scan); _reorder
    # front-loads its never-verified query regardless of import position
    from apache_iceberg_demo_spark.sources import iceberg_v2  # noqa: F401

    _finalize_late_oracles()
    _reorder()
