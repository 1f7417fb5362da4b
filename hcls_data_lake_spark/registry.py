"""Query registry: the single source of truth for the t2 contract.

Each declared query (SURVEY.md §2.B) registers a Spark callable
``(spark, sf_dir) -> DataFrame`` together with its DuckDB oracle SQL.
``__spark_entry__.queries()`` / ``oracle_sql()`` are thin views over
this registry.

Oracle discipline: every computed column is aliased identically in the
Spark code and the SQL; floating aggregates are rounded in both; no
query relies on unspecified row order (the driver's compare is
order-insensitive and sorts columns by name).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from hcls_data_lake_spark.session import ensure_posture

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass
class Query:
    name: str
    fn: QueryFn
    oracle: str | None  # None => driver runs a rows-only check
    doc: str = ""


REGISTRY: dict[str, Query] = {}


def register(name: str, oracle: str | None) -> Callable[[QueryFn], QueryFn]:
    """Decorator: register a query with its oracle SQL (or None)."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name: {name}")

        def tuned(spark: SparkSession, sf_dir: str) -> DataFrame:
            ensure_posture(spark)
            return fn(spark, sf_dir)

        tuned.__name__ = fn.__name__
        tuned.__doc__ = fn.__doc__
        REGISTRY[name] = Query(name=name, fn=tuned, oracle=oracle, doc=fn.__doc__ or "")
        return fn

    return deco


# Exported FIRST, in this order: one representative per operator family
# (the full inventory follows in registration order). External harnesses
# that sample a prefix of the inventory — e.g. a time-budgeted
# correctness sweep — then cover every family instead of exhausting the
# budget inside whichever module happens to import first.
_FAMILY_REPRESENTATIVES = [
    # -- STALEST-FIRST rotation: the r13 plan-changed queries all have
    # CORRECTNESS rows on their new plans (history/CORRECTNESS_r13.json),
    # so the order is now oldest latest-CORRECTNESS-row first, and the
    # 14 names with no oracle SQL come last (a sampled prefix cannot
    # diff them).
    # Regenerate each round with
    # tools/rotate_representatives.py <new names...>.
    "q_subquery_idle_customers",
    "q_subquery_having",
    "q_win_percent",
    "q_win_ratio",
    "q_win_distinct",
    "q_fn_hof",
    "q_fn_try",
    "q_fn_variant",
    "q_fn_xml",
    "q_scan_csv",
    "q_scan_orc",
    "q_scan_xml",
    "q_scan_time_travel",
    "q_scan_schema_evolution",
    "q_ts_ohlc",
    "q_ts_dedup_consecutive",
    "q_graph_triangles",
    "q_text_langid",
    "q_text_fingerprint",
    "q_text_token_count",
    "q_analytics_returns",
    "q_analytics_top_supplier",
    "q_analytics_priority",
    "q_analytics_cohort",
    "q_analytics_funnel",
    "q_analytics_ship_latency",
    "q_analytics_market_share",
    "q_analytics_profit",
    "q_analytics_promo",
    "q_pipeline_zone_route",
    "q_pipeline_retrieval",
    "q_pipeline_catalog_upsert",
    "q_pipeline_current_state",
    "q_text_clean",
    "q_text_bigrams",
    "q_embed_standardize",
    "q_set_intersect_all",
    "q_set_except_all",
    "q_join_nullsafe",
    "q_analytics_min_cost_supplier",
    "q_dedup_simhash_md5",
    "q_dedup_keep_best",
    "q_graph_pagerank_exact",
    "q_sketch_hll_md5",
    "q_sketch_hll_merge",
    "q_stream_countmin",
    "q_stream_hll",
    "q_ts_interpolate",
    "q_sink_backfill_overwrite",
    "q_privacy_pseudonymize",
    "q_privacy_l_diversity",
    "q_diag_referential",
    "q_diag_completeness",
    "q_diag_profile",
    "q_diag_key_skew",
    "q_join_asof_tolerance",
    "q_join_fuzzy",
    "q_join_range_overlap",
    "q_join_temporal",
    "q_text_containment",
    "q_text_passage_dedup",
    "q_text_repetition",
    "q_text_redact",
    "q_decontaminate",
    "q_analytics_excess_supplier",
    "q_analytics_order_distribution",
    "q_analytics_disjunctive_revenue",
    "q_analytics_forecast_revenue",
    "q_analytics_nation_volume",
    "q_analytics_parts_suppliers",
    "q_agg_regression",
    "q_agg_winsorize",
    "q_sample_stratified",
    "q_sample_mix",
    "q_sink_shuffled_shards",
    "q_scan_json_corrupt",
    "q_scan_binaryfile",
    "q_scan_federated",
    "q_stream_static_join",
    "q_stream_pysource_typed",
    "q_stream_complete_topk",
    "q_embed_quantize",
    "q_pack_sequences",
    "q_analytics_basket_pairs",
    "q_analytics_skyline",
    "q_graph_khop",
    "q_diag_benford",
    "q_win_streak_islands",
    "q_join_dpp",
    "q_analytics_rfm",
    "q_text_zipf",
    "q_analytics_basket_rules",
    "q_win_pattern_seq",
    "q_ts_spearman",
    "q_analytics_mom_growth",
    "q_stream_cdc_apply",
    "q_sample_time_split",
    "q_ts_downsample_ltob",
    "q_text_keywords",
    "q_analytics_hhi",
    "q_analytics_time_to_convert",
    "q_analytics_new_vs_returning",
    "q_analytics_activity_histogram",
    "q_analytics_transitions",
    "q_analytics_cal_heatmap",
    "q_agg_bitmap_distinct",
    "q_agg_mann_whitney",
    "q_ts_seasonal_index",
    "q_analytics_order_to_ship",
    "q_scan_parquet_footer",
    "q_ts_kendall",
    "q_analytics_ltv_curve",
    "q_diag_sequence_gaps",
    "q_diag_distribution_drift",
    "q_ts_rank_autocorr",
    "q_dedup_threshold_sweep",
    "q_analytics_wilson_rank",
    "q_ts_runs_test",
    "q_privacy_anonymity_ladder",
    "q_ts_theil_sen",
    "q_agg_ks_test",
    "q_analytics_chi_square",
    "q_privacy_dp_histogram",
    "q_graph_jaccard_neighbors",
    "q_ts_sma_crossover",
    "q_join_lateral",
    "q_fn_generators",
    "q_sample_class_balance",
    "q_analytics_survival",
    "q_dedup_posting_census",
    "q_dedup_near_capped",
    "q_stream_tws_topk",
    "q_text_cdc_chunks",
    "q_sample_neyman",
    "q_graph_kcore",
    "q_analytics_retention_bitmap",
    "q_pack_shards",
    "q_stream_observe",
    "q_diag_volume_anomaly",
    "q_analytics_ab_test",
    "q_sample_quota_mix",
    "q_dedup_edit_gate",
    "q_analytics_rolling_actives",
    "q_text_hash_features",
    "q_join_null_skew",
    "q_ts_cross_correlation",
    "q_analytics_price_volume",
    "q_graph_reach_recursive",
    "q_fn_sql_udf",
    "q_stream_state_inspect",
    "q_fn_pipe_syntax",
    "q_scan_metadata_cols",
    "q_text_distinctive_terms",
    "q_udf_apply_in_arrow",
    "q_join_shuffle_hash",
    "q_analytics_lifecycle",
    "q_graph_modularity",
    "q_ts_drawdown",
    "q_privacy_randomized_response",
    "q_dedup_blocking_quality",
    "q_ts_rolling_zscore",
    "q_analytics_xyz",
    "q_pipeline_late_dim",
    "q_text_outlier_docs",
    "q_ts_backtest_naive",
    "q_privacy_dp_mean",
    "q_agg_multi_distinct",
    "q_stream_incremental_resume",
    "q_pipeline_ivm",
    "q_dedup_linkage_fs",
    "q_analytics_diff_in_diff",
    "q_fn_soundex",
    "q_sink_manifest_checksum",
    "q_agg_crossmoments",
    "q_pipeline_feature_join",
    "q_diag_key_uniqueness",
    "q_sample_importance_weights",
    "q_layout_zorder",
    "q_fn_collation",
    "q_fn_json_build",
    "q_agg_bool",
    "q_agg_listagg",
    "q_analytics_local_volume",
    "q_analytics_big_orders",
    "q_pipeline_compact",
    "q_pipeline_expire",
    "q_agg_gini",
    "q_analytics_abc",
    "q_privacy_t_closeness",
    "q_join_asof_nearest",
    "q_dedup_semantic",
    "q_sample_reservoir",
    "q_stream_stateful_tws",
    "q_stream_minhash",
    "q_ts_changepoint",
    "q_pipeline_ingest_encoding",
    "q_pipeline_versions",
    "q_hl7_typed_vxu",
    "q_join_multiway_bucketed",
    "q_fn_sql_scripting",
    "q_fn_execute_immediate",
    "q_udtf_arrow_bytes",
    "q_stream_tws_timers",
    "q_sink_pystream_manifest",
    "q_stream_tws_mapstate",
    "q_decontaminate_near",
    "q_stream_tws_state_reader",
    "q_hl7_typed_rde",
    "q_bench_canary_floor",
    "q_bench_canary_scan",
    "q_dedup_semantic_scaled",
    "q_fn_time",
    "q_agg_approx_topk",
    "q_fn_group_by_all",
    "q_stream_tws_initial_state",
    "q_ts_dtw",
    "q_graph_label_propagation",
    "q_scd2_bitemporal",
    "q_join_spatial_grid",
    "q_sample_kcenter",
    "q_join_interval_allocate",
    "q_agg_kth_selection",
    "q_multimodal_chunk_manifest",
    "q_analytics_fifo_depletion",
    "q_sample_bootstrap",
    "q_analytics_tiered_commission",
    "q_embed_prefix_eval",
    "q_pipeline_rule_bitmap",
    "q_ts_sprt",
    "q_ts_interval_union",
    "q_stream_ivm",
    "q_join_hierarchy_rollup",
    "q_privacy_dp_topk",
    "q_agg_approx_quantile_exact_regime",
    "q_multimodal_wav_probe",
    "q_multimodal_bmp_probe",
    "q_agg_approx_distinct_exact_regime",
    "q_agg_hll_sketch_exact_regime",
    "q_multimodal_frames_probe",
    "q_hl7_typed_omg",
    "q_embed_pca_exact_regime",
    "q_hl7_typed_oms",
    "q_text_bpe_step",
    "q_text_bpe_merges",
    "q_multimodal_png_probe",
    "q_scan_text_gzip",
    "q_agg_cube",
    "q_agg_distinct",
    "q_agg_global",
    "q_agg_groupingsets",
    "q_agg_histogram",
    "q_agg_median",
    "q_agg_mode",
    "q_agg_pivot",
    "q_agg_rollup",
    "q_agg_stats",
    "q_agg_unpivot",
    "q_analytics_expectations",
    "q_analytics_profile",
    "q_filter_eq",
    "q_filter_like",
    "q_filter_null",
    "q_filter_range_str",
    "q_fn_bitwise",
    "q_fn_cast",
    "q_fn_cond",
    "q_fn_date",
    "q_fn_hash",
    "q_fn_math",
    "q_fn_regex",
    "q_join_anti",
    "q_join_full",
    "q_join_left",
    "q_join_multiway",
    "q_join_range_bin",
    "q_join_range_interval",
    "q_join_salted_skew",
    "q_join_semi",
    "q_udf_parse_er7_golden",
    "q_multimodal_jpeg_probe",
    "q_multimodal_jpeg_color_probe",
    "q_multimodal_jpeg420_probe",
    "q_multimodal_jpeg_restart_probe",
    "q_udf_parse_er7",
    "q_join_theta",
    "q_project_rename",
    "q_rollup_hybrid",
    "q_agg_salted_skew",
    "q_analytics_shipping",
    "q_dedup_clusters",
    "q_dedup_embedding",
    "q_dedup_exact",
    "q_dedup_near",
    "q_fn_json",
    "q_hl7_native_split",
    "q_hl7_typed_adt",
    "q_multimodal_arrow_stats",
    "q_multimodal_struct",
    "q_pipeline_cdc_apply",
    "q_pipeline_curation",
    "q_pipeline_ingest",
    "q_sample_hash_split",
    "q_sample_leakage_safe_split",
    "q_scan_partition_prune",
    "q_scan_pysource",
    "q_scd2_dimension",
    "q_sink_partitioned_write",
    "q_stream_dedup_state",
    "q_stream_stateful_totals",
    "q_stream_stream_join",
    "q_stream_tumbling",
    "q_text_heavy_hitters",
    "q_text_quality",
    "q_text_tfidf",
    "q_ts_anomaly",
    "q_ts_ewma",
    "q_ts_gapfill",
    "q_ts_sessionize",
    "q_udaf_grouped",
    "q_udf_grouped_map",
    "q_udtf_python",
    "q_scan_parquet",
    "q_scan_text_parse",
    "q_scan_json",
    "q_multimodal_jpeg_progressive_probe",
    "q_multimodal_png_palette_probe",
    "q_multimodal_png_gray_probe",
    "q_multimodal_png_subbyte_probe",
    "q_multimodal_png_interlace_probe",
    "q_multimodal_wav_float_probe",
    "q_multimodal_mp4_probe",
    "q_hl7_batch_deframe",
    "q_join_self",
    "q_agg_collect",
    "q_fn_array",
    "q_fn_map",
    "q_win_lag",
    "q_win_running",
    "q_win_range_frame",
    "q_win_ntile_firstlast",
    "q_sort_multi",
    "q_set_union",
    "q_set_intersect",
    "q_stream_sliding",
    "q_stream_session",
    "q_stream_watermark_late",
    "q_stream_foreachbatch_route",
    "q_stream_outer_join",
    "q_sim_pairs",
    "q_text_tokens",
    "q_text_stats",
    "q_pipeline_multikey_layout",
    "q_embed_norm_filter",
    "q_embed_centroid_cosine",
    "q_dedup_minhash_sig",
    "q_sample_weighted",
    "q_stream_dedup_within_watermark",
    "q_stream_session_dynamic",
    "q_text_chunk",
    "q_text_vocab_coverage",
    "q_privacy_k_anon",
    "q_privacy_date_shift",
    "q_dedup_incremental",
    "q_scan_snapshot_diff",
    "q_agg_group",
    "q_join_inner_hash",
    "q_join_broadcast",
    "q_join_asof",
    "q_join_bucketed",
    "q_join_bloom_prefilter",
    "q_win_rank",
    "q_topk_per_group",
    "q_sort_limit",
    "q_agg_weighted_median",
    "q_agg_percentile_exact",
    "q_win_median",
    "q_ts_concurrency",
    "q_sample_token_budget",
    "q_hl7_rrd_reconcile",
    "q_hl7_ack_reconcile",
    "q_hl7_qbp_reconcile",
    "q_text_bpe_apply",
    "q_embed_recall_tuned",
    "q_dedup_pipeline_e2e_full",
    "q_dedup_simhash_join",
    "q_sketch_hll_intersect",
    "q_analytics_attribution",
    "q_sim_ann_pq_exact_regime",
    "q_sim_ann_ivf_exact_regime",
    "q_sim_ann_lsh_exact_regime",
    "q_sim_ann_ivfpq_exact_regime",
    "q_text_bm25",
    "q_text_pmi",
    "q_text_lm_score",
    "q_dedup_pipeline_e2e",
    "q_sim_topk",
    "q_dedup_minhash_est",
    "q_graph_assortativity",
    "q_sim_ann_multiprobe",
    "q_embed_recall_audit",
    "q_sketch_countmin",
    "q_dedup_lsh_bands",
    "q_sketch_bloom_md5",
    "q_ts_decompose",
    "q_ts_mad_outliers",
    "q_embed_knn_graph",
    "q_agg_entropy",
    "q_set_except",
    "q_subquery_correlated",
    "q_filter_conj",
    "q_project_case",
    "q_fn_string",
    "q_hl7_typed_oru",
    "q_udtf_explode_segments",
    "q_subquery_scalar",
    "q_subquery_in",
    "q_subquery_not_exists",
    "q_subquery_waiting_supplier",
    "q_graph_pagerank",
    "q_agg_hll_sketch",
    "q_agg_approx_quantile",
    "q_dedup_minhash_lsh",
    "q_dedup_simhash",
    "q_multimodal_frames",
    "q_embed_recall_ivfpq",
    "q_multimodal_binary",
    "q_embed_pca_project",
    "q_sim_ann_pq",
    "q_sim_ann_ivf",
    "q_sim_ann_ivfpq",
    "q_sim_ann_lsh",
    "q_agg_approx_distinct",
]










def _ordered() -> dict[str, Query]:
    _load_all()
    out: dict[str, Query] = {}
    for name in _FAMILY_REPRESENTATIVES:
        if name in REGISTRY:
            out[name] = REGISTRY[name]
    for name, q in REGISTRY.items():
        if name not in out:
            out[name] = q
    return out


def queries() -> dict[str, QueryFn]:
    return {name: q.fn for name, q in _ordered().items()}


def oracle_sql() -> dict[str, str]:
    return {
        name: q.oracle for name, q in _ordered().items() if q.oracle is not None
    }


_LOADED = False


def _load_all() -> None:
    """Import every query module so registration side effects run."""
    global _LOADED
    if _LOADED:
        return
    # Imports are deferred so the package imports fast and circular
    # imports (query modules import `register` from here) are safe.
    from hcls_data_lake_spark.queries import (  # noqa: F401
        aggregates,
        analytics,
        curation,
        diagnostics,
        filters,
        functions_pack,
        joins,
        llm,
        pipeline_queries,
        sampling,
        scans,
        setops,
        sorts,
        streaming_queries,
        subqueries,
        timeseries,
        windows,
    )

    _LOADED = True
