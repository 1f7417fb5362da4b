"""Benchmark harness: times the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line:
    {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is forced to full materialization with a count-style action
(write to a noop aggregation) so timing covers the complete plan.

Per-query time is the MIN over $SPARK_GRAFT_BENCH_REPS repetitions
(default 3 for the headline set; the extended set defaults to 1 via
$SPARK_GRAFT_BENCH_EXT_REPS — see the inline comment) after a full
warmup pass: a single timed run conflates plan execution with JVM JIT
compilation of the generated code and whatever else the machine is
doing — r2's driver run read q_agg_group 3.6x and q_dedup_near 1.7x
over their steady state from exactly that noise. The min is the best
unbiased estimate of the plan's cost; medians are reported alongside
for dispersion. Single-run extended noise is filtered by the minima
ledger (history/BENCH_solo_r5.json) rather than per-run reps.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# The headline set: one per major operator family, weighted toward the
# shuffly/expensive plans that dominate at 100 TB.
HEADLINE = [
    "q_agg_group",          # flagship pricing summary (scan+filter+agg)
    "q_join_multiway",      # 5-table star join
    "q_join_inner_hash",    # big-big shuffle join
    "q_join_asof",          # union+window as-of join
    "q_win_rank",           # partitioned window
    "q_agg_pivot",          # pivot matrix
    "q_dedup_exact",        # sha256 dedup
    "q_dedup_near",         # shingle jaccard near-dup
    "q_sim_topk",           # cosine top-k
    "q_text_tfidf",         # explode-heavy text pipeline
    "q_text_tokens",        # corpus token counts
    "q_stream_tumbling",    # structured streaming window agg
    "q_hl7_native_split",   # ER7 native splitter
    "q_pipeline_ingest",    # ingest chain (decode/hash/anti-join)
]

# Operators added after the headline set was frozen — timed and
# reported separately so `value` stays comparable across rounds.
EXTENDED = [
    "q_join_bucketed",        # exchange-free co-located SMJ
    "q_join_multiway_bucketed",  # star over the bucketed fact layout (r8)
    "q_fn_sql_scripting",  # BEGIN/WHILE driver loop, log(n) probes (r8)
    "q_fn_execute_immediate",  # parameterized dynamic SQL (r8)
    "q_udtf_arrow_bytes",  # arrow_udtf zero-copy byte histograms (r8)
    "q_stream_tws_timers",  # TWS event-time timers, session close (r8)
    "q_sink_pystream_manifest",  # python Arrow stream sink + manifest (r8)
    "q_decontaminate_near",  # Jaccard>=0.5 near-contamination census (r8)
    "q_agg_salted_skew",      # salted two-stage aggregation
    "q_dedup_embedding",      # embedding-cosine near-dup
    "q_sample_hash_split",    # deterministic md5 split
    "q_pipeline_curation",    # quality -> dedup -> split, one plan
    "q_analytics_shipping",   # TPC-H-Q3-style composite
    "q_hl7_typed_adt",        # typed ADT projection
    "q_stream_stream_join",   # watermarked stream-stream join
    "q_join_range_bin",       # binned big-big pure range join
    "q_join_salted_skew",     # salted hot-key join
    "q_rollup_hybrid",        # continuous aggregate hybrid read
    "q_dedup_clusters",       # connected-components dedup clusters
    "q_layout_zorder",        # z-order clustered write + 2-dim scan
    "q_scd2_dimension",       # SCD2 batch fold (4 maintenance runs)
    "q_sim_ann_ivf",          # IVF ANN with trained k-means codebook
    "q_ts_gapfill",           # dense-grid gap-fill + forward-fill
    "q_ts_ohlc",              # min_by/max_by bucket resample
    "q_pack_sequences",       # concat-and-chunk context windows
    "q_join_fuzzy",           # dictionary-level levenshtein linkage
    "q_hl7_typed_oru",        # typed ORU projection (OBX explode)
    "q_embed_standardize",    # per-dim z-score (broadcast stats)
    "q_embed_quantize",       # int8 floor-bucket quantization
    "q_text_bigrams",         # n-gram counts, top-50 TakeOrdered
    "q_ts_sessionize",        # gaps-and-islands batch sessions
    "q_join_range_overlap",   # interval-overlap bin join
    "q_subquery_correlated",  # decorrelated Q17-shape double fact scan
    "q_analytics_returns",    # Q10-shape returned-item report
    "q_decontaminate",        # 5-gram benchmark overlap removal
    "q_text_repetition",      # per-doc bigram repetition metrics
    "q_scan_pysource",        # Python Data Source generator scan
    "q_text_redact",          # regex PII scrub at scan speed
    "q_pipeline_multikey_layout",  # 4-level layout write + pruned authz read
    "q_embed_norm_filter",    # L2-norm hygiene gate (scan-fused)
    "q_embed_centroid_cosine",  # per-label centroid separation
    "q_dedup_minhash_sig",    # engine-neutral md5 minhash signatures
    "q_sample_weighted",      # Efraimidis-Spirakis weighted sample
    "q_stream_dedup_within_watermark",  # chained bounded-state dedup+agg
    "q_text_chunk",           # overlapping context-window chunking
    "q_text_vocab_coverage",  # tokenizer-vocab coverage curve
    "q_privacy_k_anon",       # under-k quasi-identifier cells
    "q_privacy_date_shift",   # per-patient date-shift de-identification
    "q_dedup_incremental",    # new-batch-vs-seen-corpus near-dedup
    "q_text_lm_score",        # bigram-LM perplexity-proxy scoring
    "q_privacy_l_diversity",  # homogeneity-attack cell report
    "q_dedup_keep_best",      # per-cluster quality-argmax keeper
    "q_embed_pca_project",    # distributed-Gram PCA fit + projection
    "q_text_containment",     # asymmetric subset-dup detection
    "q_dedup_posting_census", # stop-list cap dropped-postings audit
    "q_embed_recall_tuned",   # 12-table LSH recall>=0.8 audit
    "q_dedup_near_capped",    # oracle-verified stop-list capped near-dup
    "q_stream_tws_topk",      # TWS list-state bounded top-k
    "q_dedup_simhash_join",   # pigeonhole banded hamming<=3 join
    "q_text_cdc_chunks",      # content-defined chunk dedup census
    "q_dedup_pipeline_e2e",   # full minhash->LSH->verify->CC pipeline
    "q_sample_neyman",        # exact Neyman stratified allocation
    "q_diag_key_skew",        # shuffle-key heavy-hitter census
    "q_pipeline_compact",     # small-file compaction + lossless census
    "q_pipeline_expire",      # retention TTL rewrite + boundary census
    "q_text_passage_dedup",   # cross-corpus first-occurrence chunk dedup
    "q_sink_shuffled_shards", # deterministic shuffle-to-shards export
    "q_sample_token_budget",  # per-source greedy token-budget selection
    "q_sim_ann_pq",           # PQ-ADC shortlist + exact refine ANN
    "q_diag_referential",     # FK orphan audit (outer joins, big-big + bcast)
    "q_sim_ann_ivfpq",        # IVF pruning x PQ compression + refine
    "q_graph_pagerank_exact", # integer micro-rank power iteration
    "q_dedup_lsh_bands",      # md5-family LSH banding candidates
    "q_dedup_simhash_md5",    # engine-neutral simhash fingerprints
    "q_sketch_countmin",      # CMS build + probe + exact verify
    "q_sketch_hll_md5",       # HLL registers + deterministic estimate
    "q_sketch_hll_merge",     # shard-split registers, max-merged
    "q_sketch_bloom_md5",     # bloom prefilter census
    "q_stream_countmin",      # streamed mergeable CMS cells
    "q_stream_hll",           # streamed mergeable HLL registers
    "q_dedup_minhash_est",    # minhash estimator vs exact Jaccard
    "q_ts_interpolate",       # dense-grid linear interpolation
    "q_sink_backfill_overwrite",  # dynamic-partition day backfill
    "q_privacy_pseudonymize",  # keyed tokens + join in pseudonym space
    "q_dedup_semantic",       # SRP-LSH buckets + exact integer cosine (r5)
    "q_privacy_t_closeness",  # integer-EMD distribution-skew audit (r5)
    "q_join_asof_nearest",    # nearest-direction as-of join (r5)
    "q_stream_minhash",       # streamed MIN-merge minhash signatures (r5)
    "q_sample_reservoir",     # mergeable hash-rank reservoir sample (r5)
    "q_agg_gini",             # exact integer Gini concentration (r5)
    "q_stream_stateful_tws",  # TransformWithState running totals (r5)
    "q_ts_changepoint",       # integer CUSUM changepoint per series (r5)
    "q_analytics_abc",        # Pareto/ABC revenue classification (r5)
    "q_analytics_basket_pairs",  # a-priori brand co-occurrence support (r5)
    "q_analytics_skyline",    # window-skyline Pareto frontier (r5)
    "q_graph_khop",           # frontier-BFS blast radius vs recursive CTE (r5)
    "q_diag_benford",         # first-digit fraud/synthetic-data audit (r5)
    "q_win_streak_islands",   # gaps-and-islands increasing-streak census (r5)
    "q_join_dpp",             # runtime partition pruning via dim filter (r5)
    "q_analytics_rfm",        # segment-partitioned RFM quintile census (r5)
    "q_text_zipf",            # rank-frequency vocabulary profile (r5)
    "q_analytics_basket_rules",  # a-priori lift/confidence in exact ppm (r5)
    "q_win_pattern_seq",      # MATCH_RECOGNIZE-style contiguous pattern (r5)
    "q_ts_spearman",          # drift-free integer rank correlation (r5)
    "q_analytics_mom_growth", # MoM revenue growth in basis points (r5)
    "q_stream_cdc_apply",     # foreachBatch LWW upsert/tombstone state (r5)
    "q_sample_time_split",    # purged walk-forward temporal split census (r5)
    "q_ts_downsample_ltob",   # integer-exact LTOB plot downsampling (r5)
    "q_agg_weighted_median",  # exact integer weighted median (r5)
    "q_ts_mad_outliers",      # robust MAD outlier census (r5)
    "q_text_keywords",        # ordinal tf-idf per-doc keywords (r5)
    "q_analytics_hhi",        # Herfindahl concentration in exact ppm (r5)
    "q_analytics_time_to_convert",  # causal conversion-latency histogram (r5)
    "q_analytics_new_vs_returning",  # epoch-week growth accounting (r5)
    "q_analytics_activity_histogram",  # L28-style engagement depth (r5)
    "q_analytics_transitions",  # Markov state-transition flow matrix (r5)
    "q_analytics_cal_heatmap",  # epoch-anchored dow x hod activity grid (r5)
    "q_agg_bitmap_distinct",  # 63-bit-word exact popcount distinct (r5)
    "q_agg_mann_whitney",     # integer rank-sum U nonparametric test (r5)
    "q_ts_seasonal_index",    # hour-of-day multiplicative factors (r5)
    "q_analytics_order_to_ship",  # fulfillment-SLA latency weeks (r5)
    "q_scan_parquet_footer",  # footer stats as a queryable relation (r5)
    "q_ts_kendall",           # tau-a concordance in integer ppm (r5)
    "q_analytics_ltv_curve",  # cohort cumulative-revenue payback curve (r5)
    "q_sketch_hll_intersect", # inclusion-exclusion audience overlap (r5)
    "q_diag_sequence_gaps",   # islands-based missing-id gap ranges (r5)
    "q_diag_distribution_drift",  # integer TV-distance drift screen (r5)
    "q_ts_rank_autocorr",     # lag-1/7 rank-ACF seasonality detector (r5)
    "q_dedup_threshold_sweep",  # one-pass dedup yield/threshold curve (r5)
    "q_graph_assortativity",  # rank-based degree-mixing coefficient (r5)
    "q_analytics_wilson_rank",  # small-sample-honest rating rank (r5)
    "q_ts_runs_test",         # Wald-Wolfowitz randomness census (r5)
    "q_privacy_anonymity_ladder",  # one-Expand k-anon generalization curve (r5)
    "q_ts_theil_sen",         # robust median-slope trend (r5)
    "q_agg_ks_test",          # exact-integer two-sample KS supremum (r5)
    "q_analytics_chi_square",  # contingency residual decomposition (r5)
    "q_privacy_dp_histogram",  # seeded binomial-mechanism DP release (r5)
    "q_graph_jaccard_neighbors",  # wedge-join link prediction (r5)
    "q_ts_sma_crossover",     # integer golden/death-cross detector (r5)
    "q_join_lateral",         # Catalyst-decorrelated LATERAL top-2 (r5)
    "q_fn_generators",        # posexplode ordinality + sequence pack (r5)
    "q_sample_class_balance",  # content-keyed minority downsampling (r5)
    "q_analytics_survival",   # Nelson-Aalen integer-ppm hazard (r5)
    "q_graph_kcore",          # fixpoint 3-core peeling (r5)
    "q_analytics_retention_bitmap",  # bitmap AND/popcount retention (r5)
    "q_agg_percentile_exact",  # integer-interpolated percentile_cont (r5)
    "q_embed_knn_graph",      # SRP-bucketed mutual top-3 kNN graph (r5)
    "q_pack_shards",          # prefix-sum shard-packing manifest (r5)
    "q_stream_observe",       # observed-metrics reconciliation totals (r5)
    "q_diag_volume_anomaly",  # trailing-window ingest-volume monitor (r5)
    "q_analytics_ab_test",    # per-user two-proportion z-test (r5)
    "q_sample_quota_mix",     # Hamilton-apportionment mixture sampler (r5)
    "q_dedup_edit_gate",      # length-banded Levenshtein dedup gate (r5)
    "q_analytics_rolling_actives",  # bitmap OR-frame DAU/WAU/MAU (r5)
    "q_text_hash_features",   # signed hashing-trick featurizer (r5)
    "q_join_null_skew",       # sentinel-routed null-key outer join (r5)
    "q_ts_cross_correlation",  # lagged rank cross-correlation (r5)
    "q_analytics_price_volume",  # exact price/volume YoY waterfall (r5)
    "q_graph_reach_recursive",  # native WITH RECURSIVE reachability (r5)
    "q_fn_sql_udf",           # Catalyst-inlined SQL scalar+table UDFs (r5)
    "q_stream_state_inspect",  # statestore-reader state audit (r5)
    "q_fn_pipe_syntax",       # pipe-dialect plan equivalence (r5)
    "q_scan_metadata_cols",   # _metadata path-derived lineage audit (r5)
    "q_text_distinctive_terms",  # corpus-comparison vocabulary drift (r5)
    "q_udf_apply_in_arrow",   # zero-copy grouped-map gap statistics (r5)
    "q_join_shuffle_hash",    # sort-free SHUFFLE_HASH strategy hint (r5)
    "q_analytics_lifecycle",  # growth-accounting lifecycle states (r5)
    "q_embed_recall_audit",   # engine-verified ANN recall evaluation (r5)
    "q_sim_ann_multiprobe",   # Hamming-1 multi-probe recall lift (r5)
    "q_graph_modularity",     # exact partition-quality score (r5)
    "q_ts_drawdown",          # running-peak max-drawdown curve (r5)
    "q_privacy_randomized_response",  # seeded local-DP mechanism (r5)
    "q_dedup_blocking_quality",  # banding precision/recall audit (r5)
    "q_ts_rolling_zscore",    # exact-integer rolling z-score flags (r5)
    "q_analytics_xyz",        # exact-CV² demand-variability classes (r5)
    "q_pipeline_late_dim",    # park-and-reprocess late dimension (r5)
    "q_text_outlier_docs",    # per-doc integer-TV outlier gate (r5)
    "q_ts_backtest_naive",    # walk-forward forecast scoreboard (r5)
    "q_privacy_dp_mean",      # clamped DP numeric release (r5)
    "q_agg_multi_distinct",   # one-pass Expand multi-distinct (r5)
    "q_stream_incremental_resume",  # exactly-once restart progress (r5)
    "q_analytics_attribution",  # conserved multi-touch credit (r5)
    "q_pipeline_ivm",         # incremental view maintenance merge (r5)
    "q_dedup_linkage_fs",     # Fellegi-Sunter linkage bands (r5)
    "q_ts_decompose",         # 2x24-MA seasonal decomposition (r5)
    "q_ts_dtw",               # banded DTW vs recursive oracle (r5)
    "q_graph_label_propagation",  # deterministic synchronous LPA (r5)
    "q_scd2_bitemporal",      # two-axis as-of restatement audit (r5)
    "q_join_spatial_grid",    # grid-bucketed spatial radius join (r5)
    "q_sample_kcenter",       # greedy Gonzalez coreset picks (r5)
    "q_join_interval_allocate",  # largest-remainder proration (r5)
    "q_agg_kth_selection",    # sort-free exact order statistic (r5)
    "q_text_bm25",            # exact-rational integer BM25 (r5)
    "q_multimodal_chunk_manifest",  # byte-range md5 manifest (r5)
    "q_analytics_fifo_depletion",  # closed-form FIFO matching (r5)
    "q_sample_bootstrap",     # seeded Poisson bootstrap replicas (r5)
    "q_analytics_tiered_commission",  # marginal bracket ladder (r5)
    "q_embed_prefix_eval",    # truncated-dimension recall eval (r5)
    "q_pipeline_rule_bitmap",  # row-level DQ bitmask gate (r5)
    "q_ts_sprt",              # Wald sequential test, milli-bans (r5)
    "q_ts_interval_union",    # overlapping-span coverage merge (r5)
    "q_stream_ivm",           # streaming MV maintenance, signed (r5)
    "q_join_hierarchy_rollup",  # path-enum BOM vs recursion (r5)
    "q_privacy_dp_topk",      # report-noisy-max selection (r5)
    "q_analytics_diff_in_diff",  # 4-cell causal DiD estimate (r5)
    "q_fn_soundex",           # builtin vs hand-rolled phonetics (r5)
    "q_sink_manifest_checksum",  # order-pinned export digests (r5)
    "q_agg_crossmoments",     # mergeable covariance statistics (r5)
    "q_pipeline_feature_join",  # PIT-correct feature assembly (r5)
    "q_text_pmi",             # exact-lift windowed collocations (r5)
    "q_diag_key_uniqueness",  # PK-violation census pre-flight (r5)
    "q_sample_importance_weights",  # exact-ESS domain reweighting (r5)
    "q_pipeline_ingest_encoding",  # per-row declared-charset decode (r7)
    "q_pipeline_versions",    # versioned-bucket history + latest (r7)
    "q_embed_recall_ivfpq",   # compressed-path ADC+rerank audit (r7)
    "q_hl7_typed_vxu",        # typed immunization projection (r7)
    "q_hl7_ack_reconcile",    # ACK delivery-audit join (r7)
    "q_sort_multi",           # two-pass global listing rank (r7 shape)
    "q_hl7_typed_rde",        # typed pharmacy projection (r9)
    "q_dedup_semantic_scaled",  # 8-plane SRP semantic dedup (r9)
    "q_dedup_pipeline_e2e_full",  # whole-corpus 5-stage dedup (r9)
    "q_fn_time",              # TIME type construction/extraction (r9)
    "q_agg_approx_topk",      # sketch heavy-hitters, exact regime (r9)
    "q_fn_group_by_all",      # GROUP BY ALL dialect pin (r9)
    "q_stream_tws_initial_state",  # TWS state bootstrap warm start (r9)
    "q_sim_ann_ivf_exact_regime",  # nprobe=all IVF == brute force (r10)
    "q_sim_ann_lsh_exact_regime",  # probe-all LSH == brute force (r10)
    "q_sim_ann_pq_exact_regime",  # full-shortlist refine == brute force (r10)
    "q_sim_ann_ivfpq_exact_regime",  # all cells + full refine (r10)
    "q_agg_approx_quantile_exact_regime",  # GK sketch, exact regime (r10)
    "q_multimodal_wav_probe",  # real RIFF/WAVE decode round-trip (r10)
    "q_multimodal_bmp_probe",  # real BMP decode round-trip (r10)
    "q_hl7_rrd_reconcile",    # RRD^O14 dispense reconciliation (r10)
    "q_agg_approx_distinct_exact_regime",  # HLL++ sparse mode exact (r10)
    "q_agg_hll_sketch_exact_regime",  # DataSketches coupon mode exact (r10)
    "q_multimodal_frames_probe",  # frame chunker vs substring oracle (r10)
    "q_hl7_typed_omg",        # typed general-clinical-order projection (r10)
    "q_embed_pca_exact_regime",  # full-rank PCA norm-preservation pin (r10)
    "q_hl7_typed_oms",        # typed stock-requisition projection (r10)
    "q_text_bpe_step",        # BPE merge step, cross-engine value pin (r10)
    "q_text_bpe_merges",      # 3-step BPE loop, chained-rebuild pin (r10)
    "q_multimodal_png_probe",  # real PNG decode, all 5 filters pinned (r10)
    "q_scan_text_gzip",       # gzip text round-trip, non-splittable note (r10)
    "q_udf_parse_er7_golden",  # golden-corpus md5 pin of the ER7 parser (r11)
    "q_text_bpe_apply",       # BPE encode: trained merges on held-out (r11)
    "q_hl7_qbp_reconcile",    # QBP^Q11/RSP^K11 query-protocol round-trip (r11)
    "q_multimodal_jpeg_probe",  # real baseline JPEG entropy decode (r11)
    "q_multimodal_jpeg_color_probe",  # 4:4:4 YCbCr interleaved MCUs (r11)
    "q_multimodal_jpeg420_probe",  # 4:2:0 subsampled decode (r11)
    "q_multimodal_jpeg_restart_probe",  # DRI/RSTn decode (r11)
    "q_multimodal_jpeg_progressive_probe",  # SOF2 multi-scan decode (r12)
    "q_multimodal_png_palette_probe",  # indexed PNG + PLTE expand (r12)
    "q_multimodal_png_gray_probe",  # gray 8/16-bit PNG decode (r12)
    "q_multimodal_png_subbyte_probe",  # 1/2/4-bit packed PNG decode (r12)
    "q_multimodal_png_interlace_probe",  # Adam7 pass walk + scatter (r12)
    "q_multimodal_wav_float_probe",  # float32/24-bit/extensible WAV (r12)
    "q_multimodal_mp4_probe",  # ISO BMFF demux + frame slicing (r12)
    "q_hl7_batch_deframe",    # FHS/BHS batch walk + trailer reconcile (r12)
]

# Ambient-drift canaries (r9, VERDICT r8 ask #5): constant plans whose
# per-round readings measure host load directly — q_bench_canary_floor
# is data-independent (scheduler+shuffle floor), q_bench_canary_scan is
# a pruned single-column read of the biggest table (IO floor). Their
# per-round ratio vs the committed ledger entries is the round's
# measured ambient factor (BASELINE.md "Ambient canaries"); timed with
# full headline reps because their whole point is a stable reading.
CANARIES = [
    "q_bench_canary_floor",
    "q_bench_canary_scan",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    os.environ.setdefault("SPARK_GRAFT_CPUS", "32")

    from hcls_data_lake_spark import registry
    from hcls_data_lake_spark.session import get_spark

    spark = get_spark("hcls-bench")
    spark.sparkContext.setLogLevel("ERROR")
    qs = registry.queries()

    # Warmup pass: run every headline query once untimed so the timed
    # pass measures steady-state plan execution (shuffles, joins,
    # codegen), not first-touch JVM class loading / file-listing costs
    # that a long-lived cluster session never re-pays.
    qs["q_scan_parquet"](spark, sf_dir).collect()
    for name in HEADLINE + EXTENDED + CANARIES:
        qs[name](spark, sf_dir).count()

    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))

    def timed(name: str, n_reps: int) -> list[float]:
        runs = []
        for _ in range(max(1, n_reps)):
            t0 = time.time()
            qs[name](spark, sf_dir).count()
            runs.append(round(time.time() - t0, 3))
        return runs

    timings: dict[str, float] = {}
    medians: dict[str, float] = {}
    for name in HEADLINE:
        runs = sorted(timed(name, reps))
        timings[name] = runs[0]
        medians[name] = runs[len(runs) // 2]
    total = round(sum(timings.values()), 3)
    # Extended set defaults to ONE timed rep (each entry still gets
    # the untimed warmup): at 200 entries a 3-rep extended pass puts
    # the whole run near half an hour, which risks any per-round wall
    # budget. Single-run spikes (the r3 q_join_salted_skew lesson)
    # are filtered by the LEDGER instead — history/BENCH_solo_r5.json merges
    # per-query minima across many full runs, so one noisy reading
    # never becomes the committed reference. Override with
    # SPARK_GRAFT_BENCH_EXT_REPS for dedicated ledger runs.
    ext_reps = int(os.environ.get("SPARK_GRAFT_BENCH_EXT_REPS", "1"))
    extended: dict[str, float] = {}
    extended_medians: dict[str, float] = {}
    for name in EXTENDED:
        runs = sorted(timed(name, ext_reps))
        extended[name] = runs[0]
        extended_medians[name] = runs[len(runs) // 2]
    # Scaling probe (r13, additions-only): a dedicated multi-rep min of
    # the most compute-bound extended entry, so the driver's low-core
    # heuristic has something scaling-sensitive to key on — the 14
    # headline queries are sub-second, fixed-overhead-dominated plans
    # at sf0.1 whose 8v32 ratios sit near 1 regardless of parallelism
    # (VERDICT r12 "scaling block"). q_dedup_pipeline_e2e_full is a
    # 32-way CPU-heavy minhash pipeline that measured 2.25 s at 32
    # cores vs 3.40 s at 8 in the r12 driver artifacts.
    # Two probes: the CPU-heavy dedup pipeline, and the collect_set +
    # C(k,2) basket expansion — the strongest clean 8v32 differentiator
    # in the r13 paired sessions (1.47 s @32 vs 2.34 s @8; the dedup
    # pipeline's compute fraction shrank after its r12 optimization,
    # so a second, plan-stable probe keeps the signal).
    for probe in ("q_dedup_pipeline_e2e_full", "q_analytics_basket_pairs"):
        probe_runs = sorted(timed(probe, max(5, reps)))
        key = f"q_scaling_probe_{probe[2:]}"
        extended[key] = probe_runs[0]
        extended_medians[key] = probe_runs[len(probe_runs) // 2]
    # canaries get headline-grade reps: their reading IS the product
    canaries: dict[str, float] = {}
    for name in CANARIES:
        runs = sorted(timed(name, reps))
        canaries[name] = runs[0]
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else None
    # Parallelism provenance (r13, additions-only): record the core
    # count the session ACTUALLY ran with, so a low-core driver run is
    # verifiable from the JSON itself rather than inferred from env.
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    parallelism = spark.sparkContext.defaultParallelism
    # Full blob FIRST (for the ledger tools, which read whole stdout),
    # then a compact headline-only JSON as the FINAL stdout line. The
    # driver keeps only the last 2000 chars of stdout, so the 240+
    # entry extended blob truncated away the headline keys in
    # history/BENCH_r03..r10 ("parsed": null). The compact line carries the
    # headline set (14 queries + canaries), well under 2000 chars.
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_wall_full",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "queries_median": medians,
                "extended_queries": extended,
                "extended_queries_median": extended_medians,
                "canaries": canaries,
                "reps": reps,
                "ext_reps": ext_reps,
                "sf": sf,
                "cpus": cpus,
                "parallelism": parallelism,
            }
        )
    )
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_wall",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "canaries": canaries,
                "reps": reps,
                "sf": sf,
                "cpus": cpus,
                "parallelism": parallelism,
                "scaling_probe": {
                    "q_dedup_pipeline_e2e_full": extended[
                        "q_scaling_probe_dedup_pipeline_e2e_full"
                    ],
                    "q_analytics_basket_pairs": extended[
                        "q_scaling_probe_analytics_basket_pairs"
                    ],
                },
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
