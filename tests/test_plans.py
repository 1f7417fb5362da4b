"""Physical-plan quality gates (SURVEY.md §4; the 100 TB posture).

Correctness says the answer is right; these tests pin that the PLAN is
right: filters reach the parquet scan, small dims broadcast, partition
pruning fires, top-k avoids a global sort, and hot paths stay inside
whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from hcls_data_lake_spark import registry
from hcls_data_lake_spark.queries.common import t
from hcls_data_lake_spark.session import conf_scope


from hcls_data_lake_spark.plans import lint, plan_of  # noqa: E402


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    df = t(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    plan = plan_of(df)
    assert "PushedFilters" in plan
    assert "EqualTo(event_type,purchase)" in plan.replace(" ", "").replace(
        "EqualTo(event_type,purchase)", "EqualTo(event_type,purchase)"
    ) or "event_type" in plan.split("PushedFilters")[1][:200]


def test_column_pruning_projects_read_schema(spark, sf_dir):
    df = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    plan = plan_of(df)
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_orderkey" in read_schema and "l_quantity" in read_schema
    assert "l_comment" not in read_schema and "l_extendedprice" not in read_schema


def test_broadcast_join_chosen_for_dims(spark, sf_dir):
    df = registry.queries()["q_join_broadcast"](spark, sf_dir)
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan
    # the big (customer) side must NOT be exchanged for the join
    assert "SortMergeJoin" not in plan


def test_partition_pruning_fires(spark, sf_dir):
    # build the partitioned copy, then check the pruned read
    registry.queries()["q_scan_partition_prune"](spark, sf_dir).collect()
    from hcls_data_lake_spark.queries.common import scratch_for

    path = scratch_for(sf_dir, "orders_by_status")
    pruned = spark.read.parquet(path).filter(F.col("o_orderstatus") == "F")
    plan = plan_of(pruned)
    # partition filters appear as PartitionFilters, not data filters
    assert "PartitionFilters" in plan
    seg = plan.split("PartitionFilters:")[1][:200]
    assert "o_orderstatus" in seg


def test_topk_uses_take_ordered(spark, sf_dir):
    df = registry.queries()["q_sort_limit"](spark, sf_dir)
    plan = plan_of(df)
    assert "TakeOrderedAndProject" in plan  # no global Sort+Exchange


def test_anti_join_is_hashed_not_bnl(spark, sf_dir):
    df = registry.queries()["q_join_anti"](spark, sf_dir)
    plan = plan_of(df)
    assert "LeftAnti" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_agg_has_partial_aggregation(spark, sf_dir):
    df = registry.queries()["q_agg_group"](spark, sf_dir)
    plan = plan_of(df)
    # two HashAggregates (partial + final) around exactly one exchange —
    # counted in the plan TREE (details sections repeat node names)
    tree = plan.split("\n\n")[0]
    assert tree.count("HashAggregate") == 2
    assert tree.count("Exchange") == 1
    assert "partial_sum" in plan  # map-side partial aggregation


def test_flagship_stays_in_codegen(spark, sf_dir):
    df = registry.queries()["q_agg_group"](spark, sf_dir)
    plan = plan_of(df)
    # no Python evaluation anywhere in the hot path
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_asof_join_single_shuffle(spark, sf_dir):
    df = registry.queries()["q_join_asof"](spark, sf_dir)
    plan = plan_of(df)
    # the union+window formulation must not contain any join at all
    assert "Join" not in plan
    # one shuffle for the window partitioning (plus AQE reads)
    assert plan.count("Exchange") <= 2


def test_bucketed_join_is_exchange_free(spark, sf_dir):
    """Both sides bucketed+sorted on the join key => the SMJ reads
    matching buckets directly; no shuffle exchange anywhere in the plan
    (the pay-layout-once strategy for repeated 100 TB joins).

    At fixture scale Catalyst rightly prefers a broadcast join (orders
    fits under the threshold), so we model the at-scale condition —
    both sides too big to broadcast — by disabling broadcast, and pin
    that the fallback is the bucket-aligned SMJ, not a shuffle."""
    registry.queries()["q_join_bucketed"](spark, sf_dir).count()  # build layout
    with conf_scope(spark, {"spark.sql.autoBroadcastJoinThreshold": "-1"}):
        df = registry.queries()["q_join_bucketed"](spark, sf_dir)
        df.count()
        plan = plan_of(df)
    assert "SortMergeJoin" in plan
    assert "Exchange" not in plan  # no shuffle AND no broadcast build
    assert "SelectedBucketsCount" in plan


def test_sim_topk_broadcasts_queries_and_group_limits(spark, sf_dir):
    """The QUERY block is the broadcast side (candidates — the 100 TB
    table — stream in place), and the rank<=k filter runs as a
    WindowGroupLimit: per-partition top-k BEFORE the shuffle, so the
    exchange moves at most k rows per query per partition."""
    df = registry.queries()["q_sim_topk"](spark, sf_dir)
    plan = plan_of(df)
    assert "WindowGroupLimit" in plan
    assert "BroadcastNestedLoopJoin" in plan and "BuildLeft" in plan


def test_range_bin_join_is_hash_join_not_bnl(spark, sf_dir):
    """A pure range predicate (no equi key) would execute as a
    broadcast-nested-loop join — O(|L|·|R|) and a full broadcast, fatal
    big×big. bin_range_join re-keys it on time bins, so the physical
    plan must be a hash/sort-merge equi-join on the bin id with the
    BETWEEN as residual, never BNLJ. Pinned with broadcast disabled to
    model the at-scale condition (both sides fact-sized)."""
    with conf_scope(spark, {"spark.sql.autoBroadcastJoinThreshold": "-1"}):
        df = registry.queries()["q_join_range_bin"](spark, sf_dir)
        plan = plan_of(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan


def test_unpivot_is_expand_without_extra_shuffle(spark, sf_dir):
    df = registry.queries()["q_agg_unpivot"](spark, sf_dir)
    plan = plan_of(df)
    assert "Expand" in plan
    # only the groupBy shuffle: one Exchange, none added by the unpivot
    assert plan.count("Exchange") <= 2  # partial->final agg exchange (+AQE read)


def test_fuzzy_join_broadcasts_dictionary(spark, sf_dir):
    df = registry.queries()["q_join_fuzzy"](spark, sf_dir)
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_gapfill_single_shuffle_family(spark, sf_dir):
    df = registry.queries()["q_ts_gapfill"](spark, sf_dir)
    plan = plan_of(df)
    # agg, grid join and fill window all hash on user_id; the plan must
    # not introduce a global (RoundRobin/Single) exchange anywhere
    assert "SinglePartition" not in plan
    assert "rangepartitioning" not in plan.lower()


def test_ohlc_is_single_hash_aggregate(spark, sf_dir):
    df = registry.queries()["q_ts_ohlc"](spark, sf_dir)
    plan = plan_of(df)
    assert "HashAggregate" in plan
    assert "Window" not in plan  # min_by/max_by, not a window rewrite
    # partial + final agg over one exchange
    assert plan.count("Exchange") <= 2


def test_interval_overlap_join_is_hash_join_not_bnl(spark, sf_dir):
    df = registry.queries()["q_join_range_overlap"](spark, sf_dir)
    plan = plan_of(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    # bin-keyed equi join (broadcast or shuffled hash — either is fine)
    assert "HashJoin" in plan or "SortMergeJoin" in plan


def test_not_exists_is_anti_join_with_pushed_correlation(spark, sf_dir):
    """q_subquery_not_exists: the NOT EXISTS correlation predicates must
    be pushed into the probe-side scan (so the anti-join build side is
    the tiny qualifying subset), and the join itself must be a hashed
    anti-join, not a nested loop."""
    plan = plan_of(registry.queries()["q_subquery_not_exists"](spark, sf_dir))
    assert "LeftAnti" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    pushed = plan.split("PushedFilters")[1][:300]
    assert "l_quantity" in pushed and "l_returnflag" in pushed


def test_decontaminate_semi_join_broadcasts_benchmark(spark, sf_dir):
    """q_decontaminate: the benchmark shingle set must broadcast into a
    LeftSemi hash join — the corpus side streams in place and is never
    shuffled for the membership test."""
    plan = plan_of(registry.queries()["q_decontaminate"](spark, sf_dir))
    assert "LeftSemi" in plan
    assert "BroadcastExchange" in plan


def test_returns_report_aggregates_before_dimension_joins(spark, sf_dir):
    """q_analytics_returns: the custkey aggregation must run BELOW the
    customer/nation joins (join-after-agg ordering) and the top-20 must
    be a TakeOrderedAndProject, not a global sort."""
    plan = plan_of(registry.queries()["q_analytics_returns"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    # the aggregate's required child exchange is on o_custkey — the
    # dimension joins above it reuse that clustering and broadcast
    assert "hashpartitioning(o_custkey" in plan
    assert plan.count("SortMergeJoin") == 0


def test_correlated_subquery_single_fact_shuffle(spark, sf_dir):
    """q_subquery_correlated: the decorrelated per-part aggregate is the
    only exchange over lineitem rows; the join back to the fact must be
    broadcast (AQE sizes the per-part aggregate under the threshold)."""
    df = registry.queries()["q_subquery_correlated"](spark, sf_dir)
    df.collect()  # let AQE finalize the join strategy
    final = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in final
    assert "SortMergeJoin" not in final


def test_aqe_splits_skewed_join_at_runtime(spark, sf_dir):
    """AQE skew-join handling must actually fire on a hot-key join —
    the runtime complement to the explicit salted operators
    (operators/skew.py): where AQE can re-plan, a 95%-hot-key shuffle
    join is split into subpartitions with no code change. Pinned on a
    synthetic skew (one key carrying ~95% of fact rows) with thresholds
    scaled to fixture bytes; on a cluster the defaults play the same
    role at real partition sizes."""
    confs = {
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "65536",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2.0",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16384",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.shuffle.partitions": "8",
    }
    with conf_scope(spark, confs):
        fact = spark.range(0, 300_000).select(
            F.when(F.col("id") % 20 != 0, 0)
            .otherwise(F.col("id") % 1000)
            .alias("k"),
            F.sha2(F.col("id").cast("string").cast("binary"), 256).alias(
                "pad"
            ),
        )
        dim = spark.range(0, 1000).select(
            F.col("id").alias("k"), F.lit("d").alias("dv")
        )
        j = fact.join(dim, "k")
        assert len(j.collect()) == 300_000
        final = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in final
        assert "skew=true" in final, "AQE did not split the skewed join"


def test_runtime_bloom_filter_prunes_fact_scan(spark, tmp_path):
    """Runtime row-group pruning: joining a big on-disk fact to a
    selectively-filtered dim must inject a bloom filter — built from
    the dim's join keys (bloom_filter_agg), applied as might_contain on
    the fact side BEFORE the shuffle. At 100 TB this is the difference
    between shuffling the whole fact and shuffling the ~1/97th that can
    possibly match; thresholds here are scaled to fixture bytes."""
    d = str(tmp_path)
    spark.range(0, 500_000).select(
        (F.col("id") % 50_000).alias("k"),
        F.sha2(F.col("id").cast("string").cast("binary"), 256).alias("pad"),
    ).write.parquet(f"{d}/fact")
    spark.range(0, 50_000).select(
        F.col("id").alias("k"), (F.col("id") % 97).alias("tag")
    ).write.parquet(f"{d}/dim")
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "50MB",
        "spark.sql.optimizer.runtime.bloomFilter."
        "applicationSideScanSizeThreshold": "1KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    with conf_scope(spark, confs):
        fact = spark.read.parquet(f"{d}/fact")
        dim = spark.read.parquet(f"{d}/dim").filter(F.col("tag") == 3)
        j = fact.join(dim, "k")
        j.collect()
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "bloom_filter_agg" in plan, "no bloom filter was built"
        assert "might_contain" in plan, "bloom filter not applied to scan side"


# Queries whose plan INTENDS a BroadcastNestedLoopJoin: either the
# build side is a one-row aggregate/scalar (constant cost) or the
# design broadcasts a small block against a streamed big side.
_BNLJ_ALLOWED = {
    "q_join_theta",        # non-equi theta join, dim side broadcast
    "q_subquery_scalar",   # one-row aggregate cross-joined
    "q_sample_mix",        # one-row quota broadcast
    "q_sim_topk",          # broadcast query block x candidates
    "q_sim_pairs",         # broadcast query block x candidates
    "q_dedup_embedding",   # broadcast query block x candidates
    "q_agg_entropy",       # one-row dimension total cross-joined back
    "q_graph_triangles",   # one-row edge/wedge/triangle counts joined
    "q_subquery_having",   # one-row global-sum aggregate cross-joined
    "q_subquery_idle_customers",  # one-row avg-balance scalar subquery
    "q_diag_key_skew",     # one-row global-total broadcast joined back
    "q_sim_ann_pq",        # broadcast query block x PQ-coded candidates
    "q_sim_ann_pq_exact_regime",  # same shape, full-shortlist refine (r10)
    "q_sketch_bloom_md5",  # one-row bit-count census cross-joined
    "q_analytics_basket_rules",  # one-row order-total cross-joined back
    "q_ts_seasonal_index",  # one-row totals broadcast onto 24 rows
    "q_ts_kendall",        # theta self-join of the ~30-row daily relation
    "q_sketch_hll_intersect",  # 1-row exact-INTERSECT count cross-joined
    "q_dedup_threshold_sweep",  # 6-literal-row threshold ladder broadcast
    "q_ts_theil_sen",      # theta self-join of the ~30-row daily relation
    "q_ts_runs_test",      # 1-row lower-median broadcast onto days
    "q_privacy_t_closeness",  # groups x BOUNDED band vocabulary grid
    #                           + one-row (N, m) totals, both broadcast
    "q_analytics_abc",     # one-row revenue total cross-joined back
    "q_analytics_rolling_actives",  # days x keyspace/63 dense bitmap grid
    #                                 (both sides calendar/keyspace-bounded)
    "q_ts_cross_correlation",  # 4-literal lag spine broadcast onto days
    "q_text_distinctive_terms",  # 1-row corpus totals broadcast back
    "q_text_outlier_docs",   # 1-row corpus-total broadcast joined back
    "q_text_bm25",           # 1-row (n_docs, avgdl) corpus stats
    #                          broadcast onto the 3-term postings
    "q_analytics_tiered_commission",  # theta-join against the 3-row
    #                                   literal bracket ladder
    "q_text_vocab_coverage",  # 1-row corpus-total broadcast onto the
    #                           TakeOrdered top-50 (r7 scale fix)
    "q_agg_ks_test",          # 1-row totals + 1-row supremum broadcast
    #                           onto the domain relation (r7 scale fix)
    "q_analytics_rfm",        # 1-row recency anchor broadcast onto the
    #                           per-customer relation (r7 scale fix)
}


# Queries whose plan INTENDS an unpartitioned Window over a relation
# bounded by something other than the data — calendar days (the events
# fixture spans 30 days; at scale these are still date-domain
# relations), a value domain, or a literal spec. Everything
# corpus/fact/edge-shaped was migrated to
# operators.ordered.with_global_order in r7 (VERDICT r6 ask #2):
# q_sort_multi, q_analytics_abc, q_ts_sprt, q_pack_shards,
# q_agg_mann_whitney, q_graph_assortativity, q_diag_sequence_gaps.
_GLOBAL_WINDOW_ALLOWED = {
    "q_analytics_chi_square",   # ordered by nation (25-row domain)
    "q_analytics_survival",     # churn-horizon day domain
    "q_diag_benford",           # 9-row leading-digit domain
    "q_diag_volume_anomaly",    # daily calendar series
    "q_sample_class_balance",   # label-domain class counts
    "q_sample_neyman",          # strata-domain allocation
    "q_sample_quota_mix",       # 5-row literal language spec
    "q_ts_backtest_naive",      # daily calendar series
    "q_ts_drawdown",            # daily calendar series
    "q_ts_rank_autocorr",       # daily calendar series
    "q_ts_rolling_zscore",      # daily calendar series
    "q_ts_runs_test",           # daily calendar series
    "q_ts_sma_crossover",       # daily calendar series
    "q_ts_spearman",            # daily calendar series
    "q_ts_theil_sen",           # daily calendar series
}


def test_plan_lint_no_unbounded_global_windows(spark, sf_dir):
    """Registry-wide: no batch query may plan a Window fed by an
    Exchange SinglePartition (every row through one reducer) unless it
    is on the audited bounded-relation allowlist above. The scale-safe
    alternative for corpus-shaped total orders is
    operators.ordered.with_global_order (range-partition + broadcast
    prefix offsets); its internal ≤num_partitions offsets window is
    recognized and exempt. Every future query is linted automatically
    by being registered."""
    from hcls_data_lake_spark.plans import global_windows

    qs = registry.queries()
    failures = []
    for name, fn in sorted(qs.items()):
        if name.startswith("q_stream_") or name in _GLOBAL_WINDOW_ALLOWED:
            continue
        hits = global_windows(fn(spark, sf_dir))
        failures.extend(f"{name}: {h}" for h in hits)
    assert not failures, "\n".join(failures)


def test_with_global_order_matches_single_partition_window(spark):
    """The two-pass rank/cumsum must be value-identical to the naive
    single-partition window, including ties broken by the key,
    descending orders, and partitions that end up empty."""
    from pyspark.sql.window import Window

    from hcls_data_lake_spark.operators.ordered import with_global_order

    df = spark.range(0, 1000).select(
        (F.col("id") % 97).alias("k"),
        ((F.col("id") * 31) % 11).alias("v"),
        F.col("id"),
    )
    order = [F.col("v").desc(), F.col("k").asc(), F.col("id").asc()]
    got = (
        with_global_order(
            df,
            order,
            rank_col="rnk",
            cumsums={"cs": F.col("k")},
            num_partitions=7,
        )
        .select("id", "rnk", "cs")
        .collect()
    )
    w = Window.orderBy(*order)
    want = (
        df.select(
            "id",
            F.row_number().over(w).cast("bigint").alias("rnk"),
            F.sum("k")
            .over(w.rowsBetween(Window.unboundedPreceding, 0))
            .alias("cs"),
        )
        .collect()
    )
    assert sorted((r.id, r.rnk, r.cs) for r in got) == sorted(
        (r.id, r.rnk, r.cs) for r in want
    )
    # degenerate: fewer rows than partitions
    tiny = spark.range(0, 3).select(F.col("id"))
    got_tiny = with_global_order(
        tiny, [F.col("id").desc()], rank_col="r", num_partitions=8
    ).collect()
    assert sorted((r.id, r.r) for r in got_tiny) == [(0, 3), (1, 2), (2, 1)]


def test_plan_lint_no_cartesian_no_rowwise_python(spark, sf_dir):
    """Registry-wide plan lint: NO batch query may plan a
    CartesianProduct (two big relations crossing without broadcast) or
    a row-at-a-time Python eval (BatchEvalPython — every Python
    boundary in the engine is Arrow-batched). BroadcastNestedLoopJoin
    is allowed only on the explicit allowlist, and each allowed BNLJ
    must carry a BroadcastExchange (the small side is really
    broadcast). Every future query is linted automatically by being
    registered. Streaming queries are skipped: building their result
    runs real streams; their state/plan behavior is pinned in
    test_streaming.py."""
    from hcls_data_lake_spark import registry

    qs = registry.queries()
    failures = []
    for name, fn in sorted(qs.items()):
        if name.startswith("q_stream_"):
            continue
        problems = lint(fn(spark, sf_dir), allow_bnlj=name in _BNLJ_ALLOWED)
        failures.extend(f"{name}: {p}" for p in problems)
    assert not failures, "\n".join(failures)


def test_registry_outputs_are_driver_hashable(spark, sf_dir):
    """Registry-wide output-shape lint (VERDICT r8 ask #2): the driver
    canonicalizes EVERY query result via toPandas().sort_values(by=all
    columns) before hashing; top-level array/map/struct columns arrive
    as numpy arrays / dicts, which pandas cannot compare → TypeError →
    red CORRECTNESS row even for a correct query (r8's
    q_multimodal_binary / q_embed_pca_project). NO batch query may emit
    such a column: serialize in the final projection (array_join of
    fixed-precision formatted components / to_json — the q_agg_collect
    rule, queries/aggregates.py). No allowlist: nothing is exempt until
    a deliberate case ALSO proves pandas can sort it. Streaming queries
    get the identical gate via tests/parity.compare (test_oracle_parity
    runs all of them), which refuses unhashable schemas before
    comparing. Every future query is linted automatically by being
    registered."""
    from hcls_data_lake_spark.plans import unhashable_output_columns

    qs = registry.queries()
    failures = []
    for name, fn in sorted(qs.items()):
        if name.startswith("q_stream_"):
            continue
        hits = unhashable_output_columns(fn(spark, sf_dir))
        failures.extend(f"{name}: {h}" for h in hits)
    assert not failures, "\n".join(failures)


def test_hashability_lint_catches_seeded_array_output(spark):
    """Self-test (the r8-seeded-regression discipline): the lint must
    flag exactly the shapes that crashed the r8 driver — a top-level
    array<float> (q_multimodal_binary), an array<double>
    (q_embed_pca_project), a map, and a struct — and must pass the
    serialized rewrite. Also proves the flagged shapes REALLY crash the
    driver's _canon (pandas sort), so the lint tracks the true failure
    mode rather than a guess."""
    import pandas as pd

    from hcls_data_lake_spark.plans import unhashable_output_columns

    bad = spark.range(0, 4).select(
        F.col("id"),
        F.array(F.col("id").cast("float")).alias("feature"),
        F.array(F.col("id").cast("double")).alias("proj"),
        F.create_map(F.lit("k"), F.col("id")).alias("m"),
        F.struct(F.col("id").alias("a")).alias("s"),
    )
    hits = unhashable_output_columns(bad)
    assert sorted(h.split(":")[0] for h in hits) == ["feature", "m", "proj", "s"]
    # the flagged shapes genuinely crash the driver replica
    pdf = bad.toPandas()
    try:
        pdf.sort_values(by=list(pdf.columns))
        raised = False
    except TypeError:
        raised = True
    assert raised, "seeded array/map/struct frame sorted cleanly?!"
    good = bad.select(
        "id",
        F.array_join(
            F.transform("feature", lambda x: F.format_string("%.6f", x)), "|"
        ).alias("feature_str"),
        F.to_json("m").alias("m_json"),
        F.to_json("s").alias("s_json"),
    )
    assert unhashable_output_columns(good) == []
    pd.testing.assert_frame_equal(
        good.toPandas().sort_values(by=["id"]).reset_index(drop=True),
        good.toPandas().sort_values(by=["id"]).reset_index(drop=True),
    )


def test_temporal_join_is_keyed_not_bnl(spark, sf_dir):
    """q_join_temporal: the interval-containment predicate must ride an
    equi-join on the entity key (hash/merge), never a nested loop —
    disjoint version intervals per key make containment a residual
    filter, not a join strategy."""
    plan = plan_of(registry.queries()["q_join_temporal"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert ("SortMergeJoin" in plan) or ("BroadcastHashJoin" in plan) or (
        "ShuffledHashJoin" in plan
    )


def test_dynamic_partition_pruning_fires(spark, sf_dir):
    """Dynamic partition pruning: joining the partitioned zone copy to
    a selectively-filtered dim on the PARTITION column must inject a
    dynamicpruning subquery into the fact scan — only partitions whose
    key survives the dim filter are listed/read. The static complement
    (literal predicate) is test_partition_pruning_fires; this is the
    join-driven form that matters when the filter arrives via a
    dimension."""
    registry.queries()["q_scan_partition_prune"](spark, sf_dir).collect()
    from hcls_data_lake_spark.queries.common import scratch_for

    fact = spark.read.parquet(scratch_for(sf_dir, "orders_by_status"))
    dim = spark.createDataFrame(
        [("F", "final"), ("O", "open"), ("P", "pending")],
        "o_orderstatus string, label string",
    ).filter(F.col("label") == "final")
    j = fact.join(dim, "o_orderstatus")
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), "DPP was not injected"


def test_registry_dedup_does_not_force_broadcast(spark, sf_dir):
    """A5 ingest dedup: the admitted-hash registry grows without bound
    (every hash ever ingested — billions of digests at 100 TB), so
    dedup_against_registry must NOT carry an explicit broadcast hint:
    a hint is a directive AQE cannot demote, and broadcasting a
    billion-row registry OOMs every executor. With no hint the planner
    chooses from size stats — a stats-large registry must plan a
    shuffled anti-join, while a genuinely small one is still free to
    broadcast."""
    from hcls_data_lake_spark.pipeline.ingest import dedup_against_registry

    incoming = spark.range(0, 100_000).select(
        F.sha2(F.col("id").cast("string").cast("binary"), 256).alias("msg_hash")
    )
    # stats-large registry: range's size estimate (8 B/row) is ~80 MB,
    # far past the 10 MB autoBroadcastJoinThreshold
    big_registry = spark.range(0, 10_000_000).select(
        F.sha2(F.col("id").cast("string").cast("binary"), 256).alias("msg_hash")
    )
    plan = plan_of(dedup_against_registry(incoming, big_registry), "simple")
    assert "BroadcastExchange" not in plan, plan
    assert "CartesianProduct" not in plan

    # small registry: the unhinted planner still broadcasts from stats
    small_registry = spark.range(0, 100).select(
        F.sha2(F.col("id").cast("string").cast("binary"), 256).alias("msg_hash")
    )
    plan_small = plan_of(dedup_against_registry(incoming, small_registry), "simple")
    assert "BroadcastExchange" in plan_small, plan_small


def test_multikey_authz_read_prunes_source_partitions(spark, sf_dir):
    """4-level layout authz read: the reader-claims filter must land in
    PartitionFilters (source= trees outside the claims are never
    listed), along with the zone sub-key filter — the old reference's
    IAM-prefix authz realized as partition pruning."""
    registry.queries()["q_pipeline_multikey_layout"](spark, sf_dir).collect()
    from hcls_data_lake_spark.pipeline.zones import read_lake_authz
    from hcls_data_lake_spark.queries.common import scratch_for

    lake = scratch_for(sf_dir, "lake_multikey")
    authz = read_lake_authz(spark, lake, ["src0", "src1"], zone="staging")
    plan = plan_of(authz)
    assert "PartitionFilters" in plan
    seg = plan.split("PartitionFilters:")[1][:300]
    assert "source" in seg and "zone" in seg
    # and the claims predicate is NOT a post-scan data filter
    assert authz.count() > 0


def test_chunking_is_shuffle_free(spark, sf_dir):
    """q_text_chunk must be a pure map-side explode: no Exchange of any
    kind in the plan — chunking 100 TB is scan-bandwidth-bound, and a
    shuffle anywhere would make it the bottleneck."""
    plan = plan_of(registry.queries()["q_text_chunk"](spark, sf_dir), "simple")
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_embed_norm_filter_single_aggregate_shuffle(spark, sf_dir):
    """The L2-norm screen computes norms in the scan stage (array fold,
    no shuffle) — the only exchange is the label aggregate's
    partial→final pair."""
    df = registry.queries()["q_embed_norm_filter"](spark, sf_dir)
    plan = plan_of(df, "simple")
    tree = plan.split("\n\n")[0]
    assert tree.count("Exchange") == 1
    assert "HashAggregate" in plan


def test_vocab_coverage_windows_after_aggregate(spark, sf_dir):
    """Window work (rank, running sum, total) must sit ABOVE the token
    count aggregate: the corpus-sized explode is reduced by a
    partial-aggregated groupBy before any window touches it — at
    100 TB the windows run on the sublinear vocab relation."""
    df = registry.queries()["q_text_vocab_coverage"](spark, sf_dir)
    plan = plan_of(df, "simple")
    assert "partial_count" in plan or "partial" in plan  # map-side combine
    assert "Window" in plan
    # windows come later in the plan text than the aggregate (child-first
    # formatting prints leaves deepest; assert the aggregate is below)
    tree = plan.split("\n\n")[0]
    assert tree.index("Window") < tree.index("HashAggregate")


def test_date_shift_join_is_keyed_not_bnl(spark, sf_dir):
    """The per-patient shift relation joins back on the patient key —
    hash/broadcast equi-join, never a nested loop."""
    df = registry.queries()["q_privacy_date_shift"](spark, sf_dir)
    plan = plan_of(df, "simple")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_diag_referential_broadcasts_dim_parents(spark, sf_dir):
    """The FK orphan audit must broadcast dimension parents (3 of 4
    edges map-side outer joins), keep every join hashed (no nested
    loop anywhere), and fold orphan + total counts into the SAME
    aggregate (no second child scan, no scalar cross join)."""
    df = registry.queries()["q_diag_referential"](spark, sf_dir)
    plan = plan_of(df)
    tree = plan.split("\n\n")[0]
    assert tree.count("BroadcastHashJoin") >= 3
    assert "BroadcastNestedLoopJoin" not in plan
    assert "LeftOuter" in plan
    assert "partial_count" in plan or "partial_sum" in plan


def test_countmin_sketch_partial_aggregates_before_shuffle(spark, sf_dir):
    """The CMS cell build must partially aggregate map-side (the
    ×depth explode collapses to ≤ depth·256 cells per partition before
    anything moves) and the probe side must read the finished cells
    via a broadcast join — the whole point of a sketch is that the
    shuffle volume is sketch-sized, not stream-sized."""
    df = registry.queries()["q_sketch_countmin"](spark, sf_dir)
    plan = plan_of(df)
    assert "partial_count" in plan
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_bloom_probe_broadcasts_filter_not_probe(spark, sf_dir):
    """The Bloom prefilter must broadcast the ≤4096-row bit set and
    the build membership set — the probe (fact) side streams in place.
    A SortMergeJoin here means something fact-sized moved for a
    filter-sized lookup. The single permitted nested loop is the
    1-row × 1-row census/bit-count cross join (allowlisted in the
    registry-wide lint)."""
    df = registry.queries()["q_sketch_bloom_md5"](spark, sf_dir)
    plan = plan_of(df)
    tree = plan.split("\n\n")[0]
    assert tree.count("BroadcastHashJoin") >= 2
    assert tree.count("BroadcastNestedLoopJoin") <= 1
    assert "SortMergeJoin" not in tree


def test_hll_register_aggregation_is_two_level(spark, sf_dir):
    """HLL must aggregate (grp, bucket) → max(rho) with map-side
    partials (register table capped at m rows per group before the
    shuffle) and never explode beyond the input row count — one scan,
    two hash aggregates, no join."""
    df = registry.queries()["q_sketch_hll_md5"](spark, sf_dir)
    plan = plan_of(df)
    assert "partial_max" in plan
    assert "Join" not in plan.split("\n\n")[0]


def test_simhash_md5_stays_in_codegen(spark, sf_dir):
    """The simhash token-volume path (explode → nibble arithmetic →
    bit-lane sums) must be whole-stage codegen with map-side partial
    sums; the only permitted lambda is the 16-element fingerprint
    assembly AFTER the per-document aggregate."""
    df = registry.queries()["q_dedup_simhash_md5"](spark, sf_dir)
    plan = plan_of(df)
    assert "partial_sum" in plan
    assert "partial_collect_list" in plan  # assembly AFTER the agg
    assert "BatchEvalPython" not in plan


def test_r5_additions_plan_quality(spark, sf_dir):
    """Plan gates for the r5 operators: column pruning reaches every
    base scan, and the relations that must stay small stay out of the
    fact path."""
    qs = registry.queries()

    # gini: only the three needed orders columns are read, and the
    # groupBy after the window re-uses the window's partitioning (no
    # third exchange on the group key)
    plan = plan_of(qs["q_agg_gini"](spark, sf_dir))
    rs = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "o_totalprice" in rs and "o_orderpriority" in rs
    assert "o_comment" not in rs and "o_custkey" not in rs
    assert plan.count("Exchange hashpartitioning") <= 1

    # semantic dedup: embeddings scan reads only (vec_id, embedding);
    # bucketing is map-side (exactly one shuffle, on the bucket key)
    plan = plan_of(qs["q_dedup_semantic"](spark, sf_dir))
    rs = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "embedding" in rs and "label" not in rs

    # changepoint: the fact table is scanned AT MOST once in the probe
    # plan — the daily rollup is checkpointed (the scan runs inside
    # that materialization), so totals and cusum read the rolled-up
    # relation, never the facts
    plan = plan_of(qs["q_ts_changepoint"](spark, sf_dir))
    assert plan.count("events.parquet") <= 1

    # abc: same — the per-part aggregate is checkpointed; the ordered
    # cumsum and the total run over the aggregate, never the facts
    plan = plan_of(qs["q_analytics_abc"](spark, sf_dir))
    assert plan.count("lineitem.parquet") <= 1

    # nearest as-of: both direction windows share ONE hash
    # partitioning on user_id — the union shuffles once, sorts twice
    plan = plan_of(qs["q_join_asof_nearest"](spark, sf_dir))
    assert plan.count("Exchange hashpartitioning(user_id") <= 2


def test_r5_batch2_plan_quality(spark, sf_dir):
    """Plan gates for the second r5 batch (basket pairs, skyline,
    Benford, streak islands, k-hop)."""
    from hcls_data_lake_spark.plans import count_exchanges

    qs = registry.queries()

    # basket pairs: no self-join — one fact scan, one corpus-sized
    # shuffle (the per-order collect_set), pair expansion in-plan; the
    # part dim rides a broadcast, never a shuffle
    df = qs["q_analytics_basket_pairs"](spark, sf_dir)
    plan = plan_of(df)
    assert plan.count("lineitem.parquet") == 1
    assert "SortMergeJoin" not in plan
    rs = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_comment" not in rs and "l_extendedprice" not in rs
    assert "BroadcastHashJoin" in plan

    # skyline: both RANGE-frame windows and the final projection share
    # ONE hash partitioning on p_brand — a single shuffle total — and
    # the part scan is pruned to the four used columns
    df = qs["q_analytics_skyline"](spark, sf_dir)
    plan = plan_of(df)
    assert count_exchanges(df) <= 1
    rs = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "p_name" not in rs and "p_type" not in rs

    # benford: exactly one scan of the fact table (total via window
    # over the 9-row digit aggregate, not a second branch), pruned to
    # the single audited column
    df = qs["q_diag_benford"](spark, sf_dir)
    plan = plan_of(df)
    assert plan.count("orders.parquet") == 1
    rs = plan.split("ReadSchema:")[1].splitlines()[0]
    assert rs.strip() == "struct<o_totalprice:double>"

    # streak islands: lag, running sum, and both aggregations all key
    # on o_custkey — one shuffle carries the whole query; the final
    # 7-row distribution agg is the only other exchange
    df = qs["q_win_streak_islands"](spark, sf_dir)
    assert count_exchanges(df) <= 2
    rs = plan_of(df).split("ReadSchema:")[1].splitlines()[0]
    assert "o_orderstatus" not in rs and "o_orderpriority" not in rs

    # k-hop: frontier BFS output — no Python eval anywhere, no
    # cartesian products (checkpointed scans hide upstream, so lint
    # the final union plan)
    df = qs["q_graph_khop"](spark, sf_dir)
    assert lint(df) == []


def test_r5_batch3_plan_quality(spark, sf_dir):
    """Plan gates for the third r5 batch (DPP join, RFM, Zipf)."""
    qs = registry.queries()

    # DPP: the partitioned fact scan carries a dynamicpruning
    # partition filter fed by the broadcast dim — the whole point
    df = qs["q_join_dpp"](spark, sf_dir)
    plan = plan_of(df)
    assert "dynamicpruning" in plan.lower()
    assert "BroadcastHashJoin" in plan

    # RFM: the facts are scanned at most once (the per-customer
    # aggregate is lazily checkpointed; the 1-row anchor aggregate and
    # the probe both read it — r7 replaced the frameless anchor window
    # with a broadcast aggregate); customer dim broadcast; the
    # quintile windows keyed on the segment
    df = qs["q_analytics_rfm"](spark, sf_dir)
    plan = plan_of(df)
    assert plan.count("orders.parquet") <= 1
    assert "BroadcastHashJoin" in plan

    # Zipf: corpus explode feeds a two-level aggregate (map-side
    # partial before the shuffle), and the global rank window runs
    # AFTER the vocabulary aggregate, never over raw tokens
    df = qs["q_text_zipf"](spark, sf_dir)
    plan = plan_of(df, "simple")
    agg_pos = plan.find("HashAggregate")
    win_pos = plan.find("Window")
    assert agg_pos != -1 and win_pos != -1 and win_pos < agg_pos

    # basket rules: the pinned per-order relation feeds pairs, brand
    # counts and the total — the fact table never re-enters the probe
    # plan, and every rule-side join is a broadcast
    df = qs["q_analytics_basket_rules"](spark, sf_dir)
    plan = plan_of(df)
    assert plan.count("lineitem.parquet") == 0
    assert "SortMergeJoin" not in plan


def test_graph_cache_does_not_leak_into_dedup_plans(spark, sf_dir):
    """The graph-analytics family shares a persisted pair relation
    (llm._near_pairs_cached); the dedup family must keep benchmarking
    the COLD build. Spark's CacheManager substitutes a persisted plan
    into ANY equal plan fragment, so if the cache were persisted on
    the bare pair plan, q_dedup_near would silently read
    InMemoryTableScan (measured 0.71 -> 0.18 s when this regressed).
    The cache therefore persists behind a repartition (distinct
    canonical plan). Pin both directions: the cached build IS
    in-memory for a graph probe, and q_dedup_near's plan stays
    cache-free even when the cache is warm."""
    from hcls_data_lake_spark.queries.llm import _near_pairs_cached

    # warm the (3, 0.2) cache — the same params q_dedup_near uses
    _near_pairs_cached(spark, sf_dir, ngram=3, threshold=0.2).count()
    probe_plan = plan_of(
        _near_pairs_cached(spark, sf_dir, ngram=3, threshold=0.2)
    )
    assert "InMemoryTableScan" in probe_plan  # probes do hit the cache
    dedup_plan = plan_of(registry.queries()["q_dedup_near"](spark, sf_dir))
    assert "InMemoryTableScan" not in dedup_plan  # dedup stays cold


def test_graph_cache_evicts_other_application_entries(spark, sf_dir):
    """Entries keyed by a stopped SparkContext's applicationId must be
    dropped on the next access (the similarity._INDEX_CACHE ADVICE-r4
    discipline, applied to the graph cache)."""
    from hcls_data_lake_spark.queries import llm

    llm._GRAPH_CACHE.clear()
    llm._GRAPH_CACHE[("dead-app", "sf", 3, 0.2)] = object()
    got = llm._near_pairs_cached(spark, sf_dir, ngram=3, threshold=0.2)
    assert got.count() > 0
    assert all(
        k[0] == spark.sparkContext.applicationId for k in llm._GRAPH_CACHE
    )


def test_shuffle_hash_hint_avoids_sort(spark, sf_dir):
    """The SHUFFLE_HASH hint must produce a ShuffledHashJoin with no
    Sort below it (the whole point vs sort-merge). Broadcast is
    disabled to model the at-scale condition where the hint matters —
    at fixture scale Catalyst would otherwise just broadcast."""
    with conf_scope(spark, {"spark.sql.autoBroadcastJoinThreshold": "-1"}):
        df = registry.queries()["q_join_shuffle_hash"](spark, sf_dir)
        plan = plan_of(df)
    assert "ShuffledHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_multi_distinct_uses_expand_not_joins(spark, sf_dir):
    """Three COUNT(DISTINCT) + count(*) must plan as one Expand-based
    aggregation tree — no join, no repeated fact scan."""
    df = registry.queries()["q_agg_multi_distinct"](spark, sf_dir)
    plan = plan_of(df)
    tree = plan.split("\n\n")[0]
    assert "Expand" in tree
    assert "Join" not in tree
    assert tree.count("Scan parquet") == 1


def test_lint_catches_seeded_single_reducer_query(spark):
    """Guard the lint itself (r8, VERDICT r7 ask #8): drive the same
    registry-wide loop over a throwaway registry holding a deliberately
    single-reducer query (bare Window.orderBy over a fact-shaped
    relation) and assert the lint flags it — and that the
    with_global_order rewrite of the same query passes clean. If the
    plan-text patterns the lint greps for ever drift with a Spark
    upgrade, this test fails instead of the lint silently passing
    everything."""
    from pyspark.sql.window import Window

    from hcls_data_lake_spark.operators.ordered import with_global_order
    from hcls_data_lake_spark.plans import global_windows

    def bad_query(spark, sf_dir):
        df = spark.range(0, 10_000).select(
            F.col("id"), (F.col("id") * 7 % 113).alias("v")
        )
        return df.withColumn(
            "rk", F.row_number().over(Window.orderBy(F.col("v"), F.col("id")))
        )

    def good_query(spark, sf_dir):
        df = spark.range(0, 10_000).select(
            F.col("id"), (F.col("id") * 7 % 113).alias("v")
        )
        return with_global_order(
            df, [F.col("v").asc(), F.col("id").asc()], rank_col="rk"
        )

    throwaway = {"q_seeded_single_reducer": bad_query,
                 "q_seeded_two_pass": good_query}
    failures = []
    for name, fn in sorted(throwaway.items()):
        hits = global_windows(fn(spark, None))
        failures.extend(f"{name}: {h}" for h in hits)
    assert failures, "lint failed to flag the seeded single-reducer query"
    assert all(f.startswith("q_seeded_single_reducer:") for f in failures), (
        "lint flagged the scale-safe two-pass rewrite too: " + str(failures)
    )


def test_bucketed_multiway_fact_leg_is_exchange_free(spark, sf_dir):
    """q_join_multiway_bucketed (r8): at fixture scale every join
    broadcasts, so force the at-scale shape (auto-broadcast off) and
    pin what the bucketed layout buys — the orders/lineitem leg runs
    as a sort-merge join with NO shuffle exchange on either fact input
    (both scans are bucketed on the join key), which is exactly the
    plan a 100 TB star would take once dims outgrow the threshold."""
    from hcls_data_lake_spark.plans import plan_of
    from hcls_data_lake_spark.registry import queries

    fn = queries()["q_join_multiway_bucketed"]
    with conf_scope(spark, {"spark.sql.autoBroadcastJoinThreshold": "-1"}):
        plan = plan_of(fn(spark, sf_dir), "formatted")
    assert "SortMergeJoin" in plan
    lines = plan.splitlines()
    # walk the tree section: between each bucketed Scan and the SMJ
    # above it there must be no Exchange (bucket co-location honored)
    smj_idx = [i for i, l in enumerate(lines) if "SortMergeJoin" in l]
    assert smj_idx, plan
    first_smj = smj_idx[0]
    scan_lines = [
        i for i, l in enumerate(lines)
        if "Scan parquet" in l and "bkt_" in l
    ]
    assert len(scan_lines) >= 2, "bucketed scans missing:\n" + plan
    for i in scan_lines[:2]:
        between = "\n".join(lines[first_smj:i])
        assert "Exchange hashpartitioning" not in between, (
            "shuffle between bucketed scan and SMJ:\n" + between
        )
