"""Streaming queries (SURVEY.md §2.B "Streaming").

Each runs a REAL Structured Streaming job (file source →
availableNow trigger → memory/parquet sink) and returns the
materialized result so the driver can hash it against a
batch-equivalent DuckDB oracle.

Window boundaries are emitted as epoch seconds (BIGINT) computed with
integer microsecond arithmetic — identical in both engines, independent
of session time zone.
"""

from __future__ import annotations

import shutil

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from hcls_data_lake_spark.queries.common import events, scratch_for
from hcls_data_lake_spark.registry import register
from hcls_data_lake_spark.session import conf_scope
from hcls_data_lake_spark.streaming.runner import (
    ROCKSDB_STATE,
    read_events_stream,
    run_foreach_batch,
    run_to_memory,
)


@register(
    "q_stream_tumbling",
    """
    SELECT (epoch_us(ts) // 600000000) * 600 AS win_start_sec,
           event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           ROUND(SUM(value), 2) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def q_stream_tumbling(spark, sf_dir):
    """Tumbling 10-minute window aggregation as a streaming job.

    State is ~21k (window, type) rows at sf0.1 — small enough that
    per-partition state-store commit overhead dominates over
    parallelism: 4 state partitions measure ~25% faster than 8 warm
    (0.86 s vs 1.13 s) and 8 beats 16. Sized to state volume, the same
    call a cluster deployment makes per stateful query."""
    sdf = read_events_stream(spark, sf_dir)
    agg = (
        sdf.groupBy(F.window("ts", "10 minutes"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            (F.unix_micros(F.col("window.start")) / 1_000_000)
            .cast("bigint")
            .alias("win_start_sec"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )
    return run_to_memory(agg, output_mode="complete", shuffle_partitions=4)


@register(
    "q_stream_sliding",
    """
    SELECT win_start_sec, CAST(count(*) AS BIGINT) AS n_events,
           ROUND(SUM(value), 2) AS sum_value
    FROM (
      SELECT ((epoch_us(ts) // 300000000) * 300) - off AS win_start_sec, value
      FROM events, (SELECT unnest([0, 300]) AS off)
      WHERE epoch_us(ts) >= off * 1000000
    )
    GROUP BY win_start_sec
    """,
)
def q_stream_sliding(spark, sf_dir):
    """Sliding window (10 min size / 5 min slide): each event lands in
    two overlapping windows."""
    sdf = read_events_stream(spark, sf_dir)
    agg = (
        sdf.groupBy(F.window("ts", "10 minutes", "5 minutes"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            (F.unix_micros(F.col("window.start")) / 1_000_000)
            .cast("bigint")
            .alias("win_start_sec"),
            "n_events",
            "sum_value",
        )
    )
    return run_to_memory(agg, output_mode="complete", shuffle_partitions=8)


@register(
    "q_stream_session",
    """
    WITH marked AS (
      SELECT user_id, epoch_us(ts) AS ep,
             CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                    OR epoch_us(ts) - lag(epoch_us(ts)) OVER w >= 300000000
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts))
    ), sess AS (
      SELECT user_id, ep,
             SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ep
                                 ROWS UNBOUNDED PRECEDING) AS sess_id
      FROM marked
    )
    SELECT user_id,
           MIN(ep) // 1000000 AS session_start_sec,
           (MAX(ep) + 300000000) // 1000000 AS session_end_sec,
           CAST(count(*) AS BIGINT) AS n_events
    FROM sess
    GROUP BY user_id, sess_id
    """,
)
def q_stream_session(spark, sf_dir):
    """Session windows (5-minute gap) per user as a streaming job;
    oracle is the gaps-and-islands SQL (lag + running sum)."""
    sdf = read_events_stream(spark, sf_dir)
    agg = (
        sdf.groupBy(F.session_window("ts", "5 minutes"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            (F.unix_micros(F.col("session_window.start")) / 1_000_000)
            .cast("bigint")
            .alias("session_start_sec"),
            (F.unix_micros(F.col("session_window.end")) / 1_000_000)
            .cast("bigint")
            .alias("session_end_sec"),
            "n_events",
        )
    )
    return run_to_memory(agg, output_mode="complete", shuffle_partitions=8)


@register(
    "q_stream_watermark_late",
    """
    SELECT (epoch_us(ts) // 600000000) * 600 AS win_start_sec,
           CAST(count(*) AS BIGINT) AS n_events
    FROM events
    GROUP BY 1
    """,
)
def q_stream_watermark_late(spark, sf_dir):
    """Watermarked windowed aggregation. On the in-order fixture replay
    nothing is late, so the streaming result equals the batch oracle;
    the late-drop path is pinned by unit tests with manufactured
    out-of-order batches (SURVEY §5.2.5)."""
    sdf = read_events_stream(spark, sf_dir)
    agg = (
        sdf.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "10 minutes"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            (F.unix_micros(F.col("window.start")) / 1_000_000)
            .cast("bigint")
            .alias("win_start_sec"),
            "n_events",
        )
    )
    return run_to_memory(agg, output_mode="complete", shuffle_partitions=8)


@register(
    "q_stream_dedup_state",
    """
    SELECT DISTINCT user_id, event_type
    FROM events
    """,
)
def q_stream_dedup_state(spark, sf_dir):
    """Stateful streaming dedup (A5 as a stream): watermark +
    dropDuplicates on the key. Output is the key set itself, so the
    result is deterministic regardless of which physical row was first."""
    sdf = read_events_stream(spark, sf_dir)
    deduped = (
        sdf.withWatermark("ts", "30 minutes")
        .dropDuplicates(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    # dropDuplicates emits first-seen rows in their own batch, so the
    # trailing no-data batch would only evict state — skip it.
    return run_to_memory(
        deduped,
        output_mode="append",
        shuffle_partitions=8,
        no_data_batches=False,
    )


@register(
    "q_stream_stateful_totals",
    """
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           ROUND(SUM(value), 2) AS sum_value
    FROM events
    GROUP BY user_id
    """,
)
def q_stream_stateful_totals(spark, sf_dir):
    """Custom stateful operator via applyInPandasWithState: per-user
    running totals in explicit GroupState (the registry/catalog
    state-mutation pattern of A5/A11 as managed streaming state). A
    single availableNow batch makes the update-mode emission equal the
    batch aggregate, so the oracle can hash-check it."""
    from hcls_data_lake_spark.streaming.stateful import running_totals

    sdf = read_events_stream(spark, sf_dir).select("user_id", "value")
    # NoTimeout state: emission happens only in data batches, so the
    # trailing no-data batch is pure state-commit overhead — skip it.
    return run_to_memory(
        running_totals(sdf),
        output_mode="update",
        shuffle_partitions=8,
        no_data_batches=False,
    )


@register(
    "q_stream_stateful_tws",
    """
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           ROUND(SUM(value), 2) AS sum_value
    FROM events
    GROUP BY user_id
    """,
)
def q_stream_stateful_tws(spark, sf_dir):
    """Per-user running totals on the TransformWithState API (Spark 4's
    successor to applyInPandasWithState — named typed state handles,
    processor lifecycle, RocksDB state store): the modern 100 TB custom
    stateful operator, emission-equal to q_stream_stateful_totals so
    the same batch oracle hash-checks it. ENVIRONMENT GATE: the TWS
    Python WORKER needs `google.protobuf` for its state-server
    protocol. Sessions built by hcls.session.get_spark activate the
    vendored pure-Python runtime and export it to workers
    (compat/protobuf_vendor), so the REAL TWS path runs; only a
    driver-supplied session whose JVM launched without the bootstrap
    degrades to the applyInPandasWithState twin (identical emission
    contract — the oracle still verifies the real streaming run, just
    through the older state API). tests/test_streaming.py pins TWS
    itself, including a RocksDB state round-trip."""
    from hcls_data_lake_spark.compat.protobuf_vendor import (
        workers_have_protobuf,
    )
    from hcls_data_lake_spark.streaming.stateful import (
        running_totals,
        tws_running_totals,
    )

    use_tws = workers_have_protobuf(spark)
    stateful = tws_running_totals if use_tws else running_totals
    sdf = read_events_stream(spark, sf_dir).select("user_id", "value")
    with conf_scope(spark, ROCKSDB_STATE if use_tws else {}):
        return run_to_memory(
            stateful(sdf),
            output_mode="update",
            shuffle_partitions=8,
            no_data_batches=False,
        )


@register(
    "q_stream_tws_topk",
    """
    SELECT user_id, CAST(rn AS INT) AS rnk, value, event_id
    FROM (SELECT user_id, event_id, value,
            row_number() OVER (PARTITION BY user_id
                               ORDER BY value DESC, event_id) AS rn
          FROM events)
    WHERE rn <= 3
    """,
)
def q_stream_tws_topk(spark, sf_dir):
    """Per-user streaming TOP-K through TransformWithState LIST state
    (stateful.tws_topk) — the state shape TWS adds over the old API:
    an appendable typed collection per key, bounded at k rows by
    construction so no key's state grows with its event volume. Each
    batch merges incoming (value, event_id) pairs into the retained
    list (value DESC, event_id ASC — deterministic) and emits the
    ranked rows; a single availableNow batch makes the update-mode
    emission equal the batch window top-k, which the oracle
    hash-checks. Same gate as q_stream_stateful_tws: vendored-protobuf
    sessions run the real TWS/RocksDB path, foreign sessions degrade
    to the applyInPandasWithState twin with ARRAY-typed packed state
    (identical emission contract)."""
    from hcls_data_lake_spark.compat.protobuf_vendor import (
        workers_have_protobuf,
    )
    from hcls_data_lake_spark.streaming.stateful import (
        pandas_state_topk,
        tws_topk,
    )

    use_tws = workers_have_protobuf(spark)
    stateful = tws_topk if use_tws else pandas_state_topk
    sdf = read_events_stream(spark, sf_dir).select(
        "user_id", "value", "event_id"
    )
    with conf_scope(spark, ROCKSDB_STATE if use_tws else {}):
        return run_to_memory(
            stateful(sdf),
            output_mode="update",
            shuffle_partitions=8,
            no_data_batches=False,
        )


@register(
    "q_stream_tws_timers",
    """
    WITH e AS (
      SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events
    ), flagged AS (
      SELECT user_id, us,
             CASE WHEN us - lag(us) OVER (PARTITION BY user_id ORDER BY us)
                       > 1800000000 THEN 1 ELSE 0 END AS brk
      FROM e
    ), sess AS (
      SELECT user_id, us,
             SUM(brk) OVER (PARTITION BY user_id ORDER BY us
                            ROWS UNBOUNDED PRECEDING) AS sid
      FROM flagged
    ), agg AS (
      SELECT user_id, sid, min(us) AS start_us, max(us) AS end_us,
             CAST(count(*) AS BIGINT) AS n_events
      FROM sess GROUP BY user_id, sid
    ), wm AS (
      SELECT max(us) // 1000 AS wm_ms FROM e
    ), marked AS (
      SELECT a.*,
             sid = max(sid) OVER (PARTITION BY user_id) AS is_trail,
             ((end_us + 1800000000 + 59999999) // 60000000) * 60000
               AS expiry_ms
      FROM agg a
    )
    SELECT user_id, start_us, end_us, n_events,
           CASE WHEN NOT is_trail THEN 'gap' ELSE 'timer' END AS closed_by
    FROM marked, wm
    WHERE (NOT is_trail) OR expiry_ms <= wm_ms
    """,
)
def q_stream_tws_timers(spark, sf_dir):
    """Inactivity-closed sessionization via EVENT-TIME TIMERS — the TWS
    surface the other stateful queries don't touch (timeMode
    "EventTime", registerTimer/deleteTimer, handleExpiredTimer):
    sessions whose 30-min closing gap is visible in the data emit
    inline ('gap'); each key's trailing open session arms a timer at
    end+gap aligned up to the next minute, and the trailing no-data
    batch fires every timer AT or below the final watermark
    ('timer'). Sessions still open at shutdown are never emitted —
    exactly a live pipeline's behavior, and the oracle reproduces it
    declaratively: gap-sessionize, then admit trailing sessions only
    where the minute-aligned expiry <= the global watermark. All
    boundary arithmetic is exact BIGINT micros/millis on a minute
    grid, so the firing set is engine-independent (TWS fires at
    expiry == watermark — inclusive — while the old API's
    EventTimeTimeout needs the watermark STRICTLY beyond; both pinned
    by tests/test_streaming.py::test_tws_timer_boundary). Gate as the
    other TWS queries: foreign sessions without worker protobuf run
    the applyInPandasWithState EventTimeTimeout twin, armed at
    expiry-1 ms so its strict boundary lands on the same firing set.

    ORACLE SINGLE-DATA-BATCH ASSUMPTION: the closed_by labels hold
    because the fixture landing dir is ONE file, so the run is one
    data batch plus the trailing no-data batch — every non-trailing
    session's closing gap is visible IN-BATCH and emits 'gap'. Under a
    multi-file/multi-batch source a non-trailing session can instead
    be closed by a MID-STREAM timer (the watermark passes its expiry
    before the user's next event arrives in a later batch), emitting
    'timer' where this oracle says 'gap' — the session SET and bounds
    are batch-invariant, only the label attribution shifts. If the
    events fixture ever becomes multi-file, drop closed_by from the
    oracle (or make it batch-boundary-aware) rather than chasing a
    spurious hash mismatch."""
    from hcls_data_lake_spark.compat.protobuf_vendor import (
        workers_have_protobuf,
    )
    from hcls_data_lake_spark.streaming.stateful import (
        pandas_state_session_close,
        tws_session_close,
    )

    use_tws = workers_have_protobuf(spark)
    stateful = tws_session_close if use_tws else pandas_state_session_close
    sdf = (
        read_events_stream(spark, sf_dir)
        .select("user_id", "ts")
        .withWatermark("ts", "0 seconds")
    )
    with conf_scope(spark, ROCKSDB_STATE if use_tws else {}):
        # timers fire on the watermark-advancing no-data batch: KEEP it
        return run_to_memory(
            stateful(sdf),
            output_mode="append",
            shuffle_partitions=8,
            no_data_batches=True,
        )


@register(
    "q_stream_tws_mapstate",
    """
    SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n
    FROM events GROUP BY user_id, event_type
    """,
)
def q_stream_tws_mapstate(spark, sf_dir):
    """Per-user per-event-type running counts on TWS MAP state
    (stateful.tws_type_counts) — completes the typed-state triad
    (value / list / map), each its own state-server protocol surface.
    Map state is the per-key dictionary whose entries update
    independently: a key's state grows with its DISTINCT map keys
    (the bounded event-type vocabulary), never its event volume, and
    updating a hot user touches one entry instead of repacking a
    blob (which is exactly what the old-API twin must do — the
    contrast is the point). One availableNow batch makes the
    update-mode emission equal the batch (user, type) counts, which
    the oracle hash-checks. Same gate as the other TWS queries."""
    from hcls_data_lake_spark.compat.protobuf_vendor import (
        workers_have_protobuf,
    )
    from hcls_data_lake_spark.streaming.stateful import (
        pandas_state_type_counts,
        tws_type_counts,
    )

    use_tws = workers_have_protobuf(spark)
    stateful = tws_type_counts if use_tws else pandas_state_type_counts
    sdf = read_events_stream(spark, sf_dir).select("user_id", "event_type")
    with conf_scope(spark, ROCKSDB_STATE if use_tws else {}):
        return run_to_memory(
            stateful(sdf),
            output_mode="update",
            shuffle_partitions=8,
            no_data_batches=False,
        )


@register(
    "q_stream_tws_state_reader",
    """
    WITH e AS (
      SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events
    ), flagged AS (
      SELECT user_id, us,
             CASE WHEN us - lag(us) OVER (PARTITION BY user_id ORDER BY us)
                       > 1800000000 THEN 1 ELSE 0 END AS brk
      FROM e
    ), sess AS (
      SELECT user_id, us,
             SUM(brk) OVER (PARTITION BY user_id ORDER BY us
                            ROWS UNBOUNDED PRECEDING) AS sid
      FROM flagged
    ), agg AS (
      SELECT user_id, sid, min(us) AS start_us, max(us) AS end_us,
             CAST(count(*) AS BIGINT) AS n
      FROM sess GROUP BY user_id, sid
    ), wm AS (
      SELECT max(us) // 1000 AS wm_ms FROM e
    ), marked AS (
      SELECT a.*,
             sid = max(sid) OVER (PARTITION BY user_id) AS is_trail,
             ((end_us + 1800000000 + 59999999) // 60000000) * 60000
               AS expiry_ms
      FROM agg a
    )
    SELECT user_id, start_us, end_us, n, expiry_ms
    FROM marked, wm
    WHERE is_trail AND expiry_ms > wm_ms
    """,
)
def q_stream_tws_state_reader(spark, sf_dir):
    """TWS CUSTOM STATE AS A TABLE: after the event-time-timer session
    closer completes, its checkpointed `trail` ValueState is read back
    through the statestore source with option stateVarName — the
    Spark-4 debugging surface for TYPED TransformWithState state
    (q_stream_state_inspect covers the built-in aggregation's state;
    this covers the named-state-variable path, which is what a 100 TB
    operator actually carries: "which sessions does the stream still
    hold open, and when will each close?"). The declarative truth is
    exact: state after shutdown == the trailing session per user whose
    minute-aligned expiry is still ABOVE the final watermark (every
    other session was emitted and cleared), and the oracle computes
    precisely that relation — so the check pins Spark's state
    ENCODING round trip, the timer-driven clears, and the reader's
    flattening in one hash. Foreign sessions without worker protobuf
    degrade to the applyInPandasWithState twin and read ITS state
    (same 4-field tuple, nested under value.groupState; its visible
    timeoutTimestamp rides at expiry-1 — the documented strict-vs-
    inclusive boundary alignment)."""
    import shutil
    import uuid as _uuid

    from hcls_data_lake_spark.compat.protobuf_vendor import (
        workers_have_protobuf,
    )
    from hcls_data_lake_spark.queries.common import scratch_for
    from hcls_data_lake_spark.streaming.stateful import (
        pandas_state_session_close,
        tws_session_close,
    )

    use_tws = workers_have_protobuf(spark)
    stateful = tws_session_close if use_tws else pandas_state_session_close
    ckpt = scratch_for(sf_dir, "tws_state_reader_ckpt")
    shutil.rmtree(ckpt, ignore_errors=True)
    sdf = (
        read_events_stream(spark, sf_dir)
        .select("user_id", "ts")
        .withWatermark("ts", "0 seconds")
    )
    # 8 state stores like its run_to_memory siblings (200 in a bare session)
    confs = ROCKSDB_STATE if use_tws else {}
    with conf_scope(spark, {**confs, "spark.sql.shuffle.partitions": "8"}):
        q = (
            stateful(sdf)
            .writeStream.format("memory")
            .queryName(f"tws_sr_{_uuid.uuid4().hex[:8]}")
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        # awaitTermination(timeout) returns False on timeout with the
        # query STILL RUNNING — reading the checkpoint of a live query
        # would silently return partial state, so fail loudly instead
        if not q.awaitTermination(300):
            q.stop()
            raise TimeoutError(
                "tws state-reader stream did not finish within 300s; "
                "checkpoint state would be partial"
            )
    reader = spark.read.format("statestore")
    if use_tws:
        reader = reader.option("stateVarName", "trail")
        vals = "value"
    else:
        vals = "value.groupState"
    state = reader.load(ckpt)
    return state.select(
        F.col("key.user_id").alias("user_id"),
        F.col(f"{vals}.start_us").alias("start_us"),
        F.col(f"{vals}.end_us").alias("end_us"),
        F.col(f"{vals}.n").alias("n"),
        F.col(f"{vals}.expiry_ms").alias("expiry_ms"),
    )


@register(
    "q_stream_foreachbatch_route",
    """
    SELECT CASE WHEN event_type = 'error' THEN 'error'
                ELSE 'staging' END AS zone,
           CAST(count(*) AS BIGINT) AS n_rows,
           ROUND(SUM(value), 2) AS sum_value
    FROM events
    GROUP BY 1
    """,
)
def q_stream_foreachbatch_route(spark, sf_dir):
    """foreachBatch multi-sink routing (A8/A15): every micro-batch is
    split by zone predicate and appended to per-zone parquet sinks; the
    result re-reads the zones and aggregates them."""
    out_root = scratch_for(sf_dir, "route")
    shutil.rmtree(out_root, ignore_errors=True)
    sdf = read_events_stream(spark, sf_dir).select(
        "event_id", "event_type", "value"
    )

    def route(batch_df, batch_id):
        err = batch_df.filter(F.col("event_type") == "error")
        ok = batch_df.filter(F.col("event_type") != "error")
        err.write.mode("append").parquet(f"{out_root}/error")
        ok.write.mode("append").parquet(f"{out_root}/staging")

    run_foreach_batch(sdf, route)
    err = spark.read.parquet(f"{out_root}/error").withColumn("zone", F.lit("error"))
    ok = spark.read.parquet(f"{out_root}/staging").withColumn("zone", F.lit("staging"))
    return (
        err.unionByName(ok)
        .groupBy("zone")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )


@register(
    "q_stream_stream_join",
    """
    SELECT s.event_id AS signup_id, c.event_id AS click_id, s.user_id
    FROM events s
    JOIN events c
      ON s.user_id = c.user_id
     AND c.ts BETWEEN s.ts AND s.ts + INTERVAL 30 MINUTE
    WHERE s.event_type = 'signup' AND c.event_type = 'click'
    """,
)
def q_stream_stream_join(spark, sf_dir):
    """Watermarked stream-stream inner join (the attribution join of
    q_join_range_interval as TWO live streams): both sides carry
    watermarks and the join condition time-bounds the match window, so
    each side's buffered state is evicted once the other side's
    watermark passes — bounded state on unbounded streams. A single
    availableNow pass over in-order data equals the batch join, which
    the oracle checks exactly.

    Both sides derive from ONE stream source (a self-join), not two
    independent readStream instances over the same files: one source
    means one offset log, one getBatch, and half the per-batch
    source-tracking and planning work — measurably faster here and the
    honest shape for a production topic consumed once."""
    src = read_events_stream(spark, sf_dir)
    signups = (
        src.filter(F.col("event_type") == "signup")
        .select(
            F.col("event_id").alias("signup_id"),
            F.col("user_id"),
            F.col("ts").alias("s_ts"),
        )
        .withWatermark("s_ts", "1 hour")
    )
    clicks = (
        src.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user_id"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "1 hour")
    )
    joined = signups.join(
        clicks,
        (F.col("user_id") == F.col("c_user_id"))
        & (F.col("c_ts") >= F.col("s_ts"))
        & (F.col("c_ts") <= F.col("s_ts") + F.expr("INTERVAL 30 MINUTE")),
    ).select("signup_id", "click_id", "user_id")
    # Both sides keep keyed state and pay a per-partition state-store
    # commit every micro-batch; the buffered state here is tiny, so a
    # handful of partitions beats the session's 32 ~4x on wall time
    # (state sized to volume, not to the session shuffle default). The
    # trailing no-data batch is skipped: an INNER stream-stream join
    # emits matches eagerly, so that batch would only evict state this
    # finite run discards anyway.
    return run_to_memory(
        joined,
        output_mode="append",
        shuffle_partitions=4,
        no_data_batches=False,
    )


@register(
    "q_stream_static_join",
    """
    SELECT e.event_type,
           c.c_mktsegment AS segment,
           CAST(count(*) AS BIGINT) AS n_events,
           ROUND(SUM(e.value), 2) AS sum_value
    FROM events e
    JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY e.event_type, c.c_mktsegment
    """,
)
def q_stream_static_join(spark, sf_dir):
    """Stream-static join: the live event stream enriched against a
    static dimension (the catalog/registry lookup of A5/A19 as a
    stream). The static side is broadcast per micro-batch — no
    streaming state at all for the join (unlike stream-stream), so
    this is the preferred shape whenever one side is a slowly-changing
    table."""
    from hcls_data_lake_spark.queries.common import t as t_

    sdf = read_events_stream(spark, sf_dir)
    dim = F.broadcast(
        t_(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    )
    joined = (
        sdf.join(dim, sdf.user_id == dim.c_custkey)
        .groupBy("event_type", F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )
    return run_to_memory(joined, output_mode="complete", shuffle_partitions=8)


@register(
    "q_stream_pysource_typed",
    """
    SELECT i AS msg_id,
           CASE WHEN i % 3 = 0 THEN 'ORU' ELSE 'ADT' END AS message_type,
           CASE WHEN i % 3 = 0 THEN 'R01' ELSE 'A01' END AS trigger_event,
           '20240101' || lpad(CAST(i % 24 AS VARCHAR), 2, '0') || '0000'
               AS msg_ts_raw,
           '2.6' AS hl7_version,
           'PID' || lpad(CAST(i AS VARCHAR), 6, '0') AS patient_id,
           'PATIENT' AS family_name,
           'TEST' AS given_name
    FROM range(0, 1200) t(i)
    """,
)
def q_stream_pysource_typed(spark, sf_dir):
    """Streaming read from the er7gen Python Data Source piped straight
    into the typed ADT projection (hl7.er7.typed_adt) — the reference's
    gateway-to-staging path as ONE streaming query: custom source
    offsets in, codegen split expressions out, no file landing zone in
    between. batchSize covers the id space so the availableNow run
    drains in one offset step; chunked multi-batch replay is pinned in
    test_streaming.py. Deterministic payloads give the full typed
    projection an exact range() oracle."""
    from hcls_data_lake_spark.hl7.er7 import typed_adt
    from hcls_data_lake_spark.sources.er7_source import register_er7_source

    register_er7_source(spark)
    sdf = (
        spark.readStream.format("er7gen")
        .option("n", 1200)
        .option("batchSize", 1200)
        .load()
    )
    # the source's own envelope columns (patient_id, msg_type) would
    # collide with the typed projection's aliases — carry only the id
    # and the raw payload across the parse boundary
    typed = typed_adt(sdf.select("msg_id", "er7")).select(
        "msg_id",
        "message_type",
        "trigger_event",
        "msg_ts_raw",
        "hl7_version",
        "patient_id",
        "family_name",
        "given_name",
    )
    # stateless projection: nothing waits on the watermark
    return run_to_memory(
        typed, output_mode="append", shuffle_partitions=4, no_data_batches=False
    )


@register(
    "q_stream_complete_topk",
    """
    SELECT user_id, CAST(count(*) AS BIGINT) AS n_events
    FROM events
    GROUP BY user_id
    ORDER BY n_events DESC, user_id
    LIMIT 5
    """,
)
def q_stream_complete_topk(spark, sf_dir):
    """Complete-output-mode streaming top-k: sorting a streaming result
    is only legal when every trigger re-emits the FULL aggregate state
    (complete mode) — the live leaderboard shape (top senders per zone,
    §2.B sorts family, as a stream). State is the per-user aggregate,
    bounded by |users|; the sort runs on that state, never on the
    input. Deterministic tie-break on user_id makes the top-5 cut
    oracle-checkable."""
    sdf = read_events_stream(spark, sf_dir)
    agg = sdf.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_events"))
    top = agg.orderBy(F.col("n_events").desc(), F.col("user_id")).limit(5)
    return run_to_memory(top, output_mode="complete", shuffle_partitions=8)


@register(
    "q_stream_outer_join",
    """
    WITH cutoff AS (
      SELECT min(mx) - INTERVAL 91 MINUTE AS lim
      FROM (SELECT max(ts) AS mx FROM events
            WHERE event_type IN ('signup', 'click')
            GROUP BY event_type)
    )
    SELECT s.event_id AS signup_id, c.event_id AS click_id, s.user_id
    FROM events s
    LEFT JOIN events c
      ON s.user_id = c.user_id
     AND c.event_type = 'click'
     AND c.ts BETWEEN s.ts AND s.ts + INTERVAL 30 MINUTE
    WHERE s.event_type = 'signup' AND s.ts <= (SELECT lim FROM cutoff)
    """,
)
def q_stream_outer_join(spark, sf_dir):
    """LEFT OUTER stream-stream join: signups that never attracted a
    click within 30 minutes surface as null-extended rows — emitted
    only once the click-side WATERMARK proves no match can still
    arrive (the capability an inner join doesn't exercise: state
    eviction doubles as negative-result emission, so the trailing
    no-data batch is load-bearing here).

    A finite run only proves absence inside the watermark-closed
    region, so both engines trim to a cutoff that is DERIVED FROM the
    watermark the run actually achieves, not assumed from the stream's
    end. Each leg's watermark node sits below the event_type filter
    (Catalyst pushes the deterministic filter through EventTimeWatermark
    even when written upstream of it), so a leg's max event time is its
    own subtype's last event and the achieved global watermark is
    exactly ``min(max signup ts, max click ts) - 1 h`` — a formula both
    engines can compute. Round 2 hard-coded ``max(ts) - 2 h``, which at
    sf0.001 (last signup trails the stream's end by ~4.7 h) lies ABOVE
    the achieved watermark and silently swallowed the tail of no-click
    signups; sf0.01's denser tail masked it.

    The cutoff subtracts watermark delay (1 h) + join window (30 min)
    + 1 min safety: Spark's EventTimeStats tracks max event time at
    millisecond precision, so the achieved watermark can sit up to
    1 ms below the microsecond-exact formula, and state eviction is a
    strict comparison — the margin makes both engines agree
    independent of those boundary details. Every signup at or before
    the cutoff is then provably evicted (null-emitted) before
    termination: s_ts + 30 min <= wm - 1 min < wm. The cutoff is
    applied DOWNSTREAM of the join so the full legs drive their
    watermarks; pre-filtering the signup leg would freeze its watermark
    at the cutoff and strand the cutoff-adjacent tail in state."""
    lim = (
        events(spark, sf_dir)
        .filter(F.col("event_type").isin("signup", "click"))
        .groupBy("event_type")
        .agg(F.max("ts").alias("mx"))
        .agg((F.min("mx") - F.expr("INTERVAL 91 MINUTE")).alias("lim"))
        .collect()[0]["lim"]
    )
    # one shared stream source for both legs (see q_stream_stream_join)
    src = read_events_stream(spark, sf_dir)
    signups = (
        src.filter(F.col("event_type") == "signup")
        .select(
            F.col("event_id").alias("signup_id"),
            F.col("user_id"),
            F.col("ts").alias("s_ts"),
        )
        .withWatermark("s_ts", "1 hour")
    )
    clicks = (
        src.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user_id"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "1 hour")
    )
    joined = signups.join(
        clicks,
        (F.col("user_id") == F.col("c_user_id"))
        & (F.col("c_ts") >= F.col("s_ts"))
        & (F.col("c_ts") <= F.col("s_ts") + F.expr("INTERVAL 30 MINUTE")),
        "left_outer",
    ).filter(F.col("s_ts") <= F.lit(lim)).select(
        "signup_id", "click_id", "user_id"
    )
    return run_to_memory(joined, output_mode="append", shuffle_partitions=4)


@register(
    "q_stream_dedup_within_watermark",
    """
    WITH lim AS (
      SELECT ((epoch_us(max(ts)) // 1000000 // 3600) * 3600) - 7200 - 1800
               AS cutoff_sec
      FROM events
    ), keys AS (
      SELECT DISTINCT user_id, event_type,
             (epoch_us(ts) // 3600000000) * 3600 AS hour_sec
      FROM events
    )
    SELECT hour_sec AS win_start_sec,
           CAST(count(*) AS BIGINT) AS n_distinct_keys
    FROM keys
    WHERE hour_sec + 3600 <= (SELECT cutoff_sec FROM lim)
    GROUP BY hour_sec
    """,
)
def q_stream_dedup_within_watermark(spark, sf_dir):
    """CHAINED stateful streaming: dropDuplicatesWithinWatermark →
    windowed aggregation, two state stores in one query.

    dropDuplicatesWithinWatermark is the state-BOUNDED dedup — unlike
    plain dropDuplicates (q_stream_dedup_state), whose key state lives
    forever, state here is evicted once the watermark passes first-seen
    + delay, so an unbounded stream runs in bounded memory: the
    production A5 gate for streams. The guarantee is conditional —
    duplicates are dropped only if they arrive within the delay of the
    first copy — so determinism is ENGINEERED: the dedup key includes
    the event's hour-aligned timestamp, bounding intra-key event-time
    spread to 0 (all copies share the bucket) with a 2 h delay, which
    upgrades the conditional guarantee to exact DISTINCT semantics an
    oracle can check. The watermark rides the hour-aligned column
    itself so the downstream hour-window aggregation (which must group
    a watermarked event-time column to run in append mode) shares it;
    the kept row's sub-hour position cannot move its bucket. Both
    engines trim to provably-closed windows: achieved watermark =
    floor_hour(max ts) - 2 h, cutoff offset a further 30 min so
    hour-aligned window ends can never tie the eviction boundary
    (strict-vs-non-strict comparison becomes irrelevant). All cutoff
    arithmetic is integer epoch math — no naive-datetime/session-tz
    hazards."""
    cutoff_sec = (
        events(spark, sf_dir)
        .agg(
            F.expr(
                "max(ts_ns) div 1000000000 div 3600 * 3600 - 7200 - 1800"
            ).alias("cutoff_sec")
        )
        .collect()[0]["cutoff_sec"]
    )
    sdf = read_events_stream(spark, sf_dir)
    keyed = sdf.select(
        "user_id",
        "event_type",
        F.timestamp_micros(
            (F.unix_micros("ts") / 3_600_000_000).cast("bigint")
            * 3_600_000_000
        ).alias("hour_ts"),
    )
    deduped = keyed.withWatermark(
        "hour_ts", "2 hours"
    ).dropDuplicatesWithinWatermark(["user_id", "event_type", "hour_ts"])
    agg = (
        deduped.groupBy(F.window("hour_ts", "1 hour"))
        .agg(F.count(F.lit(1)).alias("n_distinct_keys"))
        .select(
            (F.unix_micros(F.col("window.start")) / 1_000_000)
            .cast("bigint")
            .alias("win_start_sec"),
            "n_distinct_keys",
        )
        .filter(F.col("win_start_sec") + 3600 <= F.lit(cutoff_sec))
    )
    return run_to_memory(agg, output_mode="append", shuffle_partitions=8)


@register(
    "q_stream_session_dynamic",
    """
    WITH e AS (
      SELECT user_id, epoch_us(ts) AS ep,
             CASE WHEN event_type = 'purchase' THEN 120000000
                  ELSE 300000000 END AS gap
      FROM events
    ), marked AS (
      SELECT user_id, ep, gap,
             CASE WHEN MAX(ep + gap) OVER w IS NULL
                    OR ep >= MAX(ep + gap) OVER w
                  THEN 1 ELSE 0 END AS new_sess
      FROM e
      WINDOW w AS (PARTITION BY user_id ORDER BY ep
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    ), sess AS (
      SELECT user_id, ep, gap,
             SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ep
                                 ROWS UNBOUNDED PRECEDING) AS sess_id
      FROM marked
    )
    SELECT user_id,
           MIN(ep) // 1000000 AS session_start_sec,
           MAX(ep + gap) // 1000000 AS session_end_sec,
           CAST(count(*) AS BIGINT) AS n_events
    FROM sess
    GROUP BY user_id, sess_id
    """,
)
def q_stream_session_dynamic(spark, sf_dir):
    """DYNAMIC-gap session windows: the gap is a per-event EXPRESSION
    (purchases close a session after 2 min, everything else 5 min) —
    the capability fixed-gap sessions (q_stream_session) can't
    express: activity-dependent session boundaries, e.g. a checkout
    ends engagement faster than browsing. Spark merges an event into
    the session while its time is strictly inside the current
    [start, max(ts+gap)) — the oracle mirrors exactly that half-open
    rule with a running max over preceding (ts + gap), so boundary
    events agree between engines. State is per-session and evicted at
    close in complete mode over a finite run."""
    sdf = read_events_stream(spark, sf_dir)
    gap = F.when(
        F.col("event_type") == "purchase", F.lit("2 minutes")
    ).otherwise(F.lit("5 minutes"))
    agg = (
        sdf.groupBy(F.session_window("ts", gap), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            (F.unix_micros(F.col("session_window.start")) / 1_000_000)
            .cast("bigint")
            .alias("session_start_sec"),
            (F.unix_micros(F.col("session_window.end")) / 1_000_000)
            .cast("bigint")
            .alias("session_end_sec"),
            "n_events",
        )
    )
    return run_to_memory(agg, output_mode="complete", shuffle_partitions=8)


@register(
    "q_stream_countmin",
    """
    WITH tok AS MATERIALIZED (
      SELECT CAST(user_id AS VARCHAR) AS item FROM events
    ), rws AS (SELECT CAST(unnest(range(4)) AS INT) AS r),
    cells AS MATERIALIZED (
      SELECT r,
             (strpos('0123456789abcdef',
                     substr(md5(CAST(r AS VARCHAR) || ':' || item), 1, 1))
              - 1) * 16
             + strpos('0123456789abcdef',
                      substr(md5(CAST(r AS VARCHAR) || ':' || item), 2, 1))
             - 1 AS bucket,
             CAST(count(*) AS BIGINT) AS cnt
      FROM tok, rws GROUP BY 1, 2
    ), q AS MATERIALIZED (
      SELECT DISTINCT CAST(user_id AS VARCHAR) AS item
      FROM events WHERE user_id < 40
    ), est AS (
      SELECT q.item, MIN(COALESCE(c.cnt, 0)) AS est
      FROM q CROSS JOIN rws r
      LEFT JOIN cells c ON c.r = r.r AND c.bucket =
        (strpos('0123456789abcdef',
                substr(md5(CAST(r.r AS VARCHAR) || ':' || q.item), 1, 1))
         - 1) * 16
        + strpos('0123456789abcdef',
                 substr(md5(CAST(r.r AS VARCHAR) || ':' || q.item), 2, 1))
        - 1
      GROUP BY q.item
    ), exact AS (
      SELECT CAST(user_id AS VARCHAR) AS item, CAST(count(*) AS BIGINT)
               AS exact_n
      FROM events WHERE user_id < 40 GROUP BY 1
    )
    SELECT e.item, e.est, x.exact_n FROM est e JOIN exact x USING (item)
    """,
)
def q_stream_countmin(spark, sf_dir):
    """Count-min sketch maintained INCREMENTALLY over a stream — the
    mergeability deployment of q_sketch_countmin: each micro-batch
    builds its own 4×256 cell table (operators/sketches.countmin_cells
    — partial aggregation collapses the batch before anything moves)
    and appends it to a cell store; the finished sketch is the
    per-(row, bucket) SUM of every batch's cells. Because CMS cells
    are plain counts, merge is exact — the streamed sketch is
    byte-identical to the one-shot batch sketch, so the BATCH DuckDB
    oracle hash-checks a STREAMING computation end to end (the same
    trick the windowed-agg streams use, applied to a sketch). Per-batch
    state is sketch-sized (≤1024 rows appended per micro-batch,
    independent of batch row count) — the bounded-memory frequency
    monitor for an unbounded 100 TB/day stream. Estimates probe the
    merged cells for every distinct user below 40, with exact counts
    joined for the verification leg.

    Retry safety: foreachBatch is at-least-once, and CMS merge is a
    SUM — a blindly-appended retried micro-batch would double-count
    (unlike the HLL twin, whose max-merge is naturally idempotent).
    Each batch therefore OVERWRITES its own batch_id-keyed partition
    directory, so a replayed batch replaces rather than duplicates its
    cells and the 'byte-identical to the batch sketch' claim holds
    under retries, not just in a clean single run."""
    out_root = scratch_for(sf_dir, "cms_cells")
    shutil.rmtree(out_root, ignore_errors=True)
    from hcls_data_lake_spark.operators.sketches import (
        countmin_cells,
        countmin_estimate,
    )

    sdf = read_events_stream(spark, sf_dir).select(
        F.col("user_id").cast("string").alias("item")
    )

    def build_cells(batch_df, batch_id):
        countmin_cells(batch_df, "item", depth=4).write.mode(
            "overwrite"
        ).parquet(f"{out_root}/batch_id={batch_id}")

    run_foreach_batch(sdf, build_cells)
    merged = (
        spark.read.option("basePath", out_root).parquet(out_root)
        .groupBy("r", "bucket")
        .agg(F.sum("cnt").cast("bigint").alias("cnt"))
    )
    ev = events(spark, sf_dir).filter(F.col("user_id") < 40)
    qset = ev.select(F.col("user_id").cast("string").alias("item")).distinct()
    est = countmin_estimate(merged, qset, "item", depth=4)
    exact = (
        ev.select(F.col("user_id").cast("string").alias("item"))
        .groupBy("item")
        .agg(F.count(F.lit(1)).cast("bigint").alias("exact_n"))
    )
    return est.join(exact, "item")


@register(
    "q_stream_hll",
    """
    WITH it AS MATERIALIZED (
      SELECT event_type AS grp, md5(CAST(user_id AS VARCHAR)) AS h
      FROM events
    ), rho AS (
      SELECT grp,
             strpos('0123456789abcdef', substr(h, 1, 1)) - 1 AS hi,
             strpos('0123456789abcdef', substr(h, 2, 1)) - 1 AS lo,
             substr(h, 3, 30) AS rest
      FROM it
    ), scored AS (
      SELECT grp, hi * 16 + lo AS bucket,
             CASE WHEN length(regexp_extract(rest, '^0*')) = 30 THEN 121
                  ELSE 4 * length(regexp_extract(rest, '^0*'))
                       + CASE WHEN v >= 8 THEN 0 WHEN v >= 4 THEN 1
                              WHEN v >= 2 THEN 2 ELSE 3 END + 1
             END AS rho
      FROM (SELECT grp, hi, lo, rest,
                   strpos('0123456789abcdef',
                          substr(rest,
                                 length(regexp_extract(rest, '^0*')) + 1,
                                 1)) - 1 AS v
            FROM rho)
    ), regs AS (
      SELECT grp, bucket, CAST(MAX(rho) AS INT) AS reg
      FROM scored GROUP BY grp, bucket
    )
    SELECT grp, CAST(count(*) AS BIGINT) AS n_hit,
           CAST(SUM(reg) AS BIGINT) AS sum_reg,
           ROUND(0.7213 / (1 + 1.079 / 256) * 65536 /
                 (list_reduce(list(CAST(pow(2.0, -reg) AS DOUBLE)
                                   ORDER BY bucket), (a, b) -> a + b)
                  + (256 - count(*))), 4) AS est
    FROM regs GROUP BY grp
    """,
)
def q_stream_hll(spark, sf_dir):
    """HyperLogLog maintained INCREMENTALLY over a stream — distinct
    users per event type with bounded state: each micro-batch builds
    its own register table (queries/llm._hll_regs — ≤ m rows per group
    regardless of batch size) and appends it to a register store; the
    finished sketch is the per-(grp, bucket) MAX. Register max-merge
    is exact (q_sketch_hll_merge pins the associativity), so the
    streamed sketch — registers, estimate and all — is byte-identical
    to the one-shot batch sketch and the batch DuckDB oracle
    hash-checks the streaming run end to end. This is the streaming
    COUNT DISTINCT that never keeps per-user state: the 100 TB/day
    cardinality monitor in O(groups · m) memory."""
    from hcls_data_lake_spark.queries.llm import _hll_regs, _hll_summary

    out_root = scratch_for(sf_dir, "hll_regs")
    shutil.rmtree(out_root, ignore_errors=True)
    sdf = read_events_stream(spark, sf_dir).select(
        F.col("event_type").alias("grp"),
        F.md5(F.col("user_id").cast("string").cast("binary")).alias("h"),
    )

    def build_regs(batch_df, batch_id):
        _hll_regs(batch_df).write.mode("append").parquet(out_root)

    run_foreach_batch(sdf, build_regs)
    merged = (
        spark.read.parquet(out_root)
        .groupBy("grp", "bucket")
        .agg(F.max("reg").cast("int").alias("reg"))
    )
    return _hll_summary(merged)


@register(
    "q_stream_minhash",
    """
    WITH it AS (
      SELECT event_type AS grp, CAST(user_id AS VARCHAR) AS uid
      FROM events
    ), perms AS (
      SELECT unnest(range(0, 16)) AS r
    )
    SELECT grp, CAST(r AS INT) AS r,
           MIN(md5(CAST(r AS VARCHAR) || ':' || uid)) AS minh
    FROM it CROSS JOIN perms
    GROUP BY grp, r
    """,
)
def q_stream_minhash(spark, sf_dir):
    """MinHash signatures maintained INCREMENTALLY over a stream — the
    MIN-merge member that completes the mergeable-sketch triad
    (count-min = SUM-merge, HLL = MAX-merge, MinHash = MIN-merge):
    per event type, a 16-permutation signature of the USER SET, where
    sig[r] = min over users of md5(r:user). Each micro-batch reduces
    to its own ≤ groups×16-row partial signature and appends it to a
    signature store; the finished sketch is the per-(grp, r) MIN of
    every batch's partials. Min is idempotent AND associative, so the
    append-only store is retry-safe without the count-min batch_id
    discipline (a replayed batch re-contributes the same minima), and
    the streamed signature is byte-identical to the one-shot batch
    sketch — the batch DuckDB oracle hash-checks the streaming run end
    to end. Downstream, signatures from disjoint shards/windows merge
    by the same MIN, giving streaming set-resemblance (estimated
    Jaccard between any two groups = matching positions/16) in
    O(groups × 16) state — no per-user state ever exists."""
    out_root = scratch_for(sf_dir, "minhash_sigs")
    shutil.rmtree(out_root, ignore_errors=True)
    sdf = read_events_stream(spark, sf_dir).select(
        F.col("event_type").alias("grp"),
        F.col("user_id").cast("string").alias("uid"),
    )

    def build_sigs(batch_df, batch_id):
        (
            # Dedup (grp, uid) BEFORE the 16-way explode: sig[r] is a
            # min over the user SET, so repeated events contribute
            # nothing — hashing each distinct pair once cuts the md5
            # work by the batch's duplication factor (13x on the
            # events fixture) and the explode feeds 16x|set| rows
            # instead of 16x|batch|. Same minima, same oracle hash.
            batch_df.distinct()
            .select(
                "grp",
                F.explode(F.sequence(F.lit(0), F.lit(15))).alias("r"),
                "uid",
            )
            .withColumn("r", F.col("r").cast("int"))
            .select(
                "grp",
                "r",
                F.md5(
                    F.concat(
                        F.col("r").cast("string"), F.lit(":"), F.col("uid")
                    ).cast("binary")
                ).alias("h"),
            )
            .groupBy("grp", "r")
            .agg(F.min("h").alias("minh"))
            .write.mode("append")
            .parquet(out_root)
        )

    run_foreach_batch(sdf, build_sigs)
    return (
        spark.read.parquet(out_root)
        .groupBy("grp", "r")
        .agg(F.min("minh").alias("minh"))
    )


@register(
    "q_stream_cdc_apply",
    """
    WITH ranked AS (
      SELECT user_id, event_type,
             CAST(round(value * 100) AS BIGINT) AS value_c,
             CAST(epoch_ns(ts) AS BIGINT) AS ts_ns,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY epoch_ns(ts) DESC,
                                         event_id DESC) AS rn
      FROM events
    )
    SELECT user_id, event_type AS last_type, value_c, ts_ns
    FROM ranked WHERE rn = 1 AND event_type <> 'error'
    """,
)
def q_stream_cdc_apply(spark, sf_dir):
    """Streaming CDC materialization: the event stream is a change
    feed keyed by user (every event upserts the user's current row;
    'error' events are tombstones that DELETE the key), folded into a
    keyed parquet state table by foreachBatch — per micro-batch,
    collapse the batch to last-writer-wins per key (ts, then event_id
    — a total order, so both engines agree), drop state rows whose key
    is touched, apply the surviving upserts, write the new state aside
    and swap (the read side is localCheckpoint-pinned BEFORE the
    overwrite so read-modify-write is safe on one dir). The finished
    state is byte-identical to the batch argmax the DuckDB oracle
    computes, which hash-checks the whole streaming replay. Per batch
    the cost is one key shuffle of |batch| + |touched state| rows —
    state never rewrites more than the touched keys' partitions in a
    partitioned deployment; this is Structured Streaming's
    foreachBatch MERGE INTO pattern for engines without a
    transactional sink."""
    out_root = scratch_for(sf_dir, "cdc_state")
    shutil.rmtree(out_root, ignore_errors=True)
    sdf = read_events_stream(spark, sf_dir).select(
        "user_id",
        "event_type",
        F.expr("cast(round(value * 100) as bigint)").alias("value_c"),
        "ts_ns",
        "event_id",
    )
    import os

    def apply_batch(batch_df, batch_id):
        s = batch_df.sparkSession
        w = Window.partitionBy("user_id").orderBy(
            F.col("ts_ns").desc(), F.col("event_id").desc()
        )
        latest = (
            batch_df.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .drop("rn")
        )
        if os.path.exists(os.path.join(out_root, "_SUCCESS")):
            # pin current state in executor storage BEFORE overwriting
            # the directory it was read from
            state = s.read.parquet(out_root).localCheckpoint(eager=True)
            untouched = state.join(
                latest.select("user_id"), "user_id", "left_anti"
            )
        else:
            untouched = None
        upserts = latest.filter(F.col("event_type") != "error").select(
            "user_id",
            F.col("event_type").alias("last_type"),
            "value_c",
            "ts_ns",
        )
        new_state = (
            upserts
            if untouched is None
            else untouched.unionByName(upserts)
        )
        new_state.write.mode("overwrite").parquet(out_root)

    run_foreach_batch(sdf, apply_batch)
    return spark.read.parquet(out_root)


@register(
    "q_stream_observe",
    """
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
             AS sum_value_c,
           CAST(min(epoch_ns(ts)) AS BIGINT) AS min_ts_ns,
           CAST(max(epoch_ns(ts)) AS BIGINT) AS max_ts_ns
    FROM events
    """,
)
def q_stream_observe(spark, sf_dir):
    """Streaming OBSERVED METRICS (df.observe + query progress): the
    zero-cost in-flight telemetry channel — metrics piggyback on the
    micro-batch's own aggregation, no second pass over the stream, no
    extra sink — that production pipelines use for row-count /
    checksum reconciliation against the source of truth. Each
    micro-batch reports (count, integer value checksum, ts extent)
    through its QueryProgress; the query then folds batch metrics
    into totals. The fold is BATCH-INVARIANT by construction (sums of
    per-batch sums, min of mins), so however availableNow splits the
    files, the totals equal the batch oracle — exactly the
    reconciliation invariant the pattern exists to check. Per-batch
    metric rows are bounded by batch count (driver-side by design:
    progress objects ARE driver telemetry). The no-data trailing
    batch reports count=0 / null sum and folds away harmlessly."""
    import json
    import shutil
    import uuid

    from hcls_data_lake_spark.queries.common import scratch_dir

    sdf = read_events_stream(spark, sf_dir)
    observed = sdf.observe(
        "recon",
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.expr("cast(round(value * 100) as bigint)")).alias(
            "sum_value_c"
        ),
        F.min("ts_ns").alias("min_ts_ns"),
        F.max("ts_ns").alias("max_ts_ns"),
    )
    checkpoint = scratch_dir("ckpt", f"observe_{uuid.uuid4().hex[:10]}")
    shutil.rmtree(checkpoint, ignore_errors=True)
    query = (
        observed.writeStream.format("noop")
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    batches = []
    for prog_json in (p for p in query.recentProgress):
        prog = (
            json.loads(prog_json.json)
            if hasattr(prog_json, "json")
            else prog_json
        )
        m = (prog.get("observedMetrics") or {}).get("recon")
        if m is not None:
            batches.append(m)
    rows = [
        (
            int(m["n_rows"]),
            m["sum_value_c"],
            m["min_ts_ns"],
            m["max_ts_ns"],
        )
        for m in batches
    ]
    if not rows:
        # loud beats silently-null totals: recentProgress retains ~100
        # progresses, so an availableNow run that reported nothing
        # means the observe channel itself broke
        raise RuntimeError("q_stream_observe: no observed metrics in"
                           " query progress")
    per_batch = spark.createDataFrame(
        rows,
        "n_rows bigint, sum_value_c bigint, min_ts_ns bigint,"
        " max_ts_ns bigint",
    )
    return per_batch.agg(
        F.sum("n_rows").cast("bigint").alias("n_rows"),
        F.sum("sum_value_c").cast("bigint").alias("sum_value_c"),
        F.min("min_ts_ns").cast("bigint").alias("min_ts_ns"),
        F.max("max_ts_ns").cast("bigint").alias("max_ts_ns"),
    )


@register(
    "q_stream_state_inspect",
    """
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
             AS sum_value_c
    FROM events GROUP BY event_type
    """,
)
def q_stream_state_inspect(spark, sf_dir):
    """STATE STORE AS A TABLE (the Spark-4 'statestore' reader): after
    a stateful streaming aggregation completes, its checkpointed
    per-key state is read back as a DataFrame — the operational
    debugging surface for 'what does the stream believe right now'
    (skewed keys, stuck sessions, state bloat) WITHOUT a side output
    or stopping the query. The inspected state of a completed
    complete-mode aggregation must equal the batch aggregation of
    the same input — which is exactly the check here: state rows
    (key, value struct) are hash-verified against the batch oracle,
    pinning not just the query result but Spark's state ENCODING
    round-trip. The state read is partition-parallel (one state file
    per shuffle partition); 4 state partitions sized to state
    volume, the q_stream_tumbling discipline."""
    import shutil
    import uuid

    from hcls_data_lake_spark.queries.common import scratch_dir

    sdf = read_events_stream(spark, sf_dir)
    agg = sdf.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.expr("cast(round(value * 100) as bigint)")).alias(
            "sum_value_c"
        ),
    )
    checkpoint = scratch_dir("ckpt", f"stinspect_{uuid.uuid4().hex[:10]}")
    shutil.rmtree(checkpoint, ignore_errors=True)
    with conf_scope(spark, {"spark.sql.shuffle.partitions": "4"}):
        query = (
            agg.writeStream.format("noop")
            .outputMode("complete")
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()
    state = spark.read.format("statestore").load(checkpoint)
    # value-struct field order follows the agg column order; rename
    # positionally so this does not depend on internal field naming
    val_fields = state.schema["value"].dataType.names
    return state.select(
        F.col("key.event_type").alias("event_type"),
        F.col(f"value.{val_fields[0]}").cast("bigint").alias("n_events"),
        F.col(f"value.{val_fields[1]}")
        .cast("bigint")
        .alias("sum_value_c"),
    )


@register(
    "q_stream_incremental_resume",
    """
    WITH halves AS (
      SELECT CASE WHEN event_id % 2 = 0 THEN 1 ELSE 2 END AS phase,
             CAST(round(value * 100) AS BIGINT) AS v_c
      FROM events
    )
    SELECT phase,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(SUM(v_c) AS BIGINT) AS sum_value_c
    FROM halves GROUP BY phase
    """,
)
def q_stream_incremental_resume(spark, sf_dir):
    """INCREMENTAL RESUME across restarts — the file-source
    exactly-once progress contract that makes availableNow
    batch-style reprocessing safe: run 1 sees only file A (half the
    events), the job STOPS, file B lands, run 2 restarts from the
    SAME checkpoint and processes ONLY file B — no re-read of A, no
    gap. Each run's foreachBatch output is tagged with its phase,
    and the per-phase (rows, value checksum) audit hash-checks
    against the batch halves — proving both no-loss AND
    no-duplication of source progress across the restart boundary.
    The checkpoint is wiped at entry so every invocation exercises
    the full stop-land-resume cycle deterministically (an ongoing
    deployment would keep it, which is exactly the point of the
    pattern). Splitting is content-keyed (event_id parity), so both
    engines agree on what each phase contains."""
    import os
    import shutil

    from hcls_data_lake_spark.queries.common import scratch_for

    base = scratch_for(sf_dir, "resume_demo")
    landing = os.path.join(base, "landing")
    checkpoint = os.path.join(base, "ckpt")
    outdir = os.path.join(base, "out")
    shutil.rmtree(base, ignore_errors=True)
    os.makedirs(landing, exist_ok=True)

    ev = events(spark, sf_dir).select("event_id", "value")

    def land(pred: str, name: str) -> None:
        # the file source needs FLAT files in the landing dir, not
        # spark output directories — stage the write, copy the part
        tmp = os.path.join(base, f"tmp_{name}")
        ev.filter(F.expr(pred)).coalesce(1).write.mode(
            "overwrite"
        ).parquet(tmp)
        part = next(
            p for p in sorted(os.listdir(tmp))
            if p.endswith(".parquet")
        )
        shutil.copyfile(
            os.path.join(tmp, part), os.path.join(landing, name)
        )

    land("event_id % 2 = 0", "a.parquet")
    schema = spark.read.parquet(os.path.join(landing, "a.parquet")).schema

    def run_phase(phase: int) -> None:
        sdf = spark.readStream.schema(schema).parquet(landing)
        out = sdf.select(
            F.expr("cast(round(value * 100) as bigint)").alias("v_c")
        )

        def sink(batch_df, batch_id):
            batch_df.write.mode("append").parquet(
                os.path.join(outdir, f"phase={phase}")
            )

        q = (
            out.writeStream.foreachBatch(sink)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_phase(1)
    land("event_id % 2 = 1", "b.parquet")
    run_phase(2)

    back = spark.read.option("basePath", outdir).parquet(outdir)
    return back.groupBy(F.col("phase").cast("int").alias("phase")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum("v_c").cast("bigint").alias("sum_value_c"),
    )


@register(
    "q_stream_ivm",
    """
    WITH final_state AS (
      SELECT * FROM orders
      WHERE NOT (o_orderkey % 11 = 0 AND o_orderkey % 7 <> 0)
    )
    SELECT o_orderpriority,
           CAST(year(o_orderdate) * 100 + month(o_orderdate) AS INT)
             AS yyyymm,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
                AS BIGINT) AS revenue_c
    FROM final_state
    GROUP BY o_orderpriority, yyyymm
    """,
)
def q_stream_ivm(spark, sf_dir):
    """STREAMING INCREMENTAL VIEW MAINTENANCE — q_pipeline_ivm's
    abelian-group delta algebra run as a LIVE CDC stream: the order
    feed arrives as three landing files (the base snapshot, the
    insert wave, the delete wave — deletes are sign = −1 rows, the
    retraction encoding every streaming-SQL engine uses internally),
    a file-source stream consumes them one micro-batch per file
    (maxFilesPerTrigger=1), and foreachBatch writes each batch's
    SIGNED PARTIAL AGGREGATE to a batch_id-keyed partition —
    OVERWRITE, so an at-least-once retry of a micro-batch lands the
    identical partition and the sink is exactly-once (the
    q_stream_countmin discipline). The served MV is the merge
    groupBy over the partials with cancelled groups dropped; the
    oracle is the full recompute over the final state — the same
    IVM theorem as the batch query, now proven through the
    streaming machinery (checkpointed source progress, per-batch
    retraction folding, idempotent partials).

    100 TB: per micro-batch cost is |batch| map-side + one
    group-keyed partial write; the MV merge reads partials only —
    the base facts are never rescanned after their wave lands. The
    partial store compacts by merging old batch partitions (same
    associative groupBy), bounding read amplification."""
    import os

    from hcls_data_lake_spark.queries.common import t

    base = scratch_for(sf_dir, "stream_ivm")
    landing = os.path.join(base, "landing")
    checkpoint = os.path.join(base, "ckpt")
    partials = os.path.join(base, "partials")
    shutil.rmtree(base, ignore_errors=True)
    os.makedirs(landing, exist_ok=True)

    o = t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.expr(
            "cast(year(o_orderdate) * 100 + month(o_orderdate) as int)"
        ).alias("yyyymm"),
        F.expr("cast(round(o_totalprice * 100) as bigint)").alias(
            "price_c"
        ),
    )

    def land(df, name: str) -> None:
        tmp = os.path.join(base, f"tmp_{name}")
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = next(
            p for p in sorted(os.listdir(tmp)) if p.endswith(".parquet")
        )
        shutil.copyfile(
            os.path.join(tmp, part), os.path.join(landing, name)
        )

    sel = ["o_orderpriority", "yyyymm", "price_c"]
    land(
        o.filter("o_orderkey % 7 != 0").selectExpr(*sel, "1 as sign"),
        "wave0_base.parquet",
    )
    land(
        o.filter("o_orderkey % 7 = 0").selectExpr(*sel, "1 as sign"),
        "wave1_inserts.parquet",
    )
    land(
        o.filter(
            "o_orderkey % 7 != 0 and o_orderkey % 11 = 0"
        ).selectExpr(*sel, "-1 as sign"),
        "wave2_deletes.parquet",
    )

    schema = spark.read.parquet(
        os.path.join(landing, "wave0_base.parquet")
    ).schema
    sdf = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(landing)
    )

    def fold(batch_df, batch_id):
        (
            batch_df.groupBy("o_orderpriority", "yyyymm")
            .agg(
                F.sum("sign").cast("bigint").alias("n_orders"),
                F.sum(F.col("sign") * F.col("price_c"))
                .cast("bigint")
                .alias("revenue_c"),
            )
            .write.mode("overwrite")
            .parquet(os.path.join(partials, f"batch_id={batch_id}"))
        )

    q = (
        sdf.writeStream.foreachBatch(fold)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    return (
        spark.read.option("basePath", partials)
        .parquet(partials)
        .groupBy("o_orderpriority", "yyyymm")
        .agg(
            F.sum("n_orders").cast("bigint").alias("n_orders"),
            F.sum("revenue_c").cast("bigint").alias("revenue_c"),
        )
        .filter("n_orders > 0")
    )


@register(
    "q_stream_tws_initial_state",
    """
    WITH cents AS (
      SELECT user_id, event_id,
             CAST(round(value * 100) AS BIGINT) AS c
      FROM events
    ), boot AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS n0,
             CAST(sum(c) AS BIGINT) AS c0
      FROM cents WHERE event_id % 2 = 0 GROUP BY user_id
    ), streamed AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS n1,
             CAST(sum(c) AS BIGINT) AS c1
      FROM cents WHERE event_id % 2 = 1 GROUP BY user_id
    )
    SELECT s.user_id,
           CAST(s.n1 + COALESCE(b.n0, 0) AS BIGINT) AS n_events,
           CAST(s.c1 + COALESCE(b.c0, 0) AS BIGINT) AS cents
    FROM streamed s LEFT JOIN boot b ON b.user_id = s.user_id
    """,
)
def q_stream_tws_initial_state(spark, sf_dir):
    """TransformWithState INITIAL STATE (r9 — the state-bootstrap
    surface the other TWS queries don't touch): per-user totals
    warm-started from a batch aggregate of "history" (even event_ids)
    while the stream carries only the "new" half (odd event_ids) —
    the exact migration pattern a production pipeline uses to avoid
    replaying months of raw events into a fresh checkpoint.
    ``initialState=grouped_df`` hands each key's seed row to
    ``handleInitialState`` once, before any input; the oracle states
    bootstrap + incremental = the full-history aggregate for every
    streamed key, in exact integer cents so the batch/stream boundary
    is engine-exact. Keys with history but no streamed events emit
    nothing (initial state alone never emits — pinned by the oracle's
    inner streamed-side). Single-file landing dir -> one data batch ->
    exactly one update emission per key. Gate as the other TWS rows:
    protobuf-less foreign sessions run the applyInPandasWithState twin
    whose seed rides a driver dict (fixture-only emulation; the TWS
    path IS the scale path — that is the point of the API)."""
    from hcls_data_lake_spark.compat.protobuf_vendor import (
        workers_have_protobuf,
    )
    from hcls_data_lake_spark.queries.common import events
    from hcls_data_lake_spark.streaming.stateful import (
        pandas_state_bootstrap_totals,
        tws_bootstrap_totals,
    )

    boot = (
        events(spark, sf_dir)
        .filter(F.col("event_id") % 2 == 0)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum(F.expr("cast(round(value * 100) as bigint)"))
            .cast("bigint")
            .alias("cents"),
        )
    )
    sdf = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_id") % 2 == 1)
        .select(
            "user_id",
            F.expr("cast(round(value * 100) as bigint)").alias("cents"),
        )
    )
    use_tws = workers_have_protobuf(spark)
    stateful = (
        tws_bootstrap_totals if use_tws else pandas_state_bootstrap_totals
    )
    with conf_scope(spark, ROCKSDB_STATE if use_tws else {}):
        return run_to_memory(
            stateful(sdf, boot),
            output_mode="update",
            shuffle_partitions=8,
            no_data_batches=False,
        )
