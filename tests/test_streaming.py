"""Streaming semantics tests (SURVEY.md §5.2.5): watermark late-data
drop with manufactured out-of-order batches, stateful dedup, and
batch-parity of windowed aggregation."""

from __future__ import annotations

import os
import shutil
import uuid

import pytest
from pyspark.sql import functions as F

from hcls_data_lake_spark.queries.common import scratch_dir
from hcls_data_lake_spark.session import conf_scope
from hcls_data_lake_spark.streaming.runner import ROCKSDB_STATE


def _write_batch(spark, path, rows):
    df = spark.createDataFrame(rows, "event_id long, ts timestamp, user_id long")
    df.coalesce(1).write.mode("append").parquet(path)


@pytest.fixture()
def landing(tmp_path):
    d = str(tmp_path / "landing")
    os.makedirs(d, exist_ok=True)
    return d


def _run_stream(spark, landing, build, mode="append", name=None, ckpt=None):
    """Run one availableNow pass of a file-source stream. Re-invoking
    with the same name+ckpt resumes from the checkpoint (persisted
    watermark/state), which is how the late-data tests guarantee a file
    arrives strictly after the watermark advanced."""
    name = name or f"t_{uuid.uuid4().hex[:8]}"
    if ckpt is None:
        ckpt = scratch_dir("test_ckpt", name)
        shutil.rmtree(ckpt, ignore_errors=True)
    sdf = spark.readStream.schema(
        "event_id long, ts timestamp, user_id long"
    ).parquet(landing)
    q = (
        build(sdf)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


def test_watermark_drops_late_rows(spark, landing):
    from datetime import datetime

    ts = lambda m, s=0: datetime(2024, 1, 1, 10, m, s)  # noqa: E731

    def build(sdf):
        return (
            sdf.withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "5 minutes"))
            .agg(F.count(F.lit(1)).alias("n"))
        )

    name = f"t_{uuid.uuid4().hex[:8]}"
    ckpt = scratch_dir("test_ckpt", name)
    out_dir = scratch_dir("test_out", name)
    shutil.rmtree(ckpt, ignore_errors=True)
    shutil.rmtree(out_dir, ignore_errors=True)

    def run_pass():
        sdf = spark.readStream.schema(
            "event_id long, ts timestamp, user_id long"
        ).parquet(landing)
        q = (
            build(sdf)
            .select(F.col("window.start").alias("win_start"), "n")
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    # pass 1: events up to 10:30 -> checkpointed watermark = 10:20;
    # windows ending before 10:20 are finalized and emitted
    _write_batch(spark, landing, [(1, ts(0), 1), (2, ts(10), 1), (3, ts(30), 1)])
    run_pass()
    # pass 2 (resumes from checkpoint): a very late event at 10:01 —
    # behind the persisted watermark — plus a fresh one at 10:40
    _write_batch(spark, landing, [(4, ts(1), 1), (5, ts(40), 1)])
    run_pass()
    rows = [
        (r.win_start.minute, r.n) for r in spark.read.parquet(out_dir).collect()
    ]
    # the 10:00 window finalized with ONLY event 1 — the late event 4
    # was dropped: exactly one emission, count 1, never re-emitted
    assert rows.count((0, 1)) == 1, f"late row leaked: {sorted(rows)}"
    assert (0, 2) not in rows, f"late row was counted: {sorted(rows)}"
    assert (10, 1) in rows


def test_streaming_dedup_emits_one_per_key(spark, landing):
    from datetime import datetime

    t0 = datetime(2024, 1, 1, 10, 0)
    _write_batch(spark, landing, [(1, t0, 7), (2, t0, 7), (3, t0, 8)])
    _write_batch(spark, landing, [(4, t0, 7), (5, t0, 9)])

    def build(sdf):
        return sdf.withWatermark("ts", "1 hour").dropDuplicates(["user_id"]).select(
            "user_id"
        )

    out = _run_stream(spark, landing, build, mode="append")
    assert sorted(r.user_id for r in out.collect()) == [7, 8, 9]


def test_streaming_batch_parity_tumbling(spark, landing):
    from datetime import datetime

    rows = [(i, datetime(2024, 1, 1, 10, i % 50), i % 3) for i in range(60)]
    _write_batch(spark, landing, rows)

    def build(sdf):
        return sdf.groupBy(F.window("ts", "10 minutes")).agg(
            F.count(F.lit(1)).alias("n")
        )

    stream_out = {
        (r["window"].start, r["n"])
        for r in _run_stream(spark, landing, build, mode="complete").collect()
    }
    batch_out = {
        (r["window"].start, r["n"])
        for r in spark.read.parquet(landing)
        .groupBy(F.window("ts", "10 minutes"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert stream_out == batch_out

def test_er7gen_stream_replays_full_id_space(spark):
    """The er7gen Python Data Source's streaming reader must replay the
    whole id space in batchSize chunks (offset-tracked micro-batches,
    not one drain), exactly once, with fields matching the batch
    reader's deterministic generation."""
    import time

    from pyspark.sql import functions as F

    from hcls_data_lake_spark.queries.common import scratch_dir
    from hcls_data_lake_spark.sources.er7_source import register_er7_source

    register_er7_source(spark)
    sdf = (
        spark.readStream.format("er7gen")
        .option("n", 250)
        .option("batchSize", 100)
        .load()
    )
    import shutil
    import uuid

    qname = f"er7stream_{uuid.uuid4().hex[:8]}"
    ckpt = scratch_dir("ckpt", qname)
    shutil.rmtree(ckpt, ignore_errors=True)
    query = (
        sdf.writeStream.format("memory")
        .queryName(qname)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        deadline = time.time() + 90
        while time.time() < deadline and spark.table(qname).count() < 250:
            time.sleep(0.5)
    finally:
        query.stop()
    out = spark.table(qname)
    assert out.count() == 250
    assert out.select("msg_id").distinct().count() == 250
    row = out.filter(F.col("msg_id") == 123).first()
    assert row.sending_app == "APP3"
    assert row.patient_id == "PID000123"
    assert row.msg_type == "ORU^R01"
    batch = (
        spark.read.format("er7gen").option("n", 250).load()
        .orderBy("msg_id").collect()
    )
    stream_rows = out.orderBy("msg_id").collect()
    assert [tuple(r) for r in batch] == [tuple(r) for r in stream_rows]


def _has_protobuf() -> bool:
    """True when the TWS protobuf protocol is available — either a real
    installation or the vendored pure-Python runtime that
    compat/protobuf_vendor activates (get_spark exports it to the
    workers, so the session fixture can run the REAL TWS path)."""
    from hcls_data_lake_spark.compat.protobuf_vendor import activate

    return activate()


@pytest.mark.skipif(
    not _has_protobuf(),
    reason="TransformWithState worker needs python protobuf and no "
    "vendorable runtime exists on this machine",
)
def test_transform_with_state_matches_batch_aggregate(spark, sf_dir):
    """tws_running_totals (TransformWithState API) must emit the same
    per-key totals as the batch aggregate, like the
    applyInPandasWithState variant it mirrors."""
    from hcls_data_lake_spark.queries.common import events
    from hcls_data_lake_spark.streaming.runner import (
        read_events_stream,
        run_to_memory,
    )
    from hcls_data_lake_spark.streaming.stateful import tws_running_totals

    with conf_scope(spark, ROCKSDB_STATE):
        sdf = read_events_stream(spark, sf_dir).select("user_id", "value")
        out = run_to_memory(
            tws_running_totals(sdf), output_mode="update", shuffle_partitions=4
        )
    from pyspark.sql import functions as F

    expected = (
        events(spark, sf_dir)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )
    got = {(r.user_id): (r.n_events, r.sum_value) for r in out.collect()}
    want = {(r.user_id): (r.n_events, r.sum_value) for r in expected.collect()}
    assert got == want


@pytest.mark.skipif(
    not _has_protobuf(),
    reason="TransformWithState worker needs python protobuf and no "
    "vendorable runtime exists on this machine",
)
def test_tws_list_state_topk_matches_fallback_and_batch(spark, sf_dir):
    """tws_topk (TWS LIST state) and pandas_state_topk (array-packed
    GroupState) must emit identical ranked rows, and both must equal
    the batch window top-k — the cross-API equivalence that makes the
    degradation path honest."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from hcls_data_lake_spark.queries.common import events
    from hcls_data_lake_spark.streaming.runner import (
        read_events_stream,
        run_to_memory,
    )
    from hcls_data_lake_spark.streaming.stateful import (
        pandas_state_topk,
        tws_topk,
    )

    def run(fn, set_rocks):
        with conf_scope(spark, ROCKSDB_STATE if set_rocks else {}):
            sdf = read_events_stream(spark, sf_dir).select(
                "user_id", "value", "event_id"
            )
            out = run_to_memory(
                fn(sdf),
                output_mode="update",
                shuffle_partitions=4,
                no_data_batches=False,
            )
            return {
                (r.user_id, r.rnk): (r.value, r.event_id)
                for r in out.collect()
            }

    got_tws = run(tws_topk, set_rocks=True)
    got_fallback = run(pandas_state_topk, set_rocks=False)
    w = Window.partitionBy("user_id").orderBy(
        F.col("value").desc(), "event_id"
    )
    want = {
        (r.user_id, r.rn): (r.value, r.event_id)
        for r in events(spark, sf_dir)
        .select("user_id", "value", "event_id", F.row_number().over(w).alias("rn"))
        .filter("rn <= 3")
        .collect()
    }
    assert got_tws == want
    assert got_fallback == want


def test_er7gen_empty_and_single_partition_edges(spark):
    """er7gen edge cases: n=0 yields an empty readable frame; n smaller
    than numPartitions still covers every id exactly once."""
    from hcls_data_lake_spark.sources.er7_source import register_er7_source

    register_er7_source(spark)
    empty = spark.read.format("er7gen").option("n", 0).load()
    assert empty.count() == 0
    small = (
        spark.read.format("er7gen")
        .option("n", 3)
        .option("numPartitions", 8)
        .load()
    )
    assert sorted(r.msg_id for r in small.collect()) == [0, 1, 2]


def test_rocksdb_state_store_matches_default_provider(spark, sf_dir):
    """The same watermarked streaming dedup+count must produce
    identical results under RocksDBStateStoreProvider as under the
    default HDFS-backed provider. RocksDB is the at-scale state
    backend (state spills to local disk instead of executor heap, and
    changelog checkpointing bounds commit cost), so the engine's
    streaming queries must be provider-agnostic — this pins that, with
    no protobuf dependency (unlike the TransformWithState test)."""
    from pyspark.sql import functions as F

    from hcls_data_lake_spark.streaming.runner import (
        read_events_stream,
        run_to_memory,
    )

    def agg(sdf):
        return (
            sdf.withWatermark("ts", "1 hour")
            .dropDuplicates(["event_id"])
            .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(F.count(F.lit(1)).alias("n"))
            .select(
                F.unix_micros(F.col("w.start")).alias("ws"), "event_type", "n"
            )
        )

    with conf_scope(spark, ROCKSDB_STATE):
        rocks_out = run_to_memory(
            agg(read_events_stream(spark, sf_dir)),
            output_mode="append",
            shuffle_partitions=4,
        )
        rocks_rows = sorted(
            (r.ws, r.event_type, r.n) for r in rocks_out.collect()
        )
    default_out = run_to_memory(
        agg(read_events_stream(spark, sf_dir)),
        output_mode="append",
        shuffle_partitions=4,
    )
    default_rows = sorted(
        (r.ws, r.event_type, r.n) for r in default_out.collect()
    )
    assert rocks_rows == default_rows and rocks_rows


def test_er7gen_stream_restart_resumes_exactly_once(spark, tmp_path):
    """Checkpoint recovery: stop a streaming query mid-replay, start a
    NEW query from the same checkpoint + sink — the restart must resume
    from the committed offset and the file sink's transaction log must
    yield exactly-once output (every id exactly once, no replays, no
    gaps). This is the contract that makes the er7gen offset dict (and
    any queue-shard source built on the same API) safe to kill at any
    point."""
    import time

    from hcls_data_lake_spark.sources.er7_source import register_er7_source

    register_er7_source(spark)
    ckpt = str(tmp_path / "ckpt")
    out_dir = str(tmp_path / "out")
    n = 300

    def start(trigger_kwargs):
        sdf = (
            spark.readStream.format("er7gen")
            .option("n", n)
            .option("batchSize", 30)
            .load()
        )
        return (
            sdf.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(**trigger_kwargs)
            .start()
        )

    # phase 1: throttled to one 30-row batch per 2 s so the kill lands
    # MID-STREAM — a free-running phase 1 can drain all n rows before
    # stop() on a fast machine, leaving phase 2 nothing to replay and
    # silently skipping the recovery path this test exists to cover.
    # Draining all 10 batches would need stop() to lag the first
    # committed batch by ~18 s — margin enough for a loaded CI box.
    q1 = start({"processingTime": "2 seconds"})
    try:
        deadline = time.time() + 90
        while time.time() < deadline:
            try:
                if spark.read.parquet(out_dir).count() >= 30:
                    break
            except Exception:
                pass  # sink not committed yet
            time.sleep(0.1)
    finally:
        q1.stop()
    partial = spark.read.parquet(out_dir).count()
    # something committed AND something remains: the restart below
    # actually exercises offset recovery, loudly
    assert 30 <= partial < n

    # phase 2: new query, same checkpoint — free-run until drained
    # (availableNow can't be used here: a SimpleDataSourceStreamReader
    # reports "available" as the one batch prefetched at start, so an
    # availableNow restart would stop after a single micro-batch)
    q2 = start({"processingTime": "0 seconds"})
    try:
        deadline = time.time() + 90
        while time.time() < deadline and spark.read.parquet(out_dir).count() < n:
            time.sleep(0.3)
    finally:
        q2.stop()

    final = spark.read.parquet(out_dir)
    assert final.count() == n  # no replayed duplicates, no gaps
    assert final.select("msg_id").distinct().count() == n


def test_multibatch_incremental_agg_equals_batch(spark, tmp_path, sf_dir):
    """Incremental state correctness across MANY micro-batches: split
    the events table into 8 files, stream with maxFilesPerTrigger=2
    (4+ real micro-batches, state carried between them), and assert
    the complete-mode windowed aggregate equals the one-shot batch
    answer. The single-file fixture replays in one batch, so this is
    the only place cross-batch state merge (partial windows updated by
    later batches) is actually exercised end-to-end."""
    from hcls_data_lake_spark.queries.common import events

    src = events(spark, sf_dir).select("ts", "event_type", "value")
    multi = str(tmp_path / "events_multi")
    # split deterministically so several batches touch the SAME windows
    src.repartition(8).write.mode("overwrite").parquet(multi)

    ckpt = str(tmp_path / "ckpt")
    name = f"mb_{uuid.uuid4().hex[:8]}"
    sdf = (
        spark.readStream.schema("ts timestamp_ntz, event_type string, value double")
        .option("maxFilesPerTrigger", "2")
        .parquet(multi)
        .withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    )
    agg = (
        sdf.groupBy(F.window("ts", "10 minutes"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("sv"))
        .select(
            F.unix_micros(F.col("window.start").cast("timestamp")).alias("w"),
            "event_type",
            "n",
            "sv",
        )
    )
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    n_batches = len([p for p in q.recentProgress if p["numInputRows"] > 0])
    assert n_batches >= 4  # really incremental, not one drain

    got = {
        (r.w, r.event_type): (r.n, r.sv)
        for r in spark.table(name).collect()
    }
    want = {
        (r.w, r.event_type): (r.n, r.sv)
        for r in (
            spark.read.parquet(multi)
            .groupBy(F.window("ts", "10 minutes"), "event_type")
            .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("sv"))
            .select(
                F.unix_micros(F.col("window.start").cast("timestamp")).alias("w"),
                "event_type", "n", "sv",
            )
            .collect()
        )
    }
    assert got == want


@pytest.mark.skipif(
    not _has_protobuf(),
    reason="TransformWithState worker needs python protobuf and no "
    "vendorable runtime exists on this machine",
)
def test_tws_timer_boundary(spark, tmp_path):
    """PIN the timer firing boundary: a TWS event-time timer fires
    INCLUSIVELY — expiry_ms == watermark_ms fires; expiry_ms above the
    watermark does not. The oracle of q_stream_tws_timers encodes
    exactly this (expiry <= wm); if a Spark upgrade flips the boundary
    to strict, this test fails before the correctness gate does.
    Constructions use 2024-era timestamps deliberately: with
    near-epoch event times (small ms values) Spark silently never
    fires event-time timers at all — a quirk this test documents by
    construction, not by assertion, because real data never lives
    there."""
    import numpy as np
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pyspark.sql.streaming import StatefulProcessor

    from hcls_data_lake_spark.streaming.runner import run_to_memory
    from hcls_data_lake_spark.streaming.stateful import session_expiry_ms

    base_us = 1_704_067_200_000_000  # 2024-01-01 00:00:00, minute-aligned
    base_ms = base_us // 1000

    class P(StatefulProcessor):
        def init(self, handle):
            self._h = handle
            self._s = handle.getValueState("v", "end_us BIGINT")

        def handleInputRows(self, key, rows, timerValues):
            mx = max(
                int(
                    pdf["ts"]
                    .to_numpy()
                    .astype("datetime64[us]")
                    .astype(np.int64)
                    .max()
                )
                for pdf in rows
            )
            self._s.update((mx,))
            self._h.registerTimer(session_expiry_ms(mx))
            return iter(())

        def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "fired_ms": [expiredTimerInfo.getExpiryTimeInMs()],
                }
            )

        def close(self):
            pass

    def run(src):
        sdf = (
            spark.readStream.schema("user_id long, ts timestamp")
            .parquet(src)
            .withWatermark("ts", "0 seconds")
        )
        with conf_scope(spark, ROCKSDB_STATE):
            out = run_to_memory(
                sdf.groupBy("user_id").transformWithStateInPandas(
                    P(),
                    outputStructType="user_id bigint, fired_ms bigint",
                    outputMode="Append",
                    timeMode="EventTime",
                ),
                output_mode="append",
                shuffle_partitions=2,
                no_data_batches=True,
            )
            return sorted((r.user_id, r.fired_ms) for r in out.collect())

    # EQUALITY fires: u1's only event at base -> expiry exactly
    # base_ms + 1,800,000 (base is minute-aligned); u2's event at
    # base + 1800s pins the final watermark to exactly that instant.
    # u2's own expiry (base_ms + 3,660,000) is above the watermark.
    assert session_expiry_ms(base_us) == base_ms + 1_800_000
    src1 = str(tmp_path / "eq_src")
    os.makedirs(src1, exist_ok=True)
    pq.write_table(
        pa.table(
            {
                "user_id": pa.array([1, 2], pa.int64()),
                "ts": pa.array(
                    [base_us, base_us + 1_800_000_000], pa.timestamp("us")
                ),
            }
        ),
        f"{src1}/a.parquet",
    )
    assert run(src1) == [(1, base_ms + 1_800_000)]

    # ABOVE the watermark does not fire: u2 at base + 1799s keeps the
    # watermark ONE SECOND short of u1's minute-aligned expiry.
    src2 = str(tmp_path / "below_src")
    os.makedirs(src2, exist_ok=True)
    pq.write_table(
        pa.table(
            {
                "user_id": pa.array([1, 2], pa.int64()),
                "ts": pa.array(
                    [base_us, base_us + 1_799_000_000], pa.timestamp("us")
                ),
            }
        ),
        f"{src2}/a.parquet",
    )
    assert run(src2) == []


@pytest.mark.skipif(
    not _has_protobuf(),
    reason="TransformWithState worker needs python protobuf and no "
    "vendorable runtime exists on this machine",
)
def test_tws_session_close_matches_fallback(spark, sf_dir):
    """tws_session_close (TWS event-time timers) and
    pandas_state_session_close (GroupStateTimeout.EventTimeTimeout)
    must emit IDENTICAL session rows over the fixture stream — the
    cross-API equivalence that makes the protobuf degradation path of
    q_stream_tws_timers honest, and an implicit pin that both APIs
    fire on the same strict watermark boundary."""
    from hcls_data_lake_spark.streaming.runner import (
        read_events_stream,
        run_to_memory,
    )
    from hcls_data_lake_spark.streaming.stateful import (
        pandas_state_session_close,
        tws_session_close,
    )

    def run(builder, set_rocks):
        with conf_scope(spark, ROCKSDB_STATE if set_rocks else {}):
            sdf = (
                read_events_stream(spark, sf_dir)
                .select("user_id", "ts")
                .withWatermark("ts", "0 seconds")
            )
            out = run_to_memory(
                builder(sdf),
                output_mode="append",
                shuffle_partitions=4,
                no_data_batches=True,
            )
            return sorted(tuple(r) for r in out.collect())

    tws_rows = run(tws_session_close, set_rocks=True)
    twin_rows = run(pandas_state_session_close, set_rocks=False)
    assert len(tws_rows) > 0
    assert tws_rows == twin_rows


def test_manifest_sink_protocol(spark, tmp_path):
    """Pin the custom Python streaming sink's commit protocol
    (sources/manifest_sink.py): (1) each run commits one manifest
    version, and the second appends, so the latest version reads the
    union of both batches; (2) a data file without a manifest entry (a
    crashed batch's orphan) is INVISIBLE to the manifest reader — the
    property that makes the sink object-store-safe."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from hcls_data_lake_spark.operators import manifest

    src = str(tmp_path / "src")
    zone = str(tmp_path / "zone")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src, exist_ok=True)

    def write_src(fname, ids):
        pq.write_table(
            pa.table({"event_id": pa.array(ids, pa.int64())}),
            os.path.join(src, fname),
        )

    def ids(version=None):
        return sorted(
            r.event_id
            for r in manifest.read_version(spark, zone, version).collect()
        )

    write_src("a.parquet", [1, 2, 3])
    _run_manifest_sink(spark, src, zone, ckpt)
    assert manifest.versions(zone) == [1]
    assert ids() == [1, 2, 3]

    # batch 2 appends; checkpoint resume reads only the new file
    write_src("b.parquet", [4, 5])
    _run_manifest_sink(spark, src, zone, ckpt)
    assert manifest.versions(zone) == [1, 2]
    assert ids() == [1, 2, 3, 4, 5]
    assert ids(1) == [1, 2, 3]  # time travel to the first batch
    assert manifest.committed_meta(zone, "batch_id") == {0, 1}
    assert sorted(os.listdir(os.path.join(zone, "_manifests"))) == [
        "v1.json",
        "v2.json",
    ]

    # an orphan part file (crash between write and commit) is invisible
    orphan = os.path.join(zone, "data", "part-orphan", "part.parquet")
    os.makedirs(os.path.dirname(orphan))
    pq.write_table(
        pa.table({"event_id": pa.array([99], pa.int64())}), orphan
    )
    assert ids() == [1, 2, 3, 4, 5]


def _run_manifest_sink(spark, src, zone, ckpt, agg=False):
    """One availableNow run of the manifestsink stream over the parquet
    files in `src`; `agg` streams a complete-mode count per event_id."""
    from hcls_data_lake_spark.sources.manifest_sink import (
        register_manifest_sink,
    )

    register_manifest_sink(spark)
    sdf = spark.readStream.schema("event_id long").parquet(src)
    if agg:
        sdf = sdf.groupBy("event_id").count()
    q = (
        sdf.writeStream.format("manifestsink")
        .option("path", zone)
        .option("checkpointLocation", ckpt)
        .outputMode("complete" if agg else "append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "manifest-sink stream did not finish"


def test_manifest_sink_complete_mode_overwrites(spark, tmp_path):
    """outputMode("complete") makes Spark pass overwrite=True to the
    sink's streamWriter, so each batch's version REPLACES the table:
    after two runs the latest version holds only the second run's full
    result, and vacuum reclaims exactly the first run's parts."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from hcls_data_lake_spark.operators import manifest

    src = str(tmp_path / "src")
    zone = str(tmp_path / "zone")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src, exist_ok=True)

    def write_src(fname, ids):
        pq.write_table(
            pa.table({"event_id": pa.array(ids, pa.int64())}),
            os.path.join(src, fname),
        )

    def counts(version=None):
        return sorted(
            (r.event_id, r["count"])
            for r in manifest.read_version(spark, zone, version).collect()
        )

    write_src("a.parquet", [1, 1, 2])
    _run_manifest_sink(spark, src, zone, ckpt, agg=True)
    write_src("b.parquet", [2, 3])
    _run_manifest_sink(spark, src, zone, ckpt, agg=True)
    assert manifest.versions(zone) == [1, 2]
    assert counts(1) == [(1, 2), (2, 1)]
    assert counts() == [(1, 2), (2, 2), (3, 1)]
    v1_files = set(manifest._load(zone, 1)["files"])
    v2_files = set(manifest._load(zone, 2)["files"])
    assert v1_files and not v1_files & v2_files
    deleted = manifest.vacuum(zone, keep_last=1, min_age_s=0)
    assert set(deleted) == v1_files
    assert counts() == [(1, 2), (2, 2), (3, 1)]


@pytest.mark.skipif(
    not _has_protobuf(),
    reason="TransformWithState worker needs python protobuf and no "
    "vendorable runtime exists on this machine",
)
def test_tws_map_state_matches_fallback(spark, sf_dir):
    """tws_type_counts (TWS MAP state) and pandas_state_type_counts
    (array-packed ValueState twin) must emit identical (user, type,
    n) rows — the cross-API equivalence that keeps the protobuf
    degradation path of q_stream_tws_mapstate honest."""
    from hcls_data_lake_spark.streaming.runner import (
        read_events_stream,
        run_to_memory,
    )
    from hcls_data_lake_spark.streaming.stateful import (
        pandas_state_type_counts,
        tws_type_counts,
    )

    def run(builder, set_rocks):
        with conf_scope(spark, ROCKSDB_STATE if set_rocks else {}):
            sdf = read_events_stream(spark, sf_dir).select(
                "user_id", "event_type"
            )
            out = run_to_memory(
                builder(sdf),
                output_mode="update",
                shuffle_partitions=4,
            )
            return sorted(tuple(r) for r in out.collect())

    tws_rows = run(tws_type_counts, set_rocks=True)
    twin_rows = run(pandas_state_type_counts, set_rocks=False)
    assert len(tws_rows) > 0
    assert tws_rows == twin_rows


@pytest.mark.skipif(
    not _has_protobuf(),
    reason="TransformWithState worker needs python protobuf and no "
    "vendorable runtime exists on this machine",
)
def test_tws_session_close_multi_batch(spark, tmp_path):
    """Pin the CROSS-BATCH paths of tws_session_close that the
    single-file fixture never exercises, across three availableNow
    runs sharing one checkpoint (state + timers + watermark persist):

    - run 2: u1/u4's new events land within the gap of their carried
      run-1 sessions -> MERGE (no emission); u2's event lands beyond
      the gap -> the carried session closes 'gap'; u3's event pins
      the watermark to exactly u4's OLD timer expiry — which u4's
      re-arm must have DELETED, so nothing may fire (the deleteTimer
      pin: a stale timer would close u4's still-open session early).
    - run 3: a far-future event advances the watermark past every
      armed timer -> each open session fires 'timer' with the counts
      MERGED ACROSS BATCHES AND RESTARTS.
    """
    import pyarrow as pa
    import pyarrow.parquet as pq

    from hcls_data_lake_spark.streaming.runner import run_foreach_batch
    from hcls_data_lake_spark.streaming.stateful import tws_session_close

    base = 1_704_067_200_000_000  # 2024-01-01 00:00:00
    S = 1_000_000  # one second in us
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src, exist_ok=True)

    def add_file(name, rows):
        pq.write_table(
            pa.table(
                {
                    "user_id": pa.array([u for u, _ in rows], pa.int64()),
                    "ts": pa.array(
                        [base + t for _, t in rows], pa.timestamp("us")
                    ),
                }
            ),
            os.path.join(src, name),
        )

    def run_once():
        # memory sink cannot recover from a checkpoint; foreachBatch
        # can — it is the resume-capable collection path
        sdf = (
            spark.readStream.schema("user_id long, ts timestamp")
            .parquet(src)
            .withWatermark("ts", "0 seconds")
        )
        rows = []
        with conf_scope(spark, ROCKSDB_STATE):
            run_foreach_batch(
                tws_session_close(sdf),
                lambda bdf, bid: rows.extend(
                    tuple(r) for r in bdf.collect()
                ),
                checkpoint=ckpt,
            )
            return sorted(rows)

    # run 1: u1 has a 2-event run, u2/u4 single events; nothing closes
    add_file("a.parquet", [(1, 0), (1, 600 * S), (2, 0), (4, 0)])
    assert run_once() == []

    # run 2: u1 +1200s and u4 +1200s MERGE into their carried runs;
    # u2 +2400s exceeds the 1800s gap -> carried session closes 'gap';
    # u3's event at +2400s pins the watermark to base+2400s — exactly
    # u4's old (deleted) expiry ((0 + 1800s) -> base+1800_000ms... and
    # u1's old expiry too; INCLUSIVE firing would close them if the
    # re-arm had not deleted the stale timers. New expiries
    # (+3000s/+4200s) sit beyond the watermark -> nothing fires.
    add_file(
        "b.parquet",
        [(1, 1200 * S), (4, 1200 * S), (2, 2400 * S), (3, 2400 * S)],
    )
    got2 = run_once()
    assert got2 == [(2, base, base, 1, "gap")]

    # run 3: far-future event -> every armed timer fires with counts
    # merged across batches and query restarts; u5 itself stays open
    add_file("c.parquet", [(5, 18000 * S)])
    got3 = run_once()
    assert got3 == sorted(
        [
            (1, base, base + 1200 * S, 3, "timer"),
            (2, base + 2400 * S, base + 2400 * S, 1, "timer"),
            (3, base + 2400 * S, base + 2400 * S, 1, "timer"),
            (4, base, base + 1200 * S, 2, "timer"),
        ]
    )


@pytest.mark.skipif(
    not _has_protobuf(),
    reason="TransformWithState worker needs python protobuf and no "
    "vendorable runtime exists on this machine",
)
def test_statestore_reader_tws_vs_fallback(spark, sf_dir, tmp_path):
    """The statestore reader must expose the SAME retained sessions
    from both state APIs: TWS named ValueState (stateVarName='trail',
    flat value struct) and applyInPandasWithState (value.groupState
    nesting, with its visible timeoutTimestamp riding at expiry-1 —
    the strict-vs-inclusive boundary alignment made observable)."""
    from hcls_data_lake_spark.streaming.runner import read_events_stream
    from hcls_data_lake_spark.streaming.stateful import (
        pandas_state_session_close,
        tws_session_close,
    )

    def run_and_read(builder, ckpt, tws):
        with conf_scope(spark, ROCKSDB_STATE if tws else {}):
            sdf = (
                read_events_stream(spark, sf_dir)
                .select("user_id", "ts")
                .withWatermark("ts", "0 seconds")
            )
            q = (
                builder(sdf)
                .writeStream.format("memory")
                .queryName(f"sr_{'tws' if tws else 'twin'}")
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(300)
        reader = spark.read.format("statestore")
        vals = "value"
        if tws:
            reader = reader.option("stateVarName", "trail")
        else:
            vals = "value.groupState"
        st = reader.load(ckpt)
        return sorted(
            (
                r["user_id"], r["start_us"], r["end_us"],
                r["n"], r["expiry_ms"],
            )
            for r in st.select(
                "key.user_id",
                f"{vals}.start_us",
                f"{vals}.end_us",
                f"{vals}.n",
                f"{vals}.expiry_ms",
            ).collect()
        )

    tws_state = run_and_read(
        tws_session_close, str(tmp_path / "ck_tws"), tws=True
    )
    twin_state = run_and_read(
        pandas_state_session_close, str(tmp_path / "ck_twin"), tws=False
    )
    assert len(tws_state) > 0
    assert tws_state == twin_state

    # the twin's raw timeoutTimestamp must sit at expiry-1 (boundary
    # alignment); read it directly
    raw = spark.read.format("statestore").load(str(tmp_path / "ck_twin"))
    offs = {
        r["expiry_ms"] - r["timeoutTimestamp"]
        for r in raw.select(
            "value.groupState.expiry_ms", "value.timeoutTimestamp"
        ).collect()
    }
    assert offs == {1}


def test_tws_initial_state_matches_fallback_and_batch(spark, sf_dir):
    """r9: tws_bootstrap_totals (TWS initialState warm start) and
    pandas_state_bootstrap_totals (driver-dict twin) must emit
    identical (user, n, cents) rows, and both must equal the batch
    truth (bootstrap + streamed = full history for streamed keys;
    bootstrap-only keys emit nothing). Also pins that a key ABSENT
    from the seed starts cold instead of erroring."""
    from pyspark.sql import functions as F

    from hcls_data_lake_spark.queries.common import events
    from hcls_data_lake_spark.streaming.runner import (
        read_events_stream,
        run_to_memory,
    )
    from hcls_data_lake_spark.streaming.stateful import (
        pandas_state_bootstrap_totals,
        tws_bootstrap_totals,
    )

    # seed deliberately EXCLUDES user_id % 7 == 0 so some streamed keys
    # start cold — the absent-seed path must behave as zero state
    boot = (
        events(spark, sf_dir)
        .filter((F.col("event_id") % 2 == 0) & (F.col("user_id") % 7 != 0))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum(F.expr("cast(round(value * 100) as bigint)"))
            .cast("bigint")
            .alias("cents"),
        )
    )

    def run(builder, set_rocks):
        with conf_scope(spark, ROCKSDB_STATE if set_rocks else {}):
            sdf = (
                read_events_stream(spark, sf_dir)
                .filter(F.col("event_id") % 2 == 1)
                .select(
                    "user_id",
                    F.expr("cast(round(value * 100) as bigint)").alias(
                        "cents"
                    ),
                )
            )
            out = run_to_memory(
                builder(sdf, boot),
                output_mode="update",
                shuffle_partitions=4,
                no_data_batches=False,
            )
            return sorted(tuple(r) for r in out.collect())

    tws_rows = run(tws_bootstrap_totals, set_rocks=True)
    twin_rows = run(pandas_state_bootstrap_totals, set_rocks=False)
    assert len(tws_rows) > 0
    assert tws_rows == twin_rows
    # batch truth: streamed keys get streamed + (seeded history or 0)
    truth = sorted(
        tuple(r)
        for r in (
            events(spark, sf_dir)
            .filter(F.col("event_id") % 2 == 1)
            .groupBy("user_id")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n1"),
                F.sum(F.expr("cast(round(value * 100) as bigint)"))
                .cast("bigint")
                .alias("c1"),
            )
            .join(
                boot.select(
                    "user_id",
                    F.col("n_events").alias("n0"),
                    F.col("cents").alias("c0"),
                ),
                "user_id",
                "left",
            )
            .select(
                "user_id",
                (F.col("n1") + F.coalesce("n0", F.lit(0))).alias("n_events"),
                (F.col("c1") + F.coalesce("c0", F.lit(0))).alias("cents"),
            )
            .collect()
        )
    )
    assert tws_rows == truth
