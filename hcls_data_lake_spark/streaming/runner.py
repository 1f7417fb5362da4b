"""Helpers to run finite Structured Streaming jobs for verification.

The reference's pipeline is event-driven (SNS → Lambda per message,
A12/A18); here the same dataflow is a streaming DataFrame over the
lake's file source. For the correctness harness we run with
``trigger(availableNow=True)`` into a memory sink and hand back the
materialized result — a real streaming execution with a deterministic
endpoint.
"""

from __future__ import annotations

import logging
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hcls_data_lake_spark.queries.common import scratch_dir, scratch_for
from hcls_data_lake_spark.session import conf_scope

log = logging.getLogger(__name__)

# Session confs for a TransformWithState run (apply with conf_scope):
# TWS requires multiple column families -> RocksDB state store (the
# 100 TB state backend; HDFSBacked cannot host TWS state)
ROCKSDB_STATE = {
    "spark.sql.streaming.stateStore.providerClass": (
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    ),
}

# Raw schema of the events parquet. Two fixture generations exist
# (see queries/common.normalize_event_ts): TIMESTAMP(NANOS), which is
# read as raw long nanos under nanosAsLong, and TIMESTAMP(MICROS) NTZ,
# which reads natively. The streaming file source needs an explicit
# schema, so we sniff the parquet footer (driver-side, one file) to
# pick the right one.
EVENTS_RAW_SCHEMA_NANOS = (
    "event_id bigint, ts bigint, user_id bigint,"
    " event_type string, value double, props string"
)
EVENTS_RAW_SCHEMA_MICROS = (
    "event_id bigint, ts timestamp_ntz, user_id bigint,"
    " event_type string, value double, props string"
)


def _events_raw_schema(sf_dir: str) -> tuple[str, str]:
    """Returns (unit_tag, schema): ('nanos'|'micros', DDL string).

    Only the two known fixture physical types are accepted; anything
    else (e.g. a tz-adjusted timestamp[us, tz=UTC], which would
    reinterpret instants as naive timestamps under the NTZ schema)
    raises instead of silently falling into the micros branch."""
    import pyarrow.parquet as pq

    ts_type = pq.read_schema(f"{sf_dir}/events.parquet").field("ts").type
    unit = getattr(ts_type, "unit", None)
    tz = getattr(ts_type, "tz", "not-a-timestamp")
    if unit == "ns" and tz is None:
        return "nanos", EVENTS_RAW_SCHEMA_NANOS
    if unit == "us" and tz is None:
        return "micros", EVENTS_RAW_SCHEMA_MICROS
    raise TypeError(
        f"events.ts stored as {ts_type}; expected tz-free"
        " timestamp[ns] or timestamp[us] — a tz-adjusted column read"
        " through the NTZ streaming schema would shift every instant"
        " by the session offset"
    )


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming file source over the events table (A18: the old
    reference's CloudTrail->EventBridge file-event trigger is exactly
    Spark's file-source new-file discovery).

    The file source needs a directory, so the fixture file is exposed
    through a symlinked landing dir (what a real lake zone is)."""
    landing = scratch_for(sf_dir, "events_landing")
    os.makedirs(landing, exist_ok=True)
    link = os.path.join(landing, "events.parquet")
    # lexists + EEXIST-tolerant: scratch paths are shared across
    # processes by design, so two concurrent drivers can race the
    # create; os.path.exists also FOLLOWS the link, so a dangling link
    # (fixture regenerated) would read as absent and re-raise EEXIST
    if not os.path.lexists(link):
        try:
            os.symlink(f"{sf_dir}/events.parquet", link)
        except FileExistsError:
            pass  # concurrent creator won; the link is identical
    unit, schema = _events_raw_schema(sf_dir)
    sdf = spark.readStream.schema(schema).parquet(landing)
    if unit == "nanos":
        return sdf.withColumn("ts_ns", F.col("ts")).withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000"))
        )
    # micros-NTZ fixture: derive the physical micros with exact integer
    # arithmetic (tz-free), then anchor `ts` at UTC as an instant so
    # unix_micros()/window() downstream stay session-tz-independent —
    # identical semantics to the nanos path.
    return sdf.withColumn(
        "ts_ns",
        F.expr(
            "timestampdiff(MICROSECOND,"
            " cast('1970-01-01 00:00:00' as timestamp_ntz), ts)"
            " * cast(1000 as bigint)"
        ),
    ).withColumn("ts", F.timestamp_micros(F.expr("ts_ns div 1000")))


def _evict_state_providers(spark: SparkSession) -> None:
    """Unload executor-side state-store providers after a finite run.

    Every run here uses a FRESH scratch checkpoint, so a terminated
    query's providers (HDFSBacked heap maps / RocksDB native handles)
    can never be reused — they sit in the executor provider cache as
    dead weight until the maintenance task evicts them (the second
    monolithic-session tail-degradation mechanism flagged in r12;
    measured r13: 12 back-to-back TWS runs grow the local-mode JVM
    heap 18.6 MB without eviction vs 8.9 MB with, at identical
    per-run times — min 2.933 s evicted vs 2.969 s not). StateStore
    maintenance restarts lazily on the next stateful query, and an
    unloaded provider reloads from its checkpoint, so the call is
    correctness-free even if runs ever overlap."""
    try:
        jvm = spark._jvm
        jvm.org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    except Exception as exc:  # noqa: BLE001 — hygiene only, never fail a run
        log.debug("state-store provider eviction skipped: %s", exc)


def run_to_memory(
    sdf: DataFrame,
    output_mode: str = "append",
    name: str | None = None,
    shuffle_partitions: int | None = None,
    no_data_batches: bool = True,
) -> DataFrame:
    """Execute a streaming DataFrame to completion into a memory sink
    and return the materialized table.

    ``shuffle_partitions`` sizes the stateful operators' state-store
    partition count (locked in at first batch of a fresh checkpoint).
    Every state partition pays a per-micro-batch commit regardless of
    how much state it holds, so a query with small keyed state should
    run far fewer partitions than the session's shuffle default — size
    to state volume, the same call a cluster deployment makes. The
    session conf is restored afterwards.

    ``no_data_batches=False`` skips the trailing data-less micro-batch
    Spark runs to advance the watermark after the last file. That batch
    exists to (a) evict now-expired state and (b) emit results whose
    emission WAITS on the watermark — closed windows in append-mode
    aggregations, unmatched rows of outer joins. Queries that emit
    eagerly (append-mode projections/filters, INNER stream-stream
    joins) produce their full result without it, and in a finite
    availableNow run the state it would evict is discarded at shutdown
    anyway — so skipping trades nothing but the one extra state-commit
    round. Leave True for anything watermark-emitting."""
    spark = sdf.sparkSession
    qname = name or f"mem_{uuid.uuid4().hex[:10]}"
    ckpt = scratch_dir("ckpt", qname)
    shutil.rmtree(ckpt, ignore_errors=True)
    confs = {}
    if shuffle_partitions is not None:
        confs["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if not no_data_batches:
        confs["spark.sql.streaming.noDataMicroBatches.enabled"] = "false"
    with conf_scope(spark, confs):
        query = (
            sdf.writeStream.format("memory")
            .queryName(qname)
            .outputMode(output_mode)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()
    # spark.table analyzes eagerly, so the returned DataFrame keeps the
    # sink's materialized rows alive on its own; dropping the temp view
    # right away unregisters the sink from the catalog. Without the
    # drop every invocation leaks one memory-sink table (plus its rows)
    # into the session catalog for the session's lifetime — measured at
    # ~1.8 MB/invocation over a 15-run probe, i.e. hundreds of tables
    # and hundreds of MB of un-collectable driver heap across a full
    # bench/parity session. The drop is a catalog map operation (no
    # job), and the sink rows become ordinary garbage once the caller
    # releases the returned DataFrame.
    out = spark.table(qname)
    spark.catalog.dropTempView(qname)
    _evict_state_providers(spark)
    return out


def run_foreach_batch(
    sdf: DataFrame, batch_fn, name: str | None = None,
    checkpoint: str | None = None,
) -> None:
    """Execute a streaming DataFrame through foreachBatch to completion
    (the per-batch multi-sink routing of A8/A15).

    ``checkpoint`` makes the run INCREMENTAL across invocations: the
    source's progress (e.g. which files a file source already
    processed) persists there, so a repeat call picks up where the
    last one stopped. Without it the run is one-shot: a fresh scratch
    checkpoint is created (and wiped first), and a repeat call
    re-reads the source from the beginning."""
    if checkpoint is None:
        qname = name or f"feb_{uuid.uuid4().hex[:10]}"
        checkpoint = scratch_dir("ckpt", qname)
        shutil.rmtree(checkpoint, ignore_errors=True)
    query = (
        sdf.writeStream.foreachBatch(batch_fn)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    _evict_state_providers(sdf.sparkSession)
