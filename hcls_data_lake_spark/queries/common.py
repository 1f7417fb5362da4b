"""Shared helpers for the query inventory."""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from hcls_data_lake_spark.tables import load_table

# Scratch dir for queries that need to demonstrate a write+read
# round-trip (partitioned sinks, text/json sources). Kept outside the
# repo; contents are overwritten idempotently per run.
SCRATCH = os.environ.get("HCLS_SCRATCH_DIR", "/tmp/hcls_lake_scratch")


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load a fixture table."""
    if name == "events":
        return events(spark, sf_dir)
    return load_table(spark, sf_dir, name)


_EPOCH_NTZ = "cast('1970-01-01 00:00:00' as timestamp_ntz)"


def normalize_event_ts(df: DataFrame) -> DataFrame:
    """Normalize the events `ts` column to (ts: timestamp_ntz,
    ts_ns: bigint nanos-since-epoch), whichever physical type the
    fixture parquet stores.

    Two fixture generations exist: TIMESTAMP(NANOS), which Spark's
    vectorized reader surfaces as raw long nanos under
    spark.sql.legacy.parquet.nanosAsLong (set by session.posture), and
    TIMESTAMP(MICROS) NTZ, which reads natively as timestamp_ntz. Both
    paths use exact integer microsecond arithmetic
    (timestampadd/timestampdiff against the NTZ epoch) so the result is
    bit-identical to DuckDB's reading of the same parquet and
    independent of the session time zone. `ts_ns`
    matches DuckDB `epoch_ns(ts)` on either generation.

    Any OTHER physical type is an error, not a fallthrough: a plain
    TIMESTAMP (LTZ) here would mean the parquet was read
    instant-adjusted, and silently casting it to timestamp_ntz would
    make every downstream value depend on the session time zone —
    violating the documented DuckDB-parity contract in a way no test
    at UTC would catch.
    """
    from pyspark.sql.types import LongType, TimestampNTZType

    ts_type = df.schema["ts"].dataType
    if isinstance(ts_type, LongType):
        return df.withColumn("ts_ns", F.col("ts")).withColumn(
            "ts",
            F.expr(f"timestampadd(MICROSECOND, ts div 1000, {_EPOCH_NTZ})"),
        )
    if not isinstance(ts_type, TimestampNTZType):
        raise TypeError(
            f"events.ts read as {ts_type}; expected raw long nanos or"
            " timestamp_ntz — a session-tz-dependent type would break"
            " oracle parity (check spark.sql.legacy.parquet.nanosAsLong"
            " / spark.sql.parquet.inferTimestampNTZ.enabled)"
        )
    return df.withColumn("ts_ns", F.expr(
        f"timestampdiff(MICROSECOND, {_EPOCH_NTZ}, ts)"
        " * cast(1000 as bigint)"
    ))


def events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Load `events` with `ts` as timestamp_ntz at microsecond precision
    plus a tz-free `ts_ns` bigint (see normalize_event_ts)."""
    return normalize_event_ts(load_table(spark, sf_dir, "events"))


def r2(c: Column) -> Column:
    """Round a double aggregate to 2 decimals (oracle parity discipline)."""
    return F.round(c, 2)


# re-exported for query modules; implementation lives beside the
# loaders it heals (see tables.widen_scan for the full rationale)
from hcls_data_lake_spark.tables import widen_scan  # noqa: E402, F401


def scratch_dir(*parts: str) -> str:
    return os.path.join(SCRATCH, *parts)


def scratch_for(sf_dir: str, name: str) -> str:
    """Stable per-(sf_dir, purpose) scratch path — hashlib, not hash(),
    so paths are identical across processes (PYTHONHASHSEED-proof)."""
    import hashlib

    digest = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    return os.path.join(SCRATCH, f"{name}_{digest}")
