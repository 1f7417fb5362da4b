"""SparkSession factory and the engine's one session posture.

100 TB posture (SURVEY.md §4/§6): AQE on (runtime join selection, skew
splitting, shuffle-partition coalescing), Arrow for every Python
boundary, broadcast joins for dims under threshold, and shuffle
parallelism equal to the session's parallelism. ``posture`` is the only
place these runtime SQL confs are decided: ``get_spark`` passes them
through the builder, and the registry applies them once (``ensure_posture``)
to a driver-supplied session that lacks the marker. On a real cluster
the same confs apply; only the master and the parallelism change.

``conf_scope`` is the one way code overrides a session conf for a
stretch of work and puts it back afterwards.
"""

from __future__ import annotations

import logging
import os
import threading
from collections.abc import Iterator, Mapping
from contextlib import contextmanager

from pyspark.sql import SparkSession

log = logging.getLogger(__name__)

# q_sample_token_budget's per-source token budget. Its rank<=budget
# prune only reaches the map side (WindowGroupLimit) when the budget is
# within windowGroupLimitThreshold, so the posture sets the threshold
# from this same number.
TOKEN_BUDGET = 3000

# Set by the posture itself; sessions from newSession() inherit it, so a
# sibling session keeps whatever confs its creator chose on top of it.
POSTURE_MARKER = "spark.hcls.posture"


def posture(parallelism: int | str) -> dict[str, str]:
    """The runtime SQL confs every engine session runs with."""
    return {
        "spark.sql.shuffle.partitions": str(parallelism),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        # InferWindowGroupLimit pushes rank<=k filters below the window
        # exchange (partial top-k per map task) but only fires for
        # k <= this threshold (default 1000). The rule is
        # scale-independent (it strictly reduces shuffled rows whenever
        # it fires), so raising the cap is safe for every other query.
        "spark.sql.optimizer.windowGroupLimitThreshold": str(TOKEN_BUDGET),
        # The older events fixture generation stores TIMESTAMP(NANOS),
        # which Spark reads only as raw long nanos under this flag
        # (queries/common.normalize_event_ts). It is read when the scan
        # is planned, at the caller's action, so no conf_scope around
        # query construction can hold it: the posture decides it.
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        POSTURE_MARKER: "1",
    }


def get_spark(app_name: str = "hcls-data-lake-spark") -> SparkSession:
    """Local session for tests/bench; the driver may supply its own."""
    # Vendored-protobuf activation MUST precede JVM launch: the
    # bootstrap rides PYTHONPATH into the Python workers, whose env is
    # frozen when the JVM starts (compat/protobuf_vendor.py). No-op
    # when a real protobuf installation exists or none can be found.
    from hcls_data_lake_spark.compat.protobuf_vendor import (
        ensure_protobuf_env,
    )

    ensure_protobuf_env()
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config(map=posture(cpus))
    )
    return builder.getOrCreate()


def ensure_posture(spark: SparkSession) -> None:
    """Apply the posture to a session that lacks the marker (a
    driver-supplied one), sizing shuffle partitions from its
    parallelism. Never touches static confs or the session time zone.
    A conf the session refuses is logged and skipped: a locked-down
    session still runs, just less tuned."""
    if spark.conf.get(POSTURE_MARKER, None) is not None:
        return
    for key, value in posture(spark.sparkContext.defaultParallelism).items():
        try:
            spark.conf.set(key, value)
        except Exception as exc:  # noqa: BLE001 — any refusal is non-fatal
            log.warning("session refused posture conf %s=%s: %s", key, value, exc)


# Re-entrant: scopes nest (a RocksDB provider scope wraps run_to_memory's).
_SCOPE_LOCK = threading.RLock()


@contextmanager
def conf_scope(spark: SparkSession, confs: Mapping[str, str]) -> Iterator[None]:
    """Set ``confs`` on ``spark`` for the body, then restore each key to
    its previous value, or unset it if it was unset before. Session
    confs are global to every caller of the session, so scopes hold one
    module lock: overlapping scopes would interleave save and restore
    and leave the session on the wrong value for every later query."""
    with _SCOPE_LOCK:
        saved = {key: spark.conf.get(key, None) for key in confs}
        try:
            for key, value in confs.items():
                spark.conf.set(key, value)
            yield
        finally:
            for key, value in saved.items():
                if value is None:
                    spark.conf.unset(key)
                else:
                    spark.conf.set(key, value)
