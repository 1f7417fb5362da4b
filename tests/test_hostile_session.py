"""Hostile-session parity: the driver contract says queries run in
WHATEVER session the harness supplies. The engine's tz-independence
rests on timestamp_ntz discipline (queries/common.normalize_event_ts)
and integer epoch arithmetic — this suite proves it by re-running the
most timezone- and parallelism-sensitive queries through the oracle
compare in a session deliberately configured like a foreign driver:
America/New_York session time zone and 200 shuffle partitions.
(The sibling session inherits the posture marker from `get_spark`, so
the registry leaves both confs as set here; the registry never touches
the time zone of any session — correctness must not depend on it.)
"""

from __future__ import annotations

import pytest

from hcls_data_lake_spark import registry
from tests.parity import compare

# timezone-sensitive: event-time windows, date functions, watermarked
# streaming emission, as-of ordering; parallelism-sensitive: windowed
# sessionization, sort+limit boundaries
HOSTILE_SET = [
    "q_fn_date",
    "q_join_asof",
    "q_stream_tumbling",
    "q_stream_watermark_late",
    "q_stream_outer_join",
    "q_stream_dedup_within_watermark",
    "q_ts_ohlc",
    "q_ts_sessionize",
    "q_sort_limit",
    "q_ts_interpolate",          # hourly NTZ grid over ts_ns
    "q_ts_gapfill",              # same grid (latent tz bug caught here)
    "q_sink_backfill_overwrite", # to_date(ts) partition keys + target day
    "q_analytics_promo",         # trunc(date)->ntz month (2nd tz catch)
    "q_udf_parse_er7",           # r11: date_format(DATE) now hash-pinned
    # r11 hostile-sweep catch: Arrow ships TIMESTAMP to pandas as
    # SESSION-LOCAL wall time, which shifted TWS session bounds and
    # timer registrations by the UTC offset (fixed: JVM-side
    # unix_micros; stateful._session_runs never parses timestamps)
    "q_stream_tws_timers",
    "q_stream_tws_state_reader",
]


@pytest.fixture(scope="module")
def hostile_spark(spark):
    """A sibling session over the same SparkContext with a hostile SQL
    conf: session confs are per-SparkSession, so the tz/partition
    changes never leak into the shared test session."""
    s = spark.newSession()
    s.conf.set("spark.sql.session.timeZone", "America/New_York")
    s.conf.set("spark.sql.shuffle.partitions", "200")
    return s


@pytest.mark.parametrize("name", HOSTILE_SET)
def test_hostile_session_parity(hostile_spark, sf_dir, name):
    assert (
        hostile_spark.conf.get("spark.sql.session.timeZone")
        == "America/New_York"
    )
    qs = registry.queries()
    oracles = registry.oracle_sql()
    ok, msg = compare(hostile_spark, sf_dir, name, qs[name], oracles.get(name))
    assert ok, f"{name} under hostile session: {msg}"
    # the query ran at the hostile parallelism, not a registry reset
    assert hostile_spark.conf.get("spark.sql.shuffle.partitions") == "200"
