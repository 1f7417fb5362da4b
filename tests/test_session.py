"""The session posture and conf_scope (hcls_data_lake_spark/session.py).

A query must plan the same in a bare driver-supplied session as in
``get_spark()``: the registry applies the posture to any session that
lacks its marker. ``conf_scope`` is the one save/set/restore for
temporary conf overrides.
"""

from __future__ import annotations

import logging
import threading
from types import SimpleNamespace

import pytest

from hcls_data_lake_spark import registry
from hcls_data_lake_spark.plans import executed_plan
from hcls_data_lake_spark.session import (
    POSTURE_MARKER,
    conf_scope,
    ensure_posture,
    posture,
)


@pytest.fixture
def bare_spark(spark):
    """A sibling session with Spark's own default for every posture
    conf, the marker included — what a foreign driver hands over."""
    s = spark.newSession()
    for key in posture(1):
        s.conf.unset(key)
    assert s.conf.get(POSTURE_MARKER, None) is None
    assert s.conf.get("spark.sql.optimizer.windowGroupLimitThreshold") == "1000"
    assert s.conf.get("spark.sql.shuffle.partitions") == "200"
    return s


@pytest.mark.parametrize("which", ["get_spark", "bare"])
def test_token_budget_plans_window_group_limit(spark, bare_spark, sf_dir, which):
    s = spark if which == "get_spark" else bare_spark
    df = registry.queries()["q_sample_token_budget"](s, sf_dir)
    df.collect()
    assert "WindowGroupLimit" in executed_plan(df)


def test_token_budget_null_text_fails_loudly(spark, sf_dir, tmp_path):
    """The rank prune is exact only while every document has >= 1
    token; a null text must fail the query, not shrink the result."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    docs = pq.read_table(f"{sf_dir}/documents.parquet")
    i = docs.schema.get_field_index("text")
    texts = docs.column(i).to_pylist()
    texts[0] = None
    docs = docs.set_column(i, docs.field(i), pa.array(texts, docs.field(i).type))
    pq.write_table(docs, str(tmp_path / "documents.parquet"))
    df = registry.queries()["q_sample_token_budget"](spark, str(tmp_path))
    with pytest.raises(Exception, match="null documents.text"):
        df.collect()


def test_bare_session_shuffles_at_its_parallelism(bare_spark, sf_dir):
    registry.queries()["q_sample_token_budget"](bare_spark, sf_dir).collect()
    assert bare_spark.conf.get("spark.sql.shuffle.partitions") == str(
        bare_spark.sparkContext.defaultParallelism
    )
    assert bare_spark.conf.get(POSTURE_MARKER, None) is not None


def test_refused_posture_conf_is_logged_and_skipped(caplog):
    refused = "spark.sql.autoBroadcastJoinThreshold"

    class LockedConf(dict):
        def set(self, key, value):
            if key == refused:
                raise RuntimeError("locked by the deployment")
            self[key] = value

    session = SimpleNamespace(
        conf=LockedConf(), sparkContext=SimpleNamespace(defaultParallelism=3)
    )
    with caplog.at_level(logging.WARNING, logger="hcls_data_lake_spark.session"):
        ensure_posture(session)
    assert [r.levelno for r in caplog.records] == [logging.WARNING]
    assert refused in caplog.records[0].getMessage()
    assert refused not in session.conf
    assert session.conf["spark.sql.shuffle.partitions"] == "3"
    assert session.conf[POSTURE_MARKER] == "1"


def test_conf_scope_restores_previous_value_on_exception(spark):
    s = spark.newSession()
    key = "spark.sql.autoBroadcastJoinThreshold"
    before = s.conf.get(key)
    with pytest.raises(RuntimeError):
        with conf_scope(s, {key: "-1"}):
            assert s.conf.get(key) == "-1"
            raise RuntimeError("body failed")
    assert s.conf.get(key) == before


def test_conf_scope_unsets_previously_unset_key(spark):
    s = spark.newSession()
    key = "spark.sql.sources.partitionOverwriteMode"
    assert s.conf.get(key, None) is None
    with conf_scope(s, {key: "dynamic"}):
        assert s.conf.get(key) == "dynamic"
    assert s.conf.get(key, None) is None


def test_conf_scope_nests_on_one_thread(spark):
    s = spark.newSession()
    key = "spark.sql.shuffle.partitions"
    before = s.conf.get(key)
    seen = []

    def nested():
        with conf_scope(s, {key: "7"}):
            with conf_scope(s, {key: "3"}):
                seen.append(s.conf.get(key))
            seen.append(s.conf.get(key))

    worker = threading.Thread(target=nested, daemon=True)
    worker.start()
    worker.join(timeout=60)
    assert not worker.is_alive(), "nested conf_scope deadlocked"
    assert seen == ["3", "7"]
    assert s.conf.get(key) == before


def test_events_leaves_nanos_as_long_conf_alone(spark, sf_dir):
    """nanosAsLong is decided by the posture, not by each events load: a
    caller holding it at "false" still reads "false" after the load."""
    from hcls_data_lake_spark.queries import common

    key = "spark.sql.legacy.parquet.nanosAsLong"
    assert posture(1)[key] == "true"
    with conf_scope(spark, {key: "false"}):
        common.events(spark, sf_dir)
        assert spark.conf.get(key) == "false"
