"""Focused tests for operators.ordered.grouped_cumsum — the one-shuffle
per-group running-sum decomposition that replaces fact-sized windows
partitioned by low-cardinality keys (r13).

The reference is the exact window plan it replaces: same per-group
inclusive prefix sums, same totals, for every row — including null
group keys, float and integer inputs, and carries across multiple
Arrow batches inside one partition (maxRecordsPerBatch is forced tiny
so every partition spans several batches).
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from hcls_data_lake_spark.operators.ordered import grouped_cumsum
from hcls_data_lake_spark.session import conf_scope


@pytest.fixture(scope="module")
def small_batches(spark):
    with conf_scope(spark, {"spark.sql.execution.arrow.maxRecordsPerBatch": "97"}):
        yield


def _data(spark, n=4000, seed=11):
    rng = random.Random(seed)
    rows = [
        (
            rng.choice(["a", "b", "c", None, "dd"]),
            rng.randint(0, 50),
            rng.randint(0, 400) / 4.0,
            i,
        )
        for i in range(n)
    ]
    return spark.createDataFrame(
        rows, "grp string, wt bigint, x double, id bigint"
    )


def test_matches_window_reference(spark, small_batches):
    df = _data(spark)
    got = grouped_cumsum(
        df,
        "grp",
        [F.col("wt"), F.col("id")],
        cumsums={"cw": "wt", "cx": "x"},
        totals={"tw": "wt"},
        num_partitions=7,
    )
    w = Window.partitionBy("grp").orderBy("wt", "id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    ref = df.select(
        "grp",
        "wt",
        "x",
        "id",
        F.sum("wt").over(w).alias("cw"),
        F.sum("x").over(w).alias("cx"),
        F.sum("wt").over(Window.partitionBy("grp")).alias("tw"),
    )
    cols = ["grp", "wt", "x", "id", "cw", "cx", "tw"]
    assert {tuple(r) for r in got.select(*cols).collect()} == {
        tuple(r) for r in ref.collect()
    }


def test_descending_order_and_row_count(spark, small_batches):
    df = _data(spark, n=1500, seed=23)
    got = grouped_cumsum(
        df,
        "grp",
        [F.col("wt").desc(), F.col("id")],
        cumsums={"cw": "wt"},
        num_partitions=5,
    )
    w = Window.partitionBy("grp").orderBy(
        F.col("wt").desc(), "id"
    ).rowsBetween(Window.unboundedPreceding, 0)
    ref = df.select("grp", "wt", "id", F.sum("wt").over(w).alias("cw"))
    assert got.count() == df.count()
    assert {tuple(r) for r in got.select("grp", "wt", "id", "cw").collect()} == {
        tuple(r) for r in ref.collect()
    }


def test_rejects_non_numeric_input(spark):
    df = _data(spark, n=10)
    with pytest.raises(TypeError):
        grouped_cumsum(df, "grp", [F.col("id")], cumsums={"c": "grp"})


def test_plan_has_no_low_cardinality_fact_window(spark):
    """The point of the operator: the only WindowExec in the plan runs
    over the partition-count-bounded offsets relation, never over the
    input rows keyed by grp."""
    df = _data(spark, n=800, seed=5)
    got = grouped_cumsum(
        df, "grp", [F.col("id")], cumsums={"cw": "wt"}, num_partitions=4
    )
    plan = got._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "MapInArrow" in plan
    assert "BroadcastHashJoin" in plan
    # the tiny offsets window is partitioned by _cggrp over the
    # per-(pid, grp) aggregate, not over the raw rows
    assert plan.count("Window") <= 2


def test_grouped_running_max_matches_window(spark, small_batches):
    from hcls_data_lake_spark.operators.ordered import grouped_running_max

    df = _data(spark, n=3000, seed=41).withColumn(
        "delta", (F.col("wt") - F.lit(25)).cast("bigint")
    )
    got = grouped_running_max(
        df,
        "grp",
        [F.col("id")],
        "delta",
        "peak",
        num_partitions=6,
    )
    w = Window.partitionBy("grp").orderBy("id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    ref = (
        df.withColumn("run", F.sum("delta").over(w))
        .groupBy("grp")
        .agg(F.max("run").alias("peak"))
    )
    assert {tuple(r) for r in got.collect()} == {
        tuple(r) for r in ref.collect()
    }
