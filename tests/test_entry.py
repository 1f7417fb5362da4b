"""Smoke tests for the driver contract (__spark_entry__)."""

from __future__ import annotations

import __spark_entry__ as entrymod


def test_entry_returns_rows(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(df.columns) >= {"l_returnflag", "l_linestatus", "sum_qty", "count_order"}


def test_every_query_has_callable(spark):
    qs = entrymod.queries()
    assert len(qs) >= 80
    for name, fn in qs.items():
        assert callable(fn), name


def test_oracles_subset_of_queries():
    qs = entrymod.queries()
    for name in entrymod.oracle_sql():
        assert name in qs


def test_sql_text_surface(spark, sf_dir):
    """Plain-SQL querying over registered lake views (the staged-zone
    analytics surface)."""
    from hcls_data_lake_spark.tables import register_views

    register_views(spark, sf_dir)
    out = spark.sql(
        """
        SELECT n.n_name, COUNT(*) AS n_cust
        FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY n.n_name ORDER BY n_cust DESC LIMIT 3
        """
    ).collect()
    assert len(out) == 3 and out[0].n_cust >= out[2].n_cust
    # events view has the repaired timestamp type
    t = dict(spark.sql("SELECT * FROM events").dtypes)["ts"]
    assert t.startswith("timestamp")


def test_sampled_prefix_has_oracles():
    """Correctness harnesses sample the first 50 names; each must have
    oracle SQL to diff against."""
    oracles = entrymod.oracle_sql()
    assert [n for n in list(entrymod.queries())[:50] if n not in oracles] == []
