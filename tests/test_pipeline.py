"""End-to-end pipeline test mirroring the reference's smoke test
(SURVEY.md §5.2.3: test_services.py recast as DataFrame assertions).

Feed the 11 corpus messages + 1 junk payload through ingest→stage,
assert zone routing, dedup rejection on resend, and the authz matrix.
"""

from __future__ import annotations

import base64

import pytest
from pyspark.sql import functions as F

from hcls_data_lake_spark.pipeline.ingest import (
    attach_envelope,
    authz_write_gate,
    decode_base64,
    dedup_against_registry,
    rejected_authz,
    with_content_hash,
)
from hcls_data_lake_spark.pipeline.staging import stage_er7
from hcls_data_lake_spark.pipeline.zones import (
    object_key,
    point_lookup,
    zone_for_event,
)
from tests.test_hl7 import MESSAGES

JUNK = "I'm just a random number: 42"  # test_services.py:75 behavior


@pytest.fixture(scope="module")
def wire_df(spark):
    rows = [
        (i, base64.b64encode(m.encode()).decode(), "hospital_a")
        for i, (_, m) in enumerate(MESSAGES)
    ]
    rows.append((len(rows), base64.b64encode(JUNK.encode()).decode(), "hospital_a"))
    # a reader-only user (no write claim) attempting a write -> rejected
    rows.append((len(rows) + 1, base64.b64encode(JUNK.encode()).decode(), None))
    return spark.createDataFrame(
        rows, "message_id long, msg_b64 string, writer_institution string"
    )


def _ingest(wire, registry):
    decoded = decode_base64(wire)
    admitted = dedup_against_registry(
        with_content_hash(authz_write_gate(decoded)), registry
    )
    return attach_envelope(admitted)


def test_ingest_counts_and_authz(spark, wire_df):
    empty_registry = spark.createDataFrame([], "msg_hash string")
    ingested = _ingest(wire_df, empty_registry)
    # 12 authorized messages (11 corpus + junk); 1 rejected for no claim
    assert ingested.count() == 12
    assert rejected_authz(decode_base64(wire_df)).count() == 1
    # envelope attached (A6)
    row = ingested.first()
    assert row.event == "ingested" and row.protocol == "hl7v2" and row.format == "er7"


def test_dedup_rejects_resend(spark, wire_df):
    empty_registry = spark.createDataFrame([], "msg_hash string")
    first = _ingest(wire_df, empty_registry)
    registry = first.select("msg_hash")
    resend = _ingest(wire_df, registry)
    assert resend.count() == 0  # full resend -> all rejected (400 path)


def test_staging_routes_parse_failures(spark, wire_df):
    empty_registry = spark.createDataFrame([], "msg_hash string")
    ingested = _ingest(wire_df, empty_registry)
    staged, errored = stage_er7(ingested)
    staged_n = staged.count()
    errored_n = errored.count()
    # junk fails parse -> error zone; all corpus messages parse
    assert errored_n == 1
    assert staged_n == 11
    assert staged.filter(F.col("format") == "json").count() == staged_n
    err = errored.first()
    assert err.format == "txt" and err.event == "error"
    # staged docs are valid JSON with MSH
    assert staged.filter(F.get_json_object("msg", "$.MSH").isNotNull()).count() == staged_n


def test_strict_staging_dead_letters_unknown_segment(spark):
    """Reference dead-letter parity for STRUCTURALLY VALID but
    version-unknown messages (parse_er7_lambda.py:35-38 raises,
    trigger_lambda.py:32-36 routes to error): under strict staging a
    well-formed message carrying a Z-segment unknown to the vendored
    grammar lands in the error zone with its original ER7 payload,
    while the same chain in lenient mode stages it."""
    valid = "MSH|^~\\&|A|B|C|D|20240101||ADT^A01|77|P|2.5\rPID|1||42"
    unknown = valid + "\rZBE|1|site-extension"
    wire = spark.createDataFrame(
        [
            (0, base64.b64encode(valid.encode()).decode(), "hospital_a"),
            (1, base64.b64encode(unknown.encode()).decode(), "hospital_a"),
        ],
        "message_id long, msg_b64 string, writer_institution string",
    )
    empty_registry = spark.createDataFrame([], "msg_hash string")
    ingested = _ingest(wire, empty_registry)

    staged, errored = stage_er7(ingested, strict=True)
    assert staged.count() == 1 and errored.count() == 1
    err = errored.first()
    assert err.message_id == 1
    assert err.event == "error" and err.format == "txt"
    assert "ZBE|1|site-extension" in err.er7  # original payload kept

    lenient_staged, lenient_errored = stage_er7(ingested)
    assert lenient_staged.count() == 2 and lenient_errored.count() == 0


def test_zone_routing_and_keys(spark, wire_df):
    empty_registry = spark.createDataFrame([], "msg_hash string")
    ingested = _ingest(wire_df, empty_registry)
    routed = object_key(zone_for_event(ingested))
    assert routed.filter(F.col("zone") == "ingestion").count() == 12
    key = routed.first().object_key
    assert key.startswith("ingestion/protocol=hl7v2/") and key.endswith(".er7")


def test_retrieval_point_lookup_with_authz(spark, wire_df):
    empty_registry = spark.createDataFrame([], "msg_hash string")
    ingested = object_key(zone_for_event(_ingest(wire_df, empty_registry)))
    catalog = ingested.select("message_id", "zone", "object_key", "source")
    zone_tbl = ingested.select("message_id", "msg")
    hit = point_lookup(catalog, zone_tbl, 0, ["hospital_a"])
    assert hit.count() == 1
    # reader without the right claim sees nothing (A20 matrix)
    denied = point_lookup(catalog, zone_tbl, 0, ["other_clinic"])
    assert denied.count() == 0


def test_retrieval_format_leg(spark, wire_df):
    """The route's format parameter
    (GET /hl7v2/format/{format}/msg_uuid/{id}, hcdl_stack.txt:503-510):
    same message id, format predicate selects or rejects."""
    empty_registry = spark.createDataFrame([], "msg_hash string")
    ingested = object_key(zone_for_event(_ingest(wire_df, empty_registry)))
    catalog = ingested.select(
        "message_id", "zone", "object_key", "source", "format"
    )
    zone_tbl = ingested.select("message_id", "msg")
    assert point_lookup(catalog, zone_tbl, 0, ["hospital_a"], fmt="er7").count() == 1
    assert point_lookup(catalog, zone_tbl, 0, ["hospital_a"], fmt="json").count() == 0
    # fmt composes with the claims gate: right format, wrong claim
    assert point_lookup(catalog, zone_tbl, 0, ["other_clinic"], fmt="er7").count() == 0


def test_lake_lifecycle_streaming_promotion(spark, wire_df, tmp_path):
    """Full lake lifecycle: ingest -> ingestion zone (parquet,
    partitioned by protocol) -> STREAMING promotion -> staging/error
    zones — the reference's event-driven staging path (SURVEY §3.2) as
    one Structured Streaming query."""
    from hcls_data_lake_spark.pipeline.jobs import promote_ingestion_stream
    from hcls_data_lake_spark.pipeline.zones import read_zone, write_zone

    lake = str(tmp_path / "lake")
    empty_registry = spark.createDataFrame([], "msg_hash string")
    ingested = _ingest(wire_df, empty_registry)
    write_zone(ingested, lake, "ingestion", mode="overwrite")

    schema = ("message_id long, msg_b64 string, writer_institution string,"
              " msg string, msg_hash string, event string, protocol string,"
              " format string, source string")
    promote_ingestion_stream(spark, lake, schema)

    staged = read_zone(spark, lake, "staging")
    errored = read_zone(spark, lake, "error")
    assert staged.count() == 11
    assert errored.count() == 1
    # staged zone is hive-partitioned by protocol (core_stack.yml:151)
    import os
    assert os.path.isdir(f"{lake}/staging/protocol=hl7v2")

    # INCREMENTAL across invocations: the stable checkpoint remembers
    # processed ingestion files, so a re-run with no new files must
    # promote nothing (an ephemeral checkpoint would re-read the whole
    # zone and duplicate every staged row)
    promote_ingestion_stream(spark, lake, schema)
    assert read_zone(spark, lake, "staging").count() == 11
    assert read_zone(spark, lake, "error").count() == 1


def test_batch_promotion_is_idempotent(spark, wire_df, tmp_path):
    """The batch form is a full recompute of the staging and error zones
    from the whole ingestion zone: a second call on the same lake leaves
    exactly the ids one call left (appending would duplicate them)."""
    from hcls_data_lake_spark.pipeline.jobs import promote_ingestion_batch
    from hcls_data_lake_spark.pipeline.zones import read_zone, write_zone

    lake = str(tmp_path / "lake")
    empty_registry = spark.createDataFrame([], "msg_hash string")
    write_zone(_ingest(wire_df, empty_registry), lake, "ingestion")

    def zone_ids():
        return {
            zone: sorted(
                r.message_id
                for r in read_zone(spark, lake, zone).select("message_id").collect()
            )
            for zone in ("staging", "error")
        }

    promote_ingestion_batch(spark, lake)
    once = zone_ids()
    assert len(once["staging"]) == 11 and len(once["error"]) == 1
    promote_ingestion_batch(spark, lake)
    assert zone_ids() == once


def test_compact_zone_shrinks_files_preserves_rows(spark, tmp_path):
    from hcls_data_lake_spark.pipeline.jobs import compact_zone

    zone = str(tmp_path / "staging")
    df = spark.range(0, 5000).withColumn("protocol", F.lit("hl7v2"))
    # the reference's one-object-per-message pattern: many tiny files
    df.repartition(64).write.partitionBy("protocol").parquet(zone)

    before = spark.read.parquet(zone)
    before_sum = before.agg(F.sum("id")).collect()[0][0]

    stats = compact_zone(
        spark, zone, target_rows_per_file=10_000, partition_col="protocol"
    )
    assert stats["rows"] == 5000
    assert stats["files_before"] >= 32
    assert stats["files_after"] < stats["files_before"]
    assert stats["files_after"] <= 2

    after = spark.read.parquet(zone)
    assert after.count() == 5000
    assert after.agg(F.sum("id")).collect()[0][0] == before_sum
    # partition layout preserved
    assert after.filter(F.col("protocol") == "hl7v2").count() == 5000


def test_expire_zone_drops_old_rows(spark, tmp_path):
    from hcls_data_lake_spark.pipeline.jobs import expire_zone

    zone = str(tmp_path / "ingestion")
    df = spark.range(0, 1000).selectExpr(
        "id",
        "CASE WHEN id < 300 THEN timestamp'2023-01-01' "
        "ELSE timestamp'2025-01-01' END AS ingest_ts",
        "'hl7v2' AS protocol",
    )
    df.write.partitionBy("protocol").parquet(zone)

    stats = expire_zone(
        spark, zone, "ingest_ts", "2024-01-01", partition_col="protocol"
    )
    assert stats == {"rows_before": 1000, "rows_kept": 700, "rows_expired": 300}
    back = spark.read.parquet(zone)
    assert back.count() == 700
    assert back.filter("ingest_ts < timestamp'2024-01-01'").count() == 0


def test_observe_collects_qc_metrics_in_one_pass(spark, sf_dir):
    """df.observe: QC counters (row counts, null counts, sums) ride the
    SAME action that materializes the data — the zero-extra-scan form
    of q_analytics_expectations for pipelines that are already writing.
    At 100 TB a separate validation scan doubles the read; observe
    makes validation free."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    obs = Observation("qc")
    instrumented = li.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("l_quantity") > 50, 1).otherwise(0)).alias(
            "qty_violations"
        ),
        F.sum(F.when(F.col("l_orderkey").isNull(), 1).otherwise(0)).alias(
            "null_keys"
        ),
    )
    n_out = instrumented.filter(F.col("l_returnflag") == "R").count()
    metrics = obs.get
    assert metrics["n_rows"] == li.count()
    assert metrics["qty_violations"] == 0
    assert metrics["null_keys"] == 0
    assert 0 < n_out < metrics["n_rows"]


def test_reconcile_catalog_finds_orphans_and_dangling(spark, tmp_path):
    """reconcile_catalog: zone rows missing from the catalog (orphans)
    and catalog entries whose object is gone (dangling) are both
    surfaced; a consistent pair reports clean."""
    from hcls_data_lake_spark.pipeline.jobs import reconcile_catalog

    zone = str(tmp_path / "staging")
    spark.createDataFrame(
        [(f"m{i}", f"payload{i}") for i in range(10)],
        "message_id string, body string",
    ).write.parquet(zone)
    # catalog knows m0..m7 in staging (m8, m9 orphaned) plus two
    # entries whose objects don't exist (mX dangling, mY other zone)
    catalog = spark.createDataFrame(
        [(f"m{i}", "staging") for i in range(8)]
        + [("mX", "staging"), ("mY", "error")],
        "message_id string, zone string",
    )
    report = reconcile_catalog(spark, catalog, zone, "staging")
    assert report["n_zone_rows"] == 10
    assert report["n_catalog_rows"] == 9  # zone-scoped: mY excluded
    assert report["n_orphans"] == 2
    assert sorted(report["orphan_sample"]) == ["m8", "m9"]
    assert report["n_dangling"] == 1
    assert report["dangling_sample"] == ["mX"]
    assert report["consistent"] is False

    fixed = catalog.filter("message_id <> 'mX'").union(
        spark.createDataFrame(
            [("m8", "staging"), ("m9", "staging")],
            "message_id string, zone string",
        )
    )
    assert reconcile_catalog(spark, fixed, zone, "staging")["consistent"]


def test_full_lifecycle_source_to_reconciled_lake(spark, tmp_path):
    """Capstone lifecycle run: er7gen source -> wire encode -> ingest
    (decode/authz/hash/dedup) -> stage (prepare/parse/route) -> zone
    writes + catalog -> compact -> reconcile -> expire -> reconcile.
    Every job composes on the same DataFrames; the catalog stays
    consistent through compaction (a rewrite must never lose ids) and
    flags dangling entries after expiry (retention ran ahead of the
    catalog — the gap reconcile_catalog exists to surface)."""
    import base64

    from hcls_data_lake_spark.pipeline.jobs import (
        compact_zone,
        expire_zone,
        reconcile_catalog,
    )
    from hcls_data_lake_spark.pipeline.zones import catalog_entries, write_zone
    from hcls_data_lake_spark.sources.er7_source import register_er7_source

    lake = str(tmp_path / "lake")
    register_er7_source(spark)
    feed = (
        spark.read.format("er7gen").option("n", 60).option("numPartitions", 4)
        .load()
    )
    b64 = F.base64(F.encode(F.col("er7"), "UTF-8"))
    wire = feed.select(
        F.col("msg_id").alias("message_id"),
        b64.alias("msg_b64"),
        F.col("sending_app").alias("writer_institution"),
    )
    registry = spark.createDataFrame([], "msg_hash string")
    admitted = _ingest(wire, registry)
    staged, errored = stage_er7(admitted)
    assert staged.count() == 60 and errored.count() == 0

    zoned = object_key(zone_for_event(staged.withColumn("event", F.lit("staged")), "event"))
    write_zone(zoned, lake, "staging")
    catalog = catalog_entries(zoned, lake).localCheckpoint(eager=True)

    rep = reconcile_catalog(spark, catalog, f"{lake}/staging", "staging")
    assert rep["consistent"] and rep["n_zone_rows"] == 60

    stats = compact_zone(
        spark, f"{lake}/staging", target_rows_per_file=100,
        partition_col="protocol",
    )
    assert stats["rows"] == 60
    rep2 = reconcile_catalog(spark, catalog, f"{lake}/staging", "staging")
    assert rep2["consistent"], "compaction must not change membership"

    # retention: expire the odd half by a synthetic event-time column,
    # catalog not yet updated -> reconcile flags the dangling entries
    zone_df = spark.read.parquet(f"{lake}/staging").withColumn(
        "event_ts",
        F.when(F.col("message_id") % 2 == 0, F.lit("2025-06-01")).otherwise(
            F.lit("2023-01-01")
        ),
    )
    zone_df.write.mode("overwrite").partitionBy("protocol").parquet(
        f"{lake}/staging2"
    )
    expire_zone(
        spark, f"{lake}/staging2", "event_ts", "2024-01-01",
        partition_col="protocol",
    )
    rep3 = reconcile_catalog(spark, catalog, f"{lake}/staging2", "staging")
    assert not rep3["consistent"]
    assert rep3["n_dangling"] == 30 and rep3["n_orphans"] == 0
