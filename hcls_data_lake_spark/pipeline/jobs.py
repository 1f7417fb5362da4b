"""Lake lifecycle jobs: zone promotion in batch and streaming.

SURVEY.md §1.2: zone promotion (ingestion→staging) is a job, not an
object copy. Batch form recomputes the staged/error zones from the
whole ingestion zone; streaming form watches the ingestion zone as a
file source (A18) and appends every micro-batch through the same
transform (one code path for both — the §1.5 batch/stream duality).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from hcls_data_lake_spark.pipeline.zones import write_zone
from hcls_data_lake_spark.streaming.runner import run_foreach_batch


def _route_batch(batch_df: DataFrame, lake_root: str, mode: str) -> None:
    """Route one (micro-)batch to staging/error zones, written with
    ``mode`` (``"overwrite"`` replaces both zones, ``"append"`` adds).

    The parse boundary is the expensive stage, and staging and error
    are two separate write actions over the same parsed frame — pin it
    so the filter→prepare→parse chain runs once per batch, not once
    per zone. Delivery is AT-LEAST-ONCE under foreachBatch replay
    (plain appends). A zone that needs exactly-once commits each batch
    as a manifest version fenced on its batch id: stream into
    ``format("manifestsink")`` (sources/manifest_sink.py), or call
    ``manifest.commit(df, root, meta={"batch_id": id},
    txn_key="batch_id")`` inside foreachBatch; a replayed id then
    writes nothing (see
    tests/test_manifest.py::test_manifest_sink_is_exactly_once_under_replay)."""
    from hcls_data_lake_spark.pipeline.staging import parse, prepare, route
    from hcls_data_lake_spark.pipeline.ingest import subscription_filter

    parsed = parse(
        prepare(subscription_filter(batch_df, "hl7v2", "er7"))
    ).persist()
    try:
        staged, errored = route(parsed)
        write_zone(staged, lake_root, "staging", mode)
        write_zone(errored, lake_root, "error", mode)
    finally:
        parsed.unpersist()


def promote_ingestion_batch(spark: SparkSession, lake_root: str) -> None:
    """One-shot full recompute: re-stage the whole ingestion zone and
    REPLACE the staging and error zones with the result, so running it
    again on the same lake leaves the same rows. Incremental promotion
    (only files not yet promoted, appended) is the stream form,
    ``promote_ingestion_stream``."""
    ingested = spark.read.parquet(f"{lake_root}/ingestion")
    _route_batch(ingested, lake_root, "overwrite")


def promote_ingestion_stream(
    spark: SparkSession, lake_root: str, schema: str
) -> None:
    """Streaming promotion: new ingestion-zone files are discovered by
    the file source and routed to staging/error zones per micro-batch
    (the SNS→trigger→StepFunction path of SURVEY §3.2 as one query).

    The checkpoint is STABLE, under the lake root: the file source's
    memory of which ingestion files it already processed lives there,
    so repeated invocations promote only NEW files. An ephemeral
    checkpoint would re-read the whole zone and append duplicates on
    every call."""
    sdf = spark.readStream.schema(schema).parquet(f"{lake_root}/ingestion")
    run_foreach_batch(
        sdf,
        lambda df, _id: _route_batch(df, lake_root, "append"),
        checkpoint=f"{lake_root}/_checkpoints/promote_ingestion",
    )


def _swap_zone(zone_path: str, tmp: str) -> None:
    """Replace ``zone_path`` with ``tmp`` via rename-aside: the old zone
    is renamed to ``<zone>__old`` BEFORE the new one moves into place, so
    a crash at any point leaves a complete copy of the data on disk
    (either still at ``zone_path``, or at ``__old`` with the new copy at
    ``tmp``) — never a missing zone. The window where ``zone_path``
    itself does not exist is two renames wide, not a full recursive
    delete; this is crash-safe but NOT reader-atomic — true atomicity
    needs a transactional table format (Delta/Iceberg commit)."""
    import os
    import shutil

    old = zone_path.rstrip("/") + "__old"
    shutil.rmtree(old, ignore_errors=True)
    os.rename(zone_path, old)
    os.rename(tmp, zone_path)
    shutil.rmtree(old)


def compact_zone(
    spark: SparkSession,
    zone_path: str,
    target_rows_per_file: int = 1_000_000,
    partition_col: str | None = None,
) -> dict:
    """Small-file compaction for a zone.

    The reference persists ONE object per message (core_stack.yml:155-160)
    — at lake scale that's the classic small-file problem: scans pay a
    per-file open cost and the driver pays a per-file listing cost. This
    job rewrites a zone into ~target-sized files: read → repartition to
    ceil(rows/target) → crash-safe swap (write to a sibling temp dir,
    rename the old zone aside, move the new one in — see ``_swap_zone``),
    preserving the hive partition layout when ``partition_col`` is given.

    On a real deployment the swap is a transactional-format commit
    (Delta/Iceberg rewriteDataFiles), which is also reader-atomic; the
    operator shape — read, coalesce to target size, replace — is
    identical.

    Returns {"rows": n, "files_before": a, "files_after": b}.
    """
    import math
    import os
    import shutil

    def _count_files(root: str) -> int:
        total = 0
        for _dir, _subdirs, files in os.walk(root):
            total += sum(
                1 for f in files
                if not f.startswith(("_", ".")) and f.endswith(".parquet")
            )
        return total

    df = spark.read.parquet(zone_path)
    n_rows = df.count()
    files_before = _count_files(zone_path)
    n_files = max(1, math.ceil(n_rows / target_rows_per_file))
    tmp = zone_path.rstrip("/") + "__compacting"
    shutil.rmtree(tmp, ignore_errors=True)
    if n_rows == 0:
        # same guard as expire_zone: a zero-row PARTITIONED write
        # emits only _SUCCESS (UNABLE_TO_INFER_SCHEMA on read-back);
        # one un-partitioned empty part file keeps the zone readable
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
    else:
        writer = df.repartition(n_files).write.mode("overwrite")
        if partition_col:
            writer = writer.partitionBy(partition_col)
        writer.parquet(tmp)
    _swap_zone(zone_path, tmp)
    return {
        "rows": n_rows,
        "files_before": files_before,
        "files_after": _count_files(zone_path),
    }


def expire_zone(
    spark: SparkSession,
    zone_path: str,
    ts_col: str,
    cutoff: str,
    partition_col: str | None = None,
) -> dict:
    """Retention/TTL job: rewrite a zone keeping only rows with
    ``ts_col >= cutoff`` (the data-lifecycle complement of
    ``compact_zone``; the reference's versioned S3 bucket implies
    lifecycle policies, core_stack.yml:27-28 — here expiry is a
    predicate rewrite so it composes with the catalog and stays
    format-agnostic).

    Same crash-safe swap mechanics as compact_zone (``_swap_zone``); on
    a transactional format this becomes a DELETE WHERE. Returns row
    counts.
    """
    import os
    import shutil

    from pyspark.sql import functions as F

    df = spark.read.parquet(zone_path)
    total = df.count()
    # NULL timestamps are KEPT, not expired: `NULL >= cutoff` filters
    # false, so without the isNull clause a retention pass would
    # silently delete every row whose timestamp failed to parse —
    # exactly the rows a TTL policy must be conservative about
    kept_df = df.filter(
        F.col(ts_col).isNull() | (F.col(ts_col) >= F.lit(cutoff))
    )
    kept = kept_df.count()
    tmp = zone_path.rstrip("/") + "__expiring"
    shutil.rmtree(tmp, ignore_errors=True)
    if kept == 0:
        # a fully-partitioned empty write emits only _SUCCESS, which is
        # unreadable (UNABLE_TO_INFER_SCHEMA); a single un-partitioned
        # empty part file keeps the zone readable with its schema
        kept_df.coalesce(1).write.mode("overwrite").parquet(tmp)
    else:
        writer = kept_df.write.mode("overwrite")
        if partition_col:
            writer = writer.partitionBy(partition_col)
        writer.parquet(tmp)
    _swap_zone(zone_path, tmp)
    return {"rows_before": total, "rows_kept": kept, "rows_expired": total - kept}


def reconcile_catalog(
    spark: SparkSession,
    catalog: DataFrame,
    zone_path: str,
    zone_name: str,
    id_col: str = "message_id",
) -> dict:
    """Catalog consistency audit: find zone rows the catalog doesn't
    know about (orphans — a writer died between the zone put and the
    catalog upsert, the reference's put-object/put-item gap,
    front_door_lambda.py:59 vs :34) and catalog entries whose object is
    gone (dangling — expiry/compaction raced the catalog, or a write
    was rolled back).

    Both directions are one anti-join each on the message id — the
    catalog side carries only (id, zone) columns into the join, so at
    100 TB the shuffle moves ids, never payloads; with a bucketed
    catalog layout the joins are exchange-free. Returns counts plus
    bounded samples for operator triage.
    """
    from pyspark.sql import functions as F

    zone_ids = spark.read.parquet(zone_path).select(id_col)
    cat_ids = catalog.filter(F.col("zone") == zone_name).select(id_col)
    orphans = zone_ids.join(cat_ids, id_col, "left_anti")
    dangling = cat_ids.join(zone_ids, id_col, "left_anti")
    n_orphans = orphans.count()
    n_dangling = dangling.count()
    return {
        "zone": zone_name,
        "n_zone_rows": zone_ids.count(),
        "n_catalog_rows": cat_ids.count(),
        "n_orphans": n_orphans,
        "n_dangling": n_dangling,
        "consistent": n_orphans == 0 and n_dangling == 0,
        "orphan_sample": [r[0] for r in orphans.limit(5).collect()],
        "dangling_sample": [r[0] for r in dangling.limit(5).collect()],
    }
