"""Custom Python STREAMING SINK via the Data Source API
(DataSourceStreamArrowWriter, Spark 4): a manifest-committed parquet
zone writer — the A10 zone-sink commit protocol
(`write_lambda.py`'s put-then-catalog two-step in the reference)
re-expressed as Spark's executor-write / driver-commit contract.

Mechanics, and why they are the 100 TB shape:

- ``write`` runs per PARTITION on executors and receives PyArrow
  RecordBatches — the Arrow-native writer variant, so bytes flow
  source->sink with no per-row Python and no pandas detour. Each task
  writes one part file into its own fresh ``data/<dir>/`` (never a
  rename-in-place) and returns only its (path, rowcount) as the commit
  message.
- ``commit`` runs once per micro-batch on the DRIVER, after every
  task succeeded, and publishes the batch as one table version through
  ``operators.manifest.publish`` — the same ``v<N>.json`` format,
  atomic publish and ``batch_id`` replay fence as ``manifest.commit``,
  so ``read_version``, time travel, ``diff_versions`` and ``vacuum``
  all work on a sink-written zone. Readers plan from manifests, never
  the data directory — uncommitted part files are invisible by
  construction, which is exactly the manifest trick object stores
  need (S3 has no atomic multi-file commit).
- A batch id that is already committed (a replay after a driver
  crash) publishes nothing and its parts are deleted; ``abort`` deletes
  the parts of a failed batch. A crash between write and commit leaves
  garbage data files but NO manifest entry, so the zone stays
  consistent and ``vacuum`` reclaims them.
- ``outputMode("complete")`` makes Spark pass ``overwrite=True``; each
  batch then replaces the table instead of appending to it.
"""

from __future__ import annotations

import os
import shutil
import uuid
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamArrowWriter,
    WriterCommitMessage,
)


@dataclass
class PartMessage(WriterCommitMessage):
    """Executor -> driver commit message: one written part file, as a
    table-relative path."""

    path: str
    rows: int


class ManifestSinkDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "manifestsink"

    def streamWriter(self, schema, overwrite):
        return ManifestStreamWriter(self.options["path"], schema, overwrite)


class ManifestStreamWriter(DataSourceStreamArrowWriter):
    def __init__(self, path: str, schema, overwrite: bool) -> None:
        self.path = path
        self.schema = schema
        self.overwrite = overwrite

    def write(self, iterator):
        import pyarrow as pa
        import pyarrow.parquet as pq

        batches = list(iterator)
        if not batches:
            return PartMessage("", 0)
        tbl = pa.Table.from_batches(batches)
        rel = os.path.join("data", f"part-{uuid.uuid4().hex}", "part.parquet")
        os.makedirs(os.path.dirname(os.path.join(self.path, rel)))
        pq.write_table(tbl, os.path.join(self.path, rel))
        return PartMessage(rel, tbl.num_rows)

    def commit(self, messages, batchId: int) -> None:
        from hcls_data_lake_spark.operators import manifest

        parts = sorted(m.path for m in messages if m is not None and m.rows > 0)
        version = manifest.publish(
            self.path,
            parts,
            self.schema,
            "overwrite" if self.overwrite else "append",
            meta={"batch_id": batchId},
            txn_key="batch_id",
        )
        if version == 0:  # replayed batch: already durable, exactly-once
            self.abort(messages, batchId)

    def abort(self, messages, batchId: int) -> None:
        for m in messages:
            if m is not None and m.path:
                part_dir = os.path.dirname(os.path.join(self.path, m.path))
                shutil.rmtree(part_dir, ignore_errors=True)


def register_manifest_sink(spark) -> None:
    """Idempotent registration of the manifestsink format."""
    spark.dataSource.register(ManifestSinkDataSource)
