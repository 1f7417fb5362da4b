"""The benchmark's workloads.

Each workload is driven by one client in a closed loop: the next
operation starts when the previous one has returned and been checked.
``round(traced)`` runs one unit of work (a few ingest batches, or one
shuffled pass over the headline queries) and returns a ``Sample`` per
operation.  Operations are timed from outside, around calls into the
package's public functions; a traced round additionally materializes
each layer boundary and records the time spent between boundaries.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import statistics
import time
from dataclasses import dataclass, field

import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

import eventlog
import lakegen

HERE = os.path.dirname(os.path.abspath(__file__))


@dataclass
class Sample:
    key: str                # operation kind: "batch" or a query name
    latency_s: float
    units: int              # messages or queries completed
    ok: bool
    wall: tuple[float, float]  # epoch ms, for event-log attribution
    spans: dict[str, float] = field(default_factory=dict)  # seconds
    counts: dict[str, float] = field(default_factory=dict)


def _now_ms() -> float:
    return time.time() * 1000.0


class IngestStage:
    """One batch of wire messages through the whole front door and
    staging chain into a freshly reset lake root."""

    name = "ingest_stage"
    batch_size = 2000
    batches_per_round = 3
    registry_size = 5000
    # warm-up (see run._warm_up): 12 batches, about 29 s on 4 cores.
    # The first batch takes about 7 s, the next ones 2.0-2.4 s, the
    # twelfth about 1.7 s.  Five seeds warmed up for 3 rounds spread
    # 0.15 in median latency (quartile distance over median), for 4
    # rounds 0.03.
    warmup_rounds = 4

    _WIRE_SCHEMA = "message_id bigint, msg_b64 string, writer_institution string"

    def __init__(self, spark: SparkSession, seed: int, scratch: str):
        self.spark = spark
        self.seed = seed
        self.lake = os.path.join(scratch, "lake")
        self.next_batch = 0
        self.registry_msgs = lakegen.registry_messages(seed, self.registry_size)
        reg_path = os.path.join(scratch, "registry")
        spark.createDataFrame(
            pd.DataFrame({"msg_hash": [lakegen.sha256_hex(m) for m in self.registry_msgs]}),
            "msg_hash string",
        ).write.parquet(reg_path)
        self.registry = spark.read.parquet(reg_path)

    # -- the operation --------------------------------------------------

    def _admitted(self, wire: DataFrame) -> DataFrame:
        from hcls_data_lake_spark.pipeline.ingest import (
            attach_envelope,
            authz_write_gate,
            decode_base64,
            dedup_against_registry,
            with_content_hash,
        )

        admitted = dedup_against_registry(
            with_content_hash(authz_write_gate(decode_base64(wire))), self.registry
        )
        return attach_envelope(admitted).drop("msg_b64")

    def _write_catalog(self) -> None:
        from hcls_data_lake_spark.pipeline.zones import (
            catalog_entries,
            object_key,
            read_zone,
            zone_for_event,
        )

        staged = read_zone(self.spark, self.lake, "staging")
        catalog_entries(object_key(zone_for_event(staged)), self.lake).write.parquet(
            f"{self.lake}/catalog"
        )

    def _pipeline(self, wire_pdf: pd.DataFrame) -> None:
        from hcls_data_lake_spark.pipeline.jobs import promote_ingestion_batch
        from hcls_data_lake_spark.pipeline.zones import write_zone

        wire = self.spark.createDataFrame(wire_pdf, self._WIRE_SCHEMA)
        write_zone(self._admitted(wire), self.lake, "ingestion")
        promote_ingestion_batch(self.spark, self.lake)
        self._write_catalog()

    def _traced_pipeline(self, wire_pdf: pd.DataFrame) -> dict[str, float]:
        """The same chain with every layer boundary materialized.  The
        promotion step is spelled out from the staging functions that
        ``jobs.promote_ingestion_batch`` composes (through
        ``jobs._route_batch``: subscription_filter → prepare → parse,
        persisted, then route and the staging and error writes), so
        that parse and route-write can be timed apart.  A change to
        that composition must be mirrored here; ``_recheck_promote``
        times the package's own call beside it as ``jobs.promote_ms``,
        which tracks ``staging.parse_ms + zones.route_write_ms``."""
        from hcls_data_lake_spark.pipeline.ingest import subscription_filter
        from hcls_data_lake_spark.pipeline.staging import parse, prepare, route
        from hcls_data_lake_spark.pipeline.zones import read_zone, write_zone

        spans: dict[str, float] = {}
        t = time.perf_counter()

        def mark(name: str) -> None:
            nonlocal t
            now = time.perf_counter()
            spans[name] = now - t
            t = now

        wire = self.spark.createDataFrame(wire_pdf, self._WIRE_SCHEMA)
        admitted = self._admitted(wire).persist()
        admitted.count()
        mark("ingest.admit_ms")
        write_zone(admitted, self.lake, "ingestion")
        admitted.unpersist()
        mark("zones.ingestion_write_ms")
        ingested = read_zone(self.spark, self.lake, "ingestion")
        parsed = parse(prepare(subscription_filter(ingested, "hl7v2", "er7"))).persist()
        parsed.count()
        mark("staging.parse_ms")
        staged, errored = route(parsed)
        write_zone(staged, self.lake, "staging")
        write_zone(errored, self.lake, "error")
        parsed.unpersist()
        mark("zones.route_write_ms")
        self._write_catalog()
        mark("zones.catalog_write_ms")
        return spans

    # -- checking ---------------------------------------------------------

    def _ids(self, zone: str) -> list[int]:
        path = f"{self.lake}/{zone}"
        if not os.path.isdir(path):
            return []
        return pq.read_table(path, columns=["message_id"]).column(0).to_pylist()

    def _data_files(self) -> tuple[int, int]:
        files = nbytes = 0
        for dirpath, _dirs, names in os.walk(self.lake):
            for name in names:
                if name.endswith(".parquet"):
                    files += 1
                    nbytes += os.path.getsize(os.path.join(dirpath, name))
        return files, nbytes

    def _check(self, batch: lakegen.WireBatch) -> tuple[bool, dict[str, float]]:
        zones = {z: self._ids(z) for z in ("ingestion", "staging", "error", "catalog")}
        expect = {
            "ingestion": batch.admitted,
            "staging": batch.staged,
            "error": batch.errored,
            "catalog": batch.staged,
        }
        ok = all(
            len(ids) == len(expect[z]) and set(ids) == expect[z]
            for z, ids in zones.items()
        )
        files, nbytes = self._data_files()
        return ok, {
            "inputs": len(batch.rows),
            "admitted": len(zones["ingestion"]),
            "staged": len(zones["staging"]),
            "files": files,
            "bytes_written": nbytes,
            "input_bytes": batch.input_bytes,
        }

    def _recheck_promote(self, batch: lakegen.WireBatch) -> tuple[bool, float]:
        """Drop the staging and error zones the traced chain wrote, run
        the untraced ``jobs.promote_ingestion_batch`` over the same
        ingestion zone, and check and time it."""
        from hcls_data_lake_spark.pipeline.jobs import promote_ingestion_batch

        for zone in ("staging", "error"):
            shutil.rmtree(f"{self.lake}/{zone}", ignore_errors=True)
        t0 = time.perf_counter()
        promote_ingestion_batch(self.spark, self.lake)
        elapsed = time.perf_counter() - t0
        ok = set(self._ids("staging")) == batch.staged and set(
            self._ids("error")
        ) == batch.errored
        return ok, elapsed

    def _batch(self, traced: bool) -> Sample:
        batch = lakegen.wire_batch(
            self.seed, self.next_batch, self.batch_size, self.registry_msgs
        )
        self.next_batch += 1
        wire_pdf = pd.DataFrame(
            batch.rows, columns=["message_id", "msg_b64", "writer_institution"]
        )
        shutil.rmtree(self.lake, ignore_errors=True)
        w0 = _now_ms()
        t0 = time.perf_counter()
        if traced:
            spans = self._traced_pipeline(wire_pdf)
        else:
            spans = {}
            self._pipeline(wire_pdf)
        latency = time.perf_counter() - t0
        w1 = _now_ms()
        ok, counts = self._check(batch)
        if traced:
            promote_ok, counts["promote_s"] = self._recheck_promote(batch)
            ok = ok and promote_ok
        return Sample("batch", latency, self.batch_size, ok, (w0, w1), spans, counts)

    def round(self, traced: bool = False) -> list[Sample]:
        return [self._batch(traced) for _ in range(self.batches_per_round)]

    # -- per-layer report -------------------------------------------------

    def layer_metrics(self, traced: list[Sample], spark_counters) -> dict[str, float]:
        n = len(traced)
        mean_ms = {
            name: 1000.0 * sum(s.spans[name] for s in traced) / n
            for name in traced[0].spans
        }
        latency_ms = 1000.0 * sum(s.latency_s for s in traced) / n
        total = lambda key: sum(s.counts[key] for s in traced)  # noqa: E731
        out = dict(mean_ms)
        out["unattributed_ms"] = latency_ms - sum(mean_ms.values())
        out["ingest.admitted_ratio"] = total("admitted") / total("inputs")
        out["staging.parse_ok_ratio"] = total("staged") / total("admitted")
        out["zones.bytes_written_per_input_byte"] = total("bytes_written") / total("input_bytes")
        out["zones.files_written"] = total("files") / n
        out["jobs.promote_ms"] = 1000.0 * total("promote_s") / n
        c = eventlog.Counters()
        for one in spark_counters:
            c.add(one)
        out["spark.jobs_per_op"] = c.jobs / n
        out["spark.tasks_per_op"] = c.tasks / n
        out["spark.shuffle_bytes_per_op"] = c.shuffle_write_bytes / n
        out["spark.gc_ms_per_op"] = c.gc_ms / n
        return out


def fingerprint(df: DataFrame) -> tuple[int, str]:
    """Row count and an order-insensitive hash of every row, in one
    action.  Floating columns are hashed at 10 significant digits so a
    different summation order inside a parallel aggregate cannot flip
    the hash."""
    cols = []
    for f in df.schema.fields:
        c = F.col(f"`{f.name}`")
        if isinstance(f.dataType, (T.DoubleType, T.FloatType)):
            c = F.format_string("%.10g", c)
        cols.append(c)
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("h"),
    ).collect()[0]
    return int(row["n"]), str(row["h"])


class QueryHeadline:
    """Each operation builds one headline query through the registry
    and runs it to a checked result; a round is one seed-shuffled pass
    over all of them."""

    name = "query_headline"
    sf_dir = os.path.join(HERE, "data", "sf0.01")
    pins_path = os.path.join(HERE, "headline_pins.json")
    # warm-up (see run._warm_up): 2 rounds, about 30 s on 4 cores.  The
    # first round compiles every query's code and takes about 20 s, the
    # next ones about 9 s.  Five seeds warmed up for 2 rounds spread
    # 0.17 in median latency (quartile distance over median), for 3
    # rounds 0.09, but a third round makes a run about 10 s longer, and
    # on a host running a quarter slower than usual 48 runs of both
    # workloads would then take more than 3000 s.
    warmup_rounds = 2

    def __init__(self, spark: SparkSession, seed: int, scratch: str):
        import bench
        from hcls_data_lake_spark import registry

        self.spark = spark
        self.rng = random.Random(f"headline-{seed}")
        self.names = list(bench.HEADLINE)
        self.queries = registry.queries()
        with open(self.pins_path, encoding="utf-8") as fh:
            self.pins = {q: tuple(v) for q, v in json.load(fh)["pins"].items()}

    def _query(self, name: str) -> Sample:
        w0 = _now_ms()
        t0 = time.perf_counter()
        df = self.queries[name](self.spark, self.sf_dir)
        t1 = time.perf_counter()
        result = fingerprint(df)
        t2 = time.perf_counter()
        w1 = _now_ms()
        spans = {"construct": t1 - t0, "execute": t2 - t1}
        return Sample(name, t2 - t0, 1, result == self.pins.get(name), (w0, w1), spans)

    def round(self, traced: bool = False) -> list[Sample]:
        order = list(self.names)
        self.rng.shuffle(order)
        return [self._query(q) for q in order]

    def layer_metrics(self, traced: list[Sample], spark_counters) -> dict[str, float]:
        rounds = len(traced) / len(self.names)
        out: dict[str, float] = {}
        per_query: dict[str, eventlog.Counters] = {}
        for s, c in zip(traced, spark_counters):
            per_query.setdefault(s.key, eventlog.Counters()).add(c)
        for q in self.names:
            mine = [s for s in traced if s.key == q]
            for span in ("construct", "execute"):
                out[f"registry.{span}_ms.{q}"] = 1000.0 * statistics.median(
                    s.spans[span] for s in mine
                )
            out[f"spark.jobs.{q}"] = per_query[q].jobs / len(mine)
        construct = sum(s.spans["construct"] for s in traced)
        out["registry.construct_share"] = construct / sum(s.latency_s for s in traced)
        c = eventlog.Counters()
        for one in per_query.values():
            c.add(one)
        out["spark.tasks_per_round"] = c.tasks / rounds
        out["spark.shuffle_bytes_per_round"] = c.shuffle_write_bytes / rounds
        out["spark.spill_bytes_per_round"] = c.spill_bytes / rounds
        out["spark.gc_ms_per_round"] = c.gc_ms / rounds
        out["spark.cpu_per_run_ratio"] = c.cpu_ms / c.run_ms if c.run_ms else 0.0
        return out


WORKLOADS = {w.name: w for w in (IngestStage, QueryHeadline)}
