"""Lake benchmark: end-to-end and per-layer numbers for the pipeline.

Run from the root of a checkout:

    python3 perfbench/run.py --workload ingest_stage --seed 1 --seconds 10 --trace 0

Workloads (see ``workloads.py``):

* ``ingest_stage``: batches of 2,000 base64 ER7 messages through
  decode → authz → hash → registry dedup → envelope → ingestion zone
  write → ``jobs.promote_ingestion_batch`` (parse, staging/error
  writes) → catalog write, each into a freshly reset lake root.
* ``query_headline``: the 14 ``bench.HEADLINE`` queries built through
  ``registry.queries()`` over ``perfbench/data/sf0.01``, one
  seed-shuffled pass per round, each run to a checked result.

A run starts one ``local[nproc]`` session through ``session.get_spark``,
sets its workload up, warms up for the workload's fixed number of
rounds (see ``_warm_up``), then measures whole rounds for ``--seconds``
and at least two rounds.  It fails when an operation returns a wrong
result or when the window's first and second halves still disagree
by more than the latency bound in ``BENCHMARK.json`` after the window
has been extended (see ``_measure``).

``--trace 0`` prints the end-to-end metrics.  ``--trace 1`` enables an
uncompressed Spark event log, alternates plain and traced rounds in
the window, and prints the per-layer metrics: layer timings measured
around the package calls, plus ``spark.*`` counters read from the event
log.  A metric of a layer the workload does not reach reads 0.

The last stdout line is the result object; the line before it records
the run's conditions (cpus, parallelism, shuffle partitions, warm-up).
Scratch space, Spark local dirs and the event log live under
``.perfbench_scratch/`` in the working directory and are cleared at
start.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shlex
import shutil
import statistics
import sys
import time

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
SCRATCH = os.path.join(ROOT, ".perfbench_scratch")
# The driver heap is fixed at start (-Xms = -Xmx): a heap that grows on
# demand grows at different moments in different runs, which moved a
# run's whole latency level by up to a third.
DRIVER_MEMORY = "2g"
STATUS_RETENTION = (
    "spark.ui.retainedJobs",
    "spark.ui.retainedStages",
    "spark.ui.retainedTasks",
    "spark.sql.ui.retainedExecutions",
)


def _pin_environment(trace: bool) -> dict[str, str]:
    """Fix the run's conditions before the JVM starts."""
    shutil.rmtree(SCRATCH, ignore_errors=True)
    dirs = {
        k: os.path.join(SCRATCH, k)
        for k in ("hcls", "spark-local", "tmp", "eventlog", "warehouse", "work")
    }
    for d in dirs.values():
        os.makedirs(d)
    cpus = len(os.sched_getaffinity(0))
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        HCLS_SCRATCH_DIR=dirs["hcls"],
        SPARK_LOCAL_DIRS=dirs["spark-local"],
        SPARK_DRIVER_MEMORY=DRIVER_MEMORY,
        TMPDIR=dirs["tmp"],
        PYTHONPATH=os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
    )
    confs = {
        "spark.sql.warehouse.dir": dirs["warehouse"],
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={dirs['tmp']} -Dderby.system.home={dirs['tmp']}"
            f" -Xms{DRIVER_MEMORY} -XX:-UsePerfData"
        ),
        "spark.eventLog.enabled": "true" if trace else "false",
        # keeps stderr to warnings and tracebacks
        "spark.ui.showConsoleProgress": "false",
        # Spark's status store keeps every job, stage and SQL execution
        # up to these limits; small limits fill within warm-up, so live
        # memory does not depend on how many operations a run managed.
        **{k: "50" for k in STATUS_RETENTION},
    }
    if trace:
        confs["spark.eventLog.dir"] = "file://" + dirs["eventlog"]
        confs["spark.eventLog.compress"] = "false"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items()
    ) + " pyspark-shell"
    return dirs


def _benchmark_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        return json.load(fh)


def _round_ratio(cur, prev) -> float:
    """Median over operation kinds of the kind's median latency in
    ``cur`` relative to its median latency in ``prev``."""

    def by_key(samples):
        out: dict[str, list[float]] = {}
        for s in samples:
            out.setdefault(s.key, []).append(s.latency_s)
        return {k: statistics.median(v) for k, v in out.items()}

    a, b = by_key(cur), by_key(prev)
    return statistics.median(a[k] / b[k] for k in a if k in b)


def _flat(rounds) -> list:
    return [s for r in rounds for s in r]


def _warm_up(workload) -> dict:
    """The workload's ``warmup_rounds`` rounds, the same number in every
    run, so that every run's window starts at the same point of the
    JIT warm-up curve.  Waiting for successive rounds to agree would
    take about a minute more per run (rounds still get a few percent
    faster each for that long), and a full check of the benchmark,
    4 + 22 runs per workload, must fit in 3420 s.  The ratio of each
    warm-up round to the one before is recorded in ``warmup_checks``."""
    t0 = time.perf_counter()
    rounds = [workload.round() for _ in range(workload.warmup_rounds)]
    checks = [round(_round_ratio(cur, prev), 4) for prev, cur in zip(rounds, rounds[1:])]
    return {
        "samples": _flat(rounds),
        "warmup_s": time.perf_counter() - t0,
        "warmup_ops": sum(len(r) for r in rounds),
        "warmup_rounds": len(rounds),
        "warmup_checks": checks,
    }


def _measure(workload, seconds: float, trace: bool, bound: float):
    """Whole rounds until ``seconds`` have passed and at least two plain
    rounds ran; with ``trace`` the rounds alternate plain and traced,
    starting with a plain one.  When the two halves of the plain rounds
    then disagree by more than ``bound``, plain rounds are added, up to
    three times ``seconds`` in all and at least until the window holds
    four: a passing slowdown of the host (one run lost 70 s of CPU to
    other guests within 93 s) evens out over more rounds, a trend
    (warm-up left in the window, a growing working set) does not, and
    fails the run."""
    plain, traced = [], []
    t0 = time.perf_counter()
    while time.perf_counter() - t0 < seconds or len(plain) < 2 or (trace and not traced):
        is_traced = trace and len(plain) > len(traced)
        (traced if is_traced else plain).append(workload.round(traced=is_traced))
    while _halves_drift(plain) > bound and (
        time.perf_counter() - t0 < 3 * seconds or len(plain) < 4
    ):
        plain.append(workload.round())
    return plain, traced, time.perf_counter() - t0


def _halves_drift(rounds) -> float:
    """How far the second half of the window's rounds ran slower or
    faster than the first half: the median over operation kinds of the
    kind's latency ratio (the middle round of an odd count is in
    neither half)."""
    half = len(rounds) // 2
    return abs(_round_ratio(_flat(rounds[-half:]), _flat(rounds[:half])) - 1.0)


def _live_memory_mb(spark) -> tuple[float, float]:
    """Driver RSS and JVM heap in use after forced GCs, in MB.  Python
    collects first, so that JVM objects held only by dead Python
    proxies are released; the JVM then collects, a moment apart, until
    two successive readings of the heap agree within 2 MB (at most 8
    times): what Spark's context cleaner frees after one collection is
    gone only after a later one.  After two collections the heap read
    83-168 MB at the end of ten ingest runs; in a probe after three
    ingest rounds it read 184, 157, then 66-67 MB from the third
    collection on."""
    gc.collect()
    jvm = spark.sparkContext._jvm
    bean = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    heap = None
    for _ in range(8):
        bean.gc()
        time.sleep(0.5)
        prev, heap = heap, bean.getHeapMemoryUsage().getUsed()
        if prev is not None and abs(heap - prev) < 2 * 1024 * 1024:
            break
    with open("/proc/self/status", encoding="ascii") as fh:
        rss_kb = next(int(l.split()[1]) for l in fh if l.startswith("VmRSS:"))
    return rss_kb / 1024, heap / (1024 * 1024)


def _steal_s() -> float:
    """CPU time the hypervisor gave to other guests, all CPUs, in s."""
    with open("/proc/stat", encoding="ascii") as fh:
        return int(fh.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def _stop(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def run(workload_name: str, seed: int, seconds: float, trace: bool) -> tuple[dict, dict]:
    spec = _benchmark_spec()
    bound = next(m["bound"] for m in spec["end_to_end"] if m["name"] == "latency_ms")
    dirs = _pin_environment(trace)
    steal0 = _steal_s()
    t_setup = time.perf_counter()
    sys.path[:0] = [HERE, ROOT]
    from hcls_data_lake_spark.session import get_spark

    import eventlog
    from workloads import WORKLOADS

    spark = get_spark("perfbench")
    try:
        spark.sparkContext.setLogLevel("ERROR")
        workload = WORKLOADS[workload_name](spark, seed, dirs["work"])
        setup_s = time.perf_counter() - t_setup
        warm = _warm_up(workload)
        plain, traced, window_s = _measure(workload, seconds, trace, bound)
        rss_mb, heap_mb = _live_memory_mb(spark)
        conditions = {
            "workload": workload_name,
            "seed": seed,
            "cpus": int(os.environ["SPARK_GRAFT_CPUS"]),
            "defaultParallelism": spark.sparkContext.defaultParallelism,
            "spark.sql.shuffle.partitions": spark.conf.get("spark.sql.shuffle.partitions"),
            "driver_memory": DRIVER_MEMORY,
            **{k: spark.sparkContext.getConf().get(k) for k in STATUS_RETENTION},
            "client_threads": 1,
            "event_log": trace,
            "driver_rss_mb": rss_mb,
            "jvm_live_heap_mb": heap_mb,
            "cpu_steal_s": _steal_s() - steal0,
        }
    finally:
        _stop(spark)

    ops = _flat(plain)
    window = _flat(plain + traced)
    every = warm["samples"] + window
    lat_ms = sorted(1000.0 * s.latency_s for s in ops)
    p90 = statistics.quantiles(lat_ms, n=10, method="inclusive")[-1]
    drift = _halves_drift(plain)
    conditions.update(
        {k: v for k, v in warm.items() if k != "samples"},
        window_s=window_s,
        window_ops=len(ops),
        p90_tail_samples=sum(1 for v in lat_ms if v > p90),
        halves_drift=drift,
        window_round_median_ms=[
            1000.0 * statistics.median(s.latency_s for s in r) for r in plain
        ],
        window_kind_median_ms={
            k: 1000.0 * statistics.median(s.latency_s for s in ops if s.key == k)
            for k in dict.fromkeys(s.key for s in ops)
        },
        drift_bound=bound,
    )
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    if not trace:
        values = {
            "throughput_per_s": sum(s.units for s in ops) / sum(s.latency_s for s in ops),
            "latency_ms": statistics.median(lat_ms),
            "latency_p90_ms": p90,
            "live_memory_mb": rss_mb + heap_mb,
            "setup_s": setup_s,
        }
    else:
        tr = _flat(traced)
        counters = eventlog.attribute(eventlog.read(dirs["eventlog"]), [s.wall for s in tr])
        layers = workload.layer_metrics(tr, counters)
        layers["trace.op_latency_ms"] = 1000.0 * statistics.fmean(s.latency_s for s in tr)
        layers["trace.overhead_ratio"] = statistics.median(
            s.latency_s for s in tr
        ) / statistics.median(s.latency_s for s in ops)
        values = {m["name"]: layers.get(m["name"], 0.0) for m in spec["per_layer"]}
    metrics = {k: {"value": v, "unit": units[k]} for k, v in values.items()}
    result = {
        "correct": drift <= bound and all(s.ok for s in every),
        "attempted": len(every),
        "failed": sum(1 for s in every if not s.ok),
        "metrics": metrics,
    }
    return result, conditions


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["ingest_stage", "query_headline"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    try:
        result, conditions = run(
            args.workload, args.seed, args.seconds, bool(args.trace)
        )
    finally:
        shutil.rmtree(SCRATCH, ignore_errors=True)
    print(json.dumps({"run": conditions}))
    print(json.dumps(result), flush=True)
    if not result["correct"]:
        print(
            "perfbench: a result was wrong or the window drifted",
            file=sys.stderr,
        )
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
