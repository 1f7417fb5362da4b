"""Chunked minima-ledger runner: times a SLICE of the bench inventory
(headline + extended) with warmup + min-over-N reps and writes a
partial {name: sec} JSON. Lets a full-ledger pass run as several
bounded-wall-time invocations whose partials the gate min-merges:

    python tools/bench_ledger_chunk.py START END OUT.json [REPS]
    python tools/check_bench_regressions.py --bench=A.json --bench=B.json
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    start, end = int(sys.argv[1]), int(sys.argv[2])
    out_path = sys.argv[3]
    reps = int(sys.argv[4]) if len(sys.argv) > 4 else 3
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    os.environ.setdefault("SPARK_GRAFT_CPUS", "32")

    import bench

    from hcls_data_lake_spark import registry
    from hcls_data_lake_spark.session import get_spark

    all_names = (
        bench.HEADLINE + bench.EXTENDED + getattr(bench, "CANARIES", [])
    )
    names = all_names[start:end]
    spark = get_spark("hcls-bench-chunk")
    spark.sparkContext.setLogLevel("ERROR")
    qs = registry.queries()
    qs["q_scan_parquet"](spark, sf_dir).collect()
    for name in names:  # warmup
        qs[name](spark, sf_dir).count()
    out: dict[str, float] = {}
    for name in names:
        best = float("inf")
        for _ in range(max(1, reps)):
            t0 = time.time()
            qs[name](spark, sf_dir).count()
            best = min(best, time.time() - t0)
        out[name] = round(best, 3)
        print(f"{name} {best:.3f}", flush=True)
    with open(out_path, "w") as fh:
        json.dump(out, fh, indent=0, sort_keys=True)
    spark.stop()


if __name__ == "__main__":
    main()
