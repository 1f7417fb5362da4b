"""Regenerate ``headline_pins.json``: the row count and row hash of
every headline query over ``perfbench/data/sf0.01``.

Run from the root of a checkout:

    python3 perfbench/pin_headline.py

Each query runs in three passes, in a different order each time; the
script refuses to write pins that differ between passes.
"""

from __future__ import annotations

import json
import random
import shutil
import sys

import run


def main() -> int:
    run._pin_environment(trace=False)
    sys.path.insert(0, run.ROOT)
    import bench
    from hcls_data_lake_spark import registry
    from hcls_data_lake_spark.session import get_spark

    from workloads import QueryHeadline, fingerprint

    spark = get_spark("perfbench-pins")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        queries = registry.queries()
        seen: dict[str, set] = {q: set() for q in bench.HEADLINE}
        for p in range(3):
            order = list(bench.HEADLINE)
            random.Random(p).shuffle(order)
            for q in order:
                seen[q].add(fingerprint(queries[q](spark, QueryHeadline.sf_dir)))
    finally:
        run._stop(spark)
        shutil.rmtree(run.SCRATCH, ignore_errors=True)
    unstable = sorted(q for q, v in seen.items() if len(v) != 1)
    if unstable:
        print("fingerprints differ between passes:", unstable, file=sys.stderr)
        return 1
    pins = {q: list(v.pop()) for q, v in seen.items()}
    with open(QueryHeadline.pins_path, "w", encoding="utf-8") as fh:
        json.dump({"data": "data/sf0.01", "pins": pins}, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(json.dumps(pins, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
