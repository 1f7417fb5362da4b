"""Summarize steadiness samples: per workload and end-to-end metric, the
median of the runs and the spread between their quartiles as a share of
it (``statistics.quantiles(values, n=4)``), and how long a full check
of the workloads given would take at the runs' median wall times.

    python3 perfbench/spread.py perfbench/samples/*.jsonl

Each input line is one run as ``perfbench/prove.py`` writes it; traced
runs are skipped.
"""

from __future__ import annotations

import json
import statistics
import sys


def main(paths: list[str]) -> int:
    runs: dict[str, list[dict]] = {}
    for path in paths:
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                rec = json.loads(line)
                if not (rec["run"] or {}).get("event_log"):
                    runs.setdefault(rec["workload"], []).append(rec)
    walls: dict[str, float] = {}
    for workload, recs in runs.items():
        ok = [r for r in recs if r["exit"] == 0 and r["result"]["correct"]]
        for r in recs:
            if r not in ok:
                print(f"{workload} seed {r['seed']}: exit {r['exit']}", *r.get("stderr_tail", [])[-5:], sep="\n  ")
        wall = [r["wall_s"] for r in recs]
        walls[workload] = statistics.median(wall)
        print(f"{workload}: {len(ok)}/{len(recs)} runs correct, "
              f"wall {min(wall):.0f}-{max(wall):.0f} s")
        for name in ok[0]["result"]["metrics"]:
            values = [r["result"]["metrics"][name]["value"] for r in ok]
            med = statistics.median(values)
            q1, _, q3 = statistics.quantiles(values, n=4)
            print(f"  {name}: median {med:.4g}, spread {(q3 - q1) / med:.3f}")
    # A full check makes 4 + 22 x (number of workloads) runs.
    total = 22 * sum(walls.values()) + 4 * max(walls.values())
    print(f"{4 + 22 * len(walls)} runs at these median wall times: {total:.0f} s")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
