"""Run the benchmark once per seed and keep every run as one JSON line.

Run from the root of a checkout:

    python3 perfbench/prove.py --workload query_headline --seeds 101-110 \
        --out perfbench/samples/query_headline.jsonl

Each line is ``{"workload", "seed", "exit", "wall_s", "run", "result",
"stderr_tail"}``: ``run`` and ``result`` are the last two stdout lines
of ``perfbench/run.py`` (null when the run printed none) and
``stderr_tail`` its last lines of stderr, so a failed run keeps its
traceback.  Summarize untraced runs with ``perfbench/spread.py``.
"""

from __future__ import annotations

import argparse
import json
import subprocess
import sys
import time

STDERR_LINES = 40


def _last_json(lines: list[str], i: int):
    try:
        return json.loads(lines[i])
    except (IndexError, ValueError):
        return None


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="first-last, inclusive")
    with open("BENCHMARK.json", encoding="utf-8") as fh:
        run_seconds = str(json.load(fh)["run_seconds"])
    ap.add_argument("--seconds", default=run_seconds)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    first, last = (int(x) for x in args.seeds.split("-"))
    for seed in range(first, last + 1):
        t0 = time.perf_counter()
        proc = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", args.workload,
             "--seed", str(seed), "--seconds", args.seconds, "--trace", args.trace],
            capture_output=True, text=True, check=False,
        )
        out = proc.stdout.splitlines()
        run = _last_json(out, -2)
        rec = {
            "workload": args.workload,
            "seed": seed,
            "exit": proc.returncode,
            "wall_s": time.perf_counter() - t0,
            "run": run.get("run") if run else None,
            "result": _last_json(out, -1),
            "stderr_tail": proc.stderr.splitlines()[-STDERR_LINES:],
        }
        with open(args.out, "a", encoding="utf-8") as fh:
            fh.write(json.dumps(rec) + "\n")
        metrics = (rec["result"] or {}).get("metrics", {})
        print(seed, proc.returncode, f"{rec['wall_s']:.0f}s",
              {k: round(v["value"], 1) for k, v in metrics.items()}, flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
