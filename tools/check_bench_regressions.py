"""Programmatic bench-regression gate.

Compares the current minima ledger against the committed per-query
references in tools/bench_references.json ("references": {name: sec},
"canaries": {name: sec}) and fails loudly on any entry slower than
--factor (default 1.3x) its committed reference. This institutionalizes
the "zero extended-set regressions >1.3x" claim instead of re-deriving
it ad hoc each round.

The ledger is the newest history/BENCH_solo_r{N}.json (largest N), or
the --bench files. --bench may repeat: the gate then takes each query's
minimum across the files (the cross-run minima convention of the
ledgers). A file is either bench.py's full first stdout line (its
"queries", "extended_queries" and "canaries") or a flat {name: sec}
partial as tools/bench_ledger_chunk.py writes it.

LOAD CALIBRATION: the references were measured on an unloaded host;
a shared sandbox can run uniformly slower for hours, which would flag
EVERY entry at once and drown real regressions. A true regression is
a RELATIVE outlier, so the gate computes the median now/committed
ratio across all entries (the ambient-load estimate — a plan change
in one query cannot move the median of 200+) and flags entries slower
than factor x committed x max(1, median). Both the raw count and the
calibration are printed so nothing is hidden; --no-calibrate restores
the raw gate.

SCHEDULING-FLOOR MODEL (r7, VERDICT r6 ask #7): an entry's wall time
decomposes as session floor + plan work; for sub-0.4 s entries the
job-scheduling floor DOMINATES, and the floor shifts ADDITIVELY
between sessions (JIT state, GC, trace overhead) rather than scaling
with committed time — which is exactly why the two r6 flags
(0.32-0.34 s entries, code byte-identical) were false positives under
a purely multiplicative model. The gate therefore estimates the
session's floor shift as the median residual now - ambient*committed
over the small-entry population (clamped >= 0; a plan change in one
query cannot move a median of dozens) and allows
factor * committed * ambient + floor. The floor is printed with the
calibration; --no-calibrate zeroes both.

Usage: python tools/check_bench_regressions.py [--bench=PATH ...]
       [--factor=1.3] [--no-calibrate]
Run from the repository root.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys

REFERENCES = os.path.join(os.path.dirname(__file__), "bench_references.json")
LEDGER_PREFIX = "history/BENCH_solo_r"


def newest_ledger() -> str:
    """The committed BENCH_solo_r{N}.json with the largest round N."""
    return max(
        glob.glob(LEDGER_PREFIX + "*.json"),
        key=lambda p: int(p[len(LEDGER_PREFIX):-len(".json")]),
    )


def ledger_times(doc: dict) -> dict[str, float]:
    """{name: sec} of one ledger file, full bench.py line or flat."""
    sections = ("queries", "extended_queries", "canaries")
    if not any(k in doc for k in sections):
        return doc
    out: dict[str, float] = {}
    for k in sections:
        out.update(doc.get(k, {}))
    return out


def main() -> int:
    args = sys.argv[1:]
    bench_paths = [
        a.split("=", 1)[1] for a in args if a.startswith("--bench=")
    ] or [newest_ledger()]
    factor = 1.3
    for a in args:
        if a.startswith("--factor="):
            factor = float(a.split("=", 1)[1])
    calibrate = "--no-calibrate" not in args

    current: dict[str, float] = {}
    for path in bench_paths:
        with open(path) as fh:
            times = ledger_times(json.load(fh))
        for name, sec in times.items():
            current[name] = min(sec, current.get(name, sec))
    with open(REFERENCES) as fh:
        refs = json.load(fh)
    ref = refs["references"]

    ratios = [
        current[n] / committed
        for n, committed in ref.items()
        if n in current and committed > 0
    ]
    ambient = max(1.0, statistics.median(ratios)) if ratios else 1.0
    if not calibrate:
        ambient = 1.0

    # additive scheduling-floor shift, estimated from the entries the
    # floor dominates (committed < 0.4 s)
    small_resid = [
        current[n] - ambient * c
        for n, c in ref.items()
        if n in current and 0 < c < 0.4
    ]
    floor = (
        max(0.0, statistics.median(small_resid))
        if calibrate and small_resid
        else 0.0
    )

    regressions, raw = [], 0
    for name, committed in sorted(ref.items()):
        now = current.get(name)
        if now is None:
            print(f"MISSING  {name} (committed {committed}s, no current)")
            continue
        if now > factor * committed:
            raw += 1
        if now > factor * committed * ambient + floor:
            regressions.append((name, now, committed))
    for name, now, committed in regressions:
        print(f"REGRESSED {name}: {now:.3f}s vs committed {committed}s"
              f" ({now / committed:.2f}x raw; allowed"
              f" {factor * committed * ambient + floor:.3f}s calibrated)")
    # Ambient canaries (r9, BASELINE.md "Ambient canaries"): when the
    # bench carries the constant-shape probes, print their ratio vs
    # the committed minima as DIRECT ambient evidence alongside the
    # inferred median — a disagreement between the two is itself a
    # diagnostic (canary calm + median high = broad plan regression;
    # canary high = host load).
    canary_bits = [
        f"{n.rsplit('_', 1)[-1]} {current[n] / c:.2f}x ({current[n]:.3f}s)"
        for n, c in sorted(refs["canaries"].items())
        if n in current
    ]
    if canary_bits:
        print("canaries vs committed: " + ", ".join(canary_bits))
    covered = sum(1 for n in ref if n in current)
    print(f"checked {covered}/{len(ref)} committed entries against"
          f" {', '.join(bench_paths)};"
          f" ambient-load median ratio {ambient:.2f};"
          f" scheduling-floor shift {floor:.3f}s;"
          f" {len(regressions)} regression(s) > {factor}x calibrated"
          f" ({raw} raw)")
    return 1 if regressions else 0


if __name__ == "__main__":
    sys.exit(main())
