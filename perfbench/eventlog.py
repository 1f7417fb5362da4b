"""Stdlib-only reader for an uncompressed Spark event log.

Spark writes one JSON object per line.  A rolling log is a directory
``eventlog_v2_<app>`` of ``events_<n>_<app>`` files; a plain log is one
file.  Both are read in order.  The reader keeps what the benchmark
attributes to its operations: when each job was submitted and, per
finished task, its launch time and metrics.  Operations are wall-clock
intervals of one client, so a job or task belongs to the operation
whose interval holds its submission or launch time.
"""

from __future__ import annotations

import json
import os
import re
from bisect import bisect_right
from dataclasses import dataclass, field


@dataclass
class Counters:
    jobs: int = 0
    tasks: int = 0
    run_ms: float = 0.0
    cpu_ms: float = 0.0
    gc_ms: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0

    def add(self, other: "Counters") -> None:
        for name in self.__dataclass_fields__:
            setattr(self, name, getattr(self, name) + getattr(other, name))


@dataclass
class EventLog:
    jobs: list[float] = field(default_factory=list)  # submission times, ms
    tasks: list[tuple[float, dict]] = field(default_factory=list)  # (launch ms, metrics)


def _log_files(log_dir: str) -> list[str]:
    files = []
    for dirpath, _dirs, names in os.walk(log_dir):
        for name in names:
            if name.startswith("appstatus"):
                continue
            files.append(os.path.join(dirpath, name))

    def order(path: str) -> tuple[str, int]:
        m = re.match(r"events_(\d+)_", os.path.basename(path))
        return (os.path.dirname(path), int(m.group(1)) if m else 0)

    return sorted(files, key=order)


def read(log_dir: str) -> EventLog:
    log = EventLog()
    for path in _log_files(log_dir):
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                try:
                    ev = json.loads(line)
                except json.JSONDecodeError:
                    continue  # a line cut off by an unclean stop
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    log.jobs.append(float(ev["Submission Time"]))
                elif kind == "SparkListenerTaskEnd" and ev.get("Task Metrics"):
                    log.tasks.append(
                        (float(ev["Task Info"]["Launch Time"]), ev["Task Metrics"])
                    )
    log.jobs.sort()
    log.tasks.sort(key=lambda t: t[0])
    return log


def _task_counters(m: dict) -> Counters:
    sw = m.get("Shuffle Write Metrics", {})
    return Counters(
        tasks=1,
        run_ms=float(m.get("Executor Run Time", 0)),
        cpu_ms=float(m.get("Executor CPU Time", 0)) / 1e6,
        gc_ms=float(m.get("JVM GC Time", 0)),
        shuffle_write_bytes=int(sw.get("Shuffle Bytes Written", 0)),
        spill_bytes=int(m.get("Memory Bytes Spilled", 0))
        + int(m.get("Disk Bytes Spilled", 0)),
    )


def attribute(log: EventLog, intervals: list[tuple[float, float]]) -> list[Counters]:
    """Counters per interval (epoch ms, sorted, non-overlapping)."""
    out = [Counters() for _ in intervals]
    starts = [s for s, _ in intervals]

    def slot(t: float) -> int | None:
        i = bisect_right(starts, t) - 1
        if i >= 0 and t <= intervals[i][1]:
            return i
        return None

    for submit in log.jobs:
        i = slot(submit)
        if i is not None:
            out[i].jobs += 1
    for launch, metrics in log.tasks:
        i = slot(launch)
        if i is not None:
            out[i].add(_task_counters(metrics))
    return out
