"""Per-layer task metrics from a Spark event log.

The traced run turns on an uncompressed, unrolled event log in its own
session and tags every job with a job group ``<pass>|<op>|<phase>``. This
module reads the log back after the session stops and sums task metrics
per job group: executor run, CPU and GC time, shuffle and spill bytes,
scan bytes and rows, and the Python-worker SQL metrics.
"""

from __future__ import annotations

import glob
import json
import os
from collections import defaultdict

MB = 1024 * 1024

# SQL metric name -> (per-layer metric, divisor to the metric's unit).
# The Python-worker timings are millisecond SQL metrics, the data sizes bytes.
_PY_ACCUMS = {
    "time to start Python workers": ("py.boot_s", 1e3),
    "time to initialize Python workers": ("py.init_s", 1e3),
    "time to run Python workers": ("py.run_s", 1e3),
    "data sent to Python workers": ("py.sent_mb", MB),
    "data returned from Python workers": ("py.returned_mb", MB),
}

TASK_METRICS = [
    "task.run_s", "task.cpu_s", "task.gc_s",
    "shuffle.write_mb", "shuffle.read_mb", "spill.mb",
    "scan.mb", "scan.rows",
] + [m for m, _ in _PY_ACCUMS.values()]


def _task_values(event: dict) -> dict[str, float]:
    tm = event.get("Task Metrics") or {}
    shuffle_read = tm.get("Shuffle Read Metrics", {})
    out = {
        "task.run_s": tm.get("Executor Run Time", 0) / 1e3,
        "task.cpu_s": tm.get("Executor CPU Time", 0) / 1e9,
        "task.gc_s": tm.get("JVM GC Time", 0) / 1e3,
        "shuffle.write_mb": tm.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0) / MB,
        "shuffle.read_mb": (
            shuffle_read.get("Remote Bytes Read", 0) + shuffle_read.get("Local Bytes Read", 0)
        ) / MB,
        "spill.mb": (tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)) / MB,
        "scan.mb": tm.get("Input Metrics", {}).get("Bytes Read", 0) / MB,
        "scan.rows": float(tm.get("Input Metrics", {}).get("Records Read", 0)),
    }
    for acc in event.get("Task Info", {}).get("Accumulables", []):
        hit = _PY_ACCUMS.get(acc.get("Name"))
        if hit:
            name, div = hit
            out[name] = out.get(name, 0.0) + float(acc.get("Update", 0)) / div
    return out


def read(log_dir: str) -> dict:
    """Parse every event log under ``log_dir``.

    Returns ``{"groups": {group: {metric: total}}, "jobs": {group: [(start_ms,
    end_ms), ...]}}``; a task counts toward the group of the first job that
    listed its stage."""
    stage_group: dict[int, str] = {}
    job_group: dict[int, str] = {}
    job_start: dict[int, int] = {}
    groups: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    jobs: dict[str, list[tuple[int, int]]] = defaultdict(list)
    for path in glob.glob(os.path.join(log_dir, "*")):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group:
                        job_group[ev["Job ID"]] = group
                        job_start[ev["Job ID"]] = ev["Submission Time"]
                        for sid in ev["Stage IDs"]:
                            stage_group.setdefault(sid, group)
                elif kind == "SparkListenerJobEnd" and ev["Job ID"] in job_group:
                    jid = ev["Job ID"]
                    jobs[job_group[jid]].append((job_start[jid], ev["Completion Time"]))
                elif kind == "SparkListenerTaskEnd" and ev["Stage ID"] in stage_group:
                    acc = groups[stage_group[ev["Stage ID"]]]
                    for k, v in _task_values(ev).items():
                        acc[k] += v
    return {"groups": groups, "jobs": jobs}


def covered_s(intervals: list[tuple[int, int]]) -> float:
    """Seconds covered by the union of ``(start_ms, end_ms)`` intervals."""
    total, end = 0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total / 1e3
