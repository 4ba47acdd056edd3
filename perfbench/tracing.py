"""Tracing for the per-layer run.

Two sources, both outside the program under test:

- ``Spans``: wall-clock spans the benchmark records around its own
  calls into a package layer (``session`` start, ``plans`` builds).
- ``read_event_log``: Spark's own status counters, from the JSON event
  log the traced session writes (task run/CPU/GC time, shuffle bytes,
  input bytes and records, stage queue wait, job and stage counts).
"""

from __future__ import annotations

import contextlib
import json
import os
import time
from collections import defaultdict


class Spans:
    """Per-name duration totals; a no-op when disabled."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.total: dict[str, float] = defaultdict(float)

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.total[name] += time.perf_counter() - t0


def event_log_conf(log_dir: str) -> dict[str, str]:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
    }


def read_event_log(log_dir: str, t0: float, t1: float) -> dict[str, float]:
    """Sum Spark's counters over the jobs submitted in [t0, t1] (epoch
    seconds). Call after the session stopped, so the log is complete."""
    lo, hi = t0 * 1000, t1 * 1000
    jobs, stages_of_job = 0, set()
    stage_submit: dict[tuple[int, int], float] = {}
    first_launch: dict[tuple[int, int], float] = {}
    sums: dict[str, float] = defaultdict(float)
    in_window: set[int] = set()
    paths = sorted(
        os.path.join(d, n) for d, _, names in os.walk(log_dir) for n in names
        if n.startswith("events_") or n.startswith("local-")
    )
    for path in paths:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    if lo <= ev["Submission Time"] <= hi:
                        jobs += 1
                        in_window.update(ev["Stage IDs"])
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    sid = info["Stage ID"]
                    if sid in in_window and "Submission Time" in info:
                        stages_of_job.add(sid)
                        stage_submit[(sid, info["Stage Attempt ID"])] = info["Submission Time"]
                elif kind == "SparkListenerTaskEnd":
                    sid = ev["Stage ID"]
                    if sid not in in_window:
                        continue
                    key = (sid, ev["Stage Attempt ID"])
                    info = ev["Task Info"]
                    launch = info["Launch Time"]
                    first_launch[key] = min(first_launch.get(key, launch), launch)
                    m = ev.get("Task Metrics") or {}
                    sums["run_ms"] += m.get("Executor Run Time", 0)
                    sums["cpu_ns"] += m.get("Executor CPU Time", 0)
                    sums["gc_ms"] += m.get("JVM GC Time", 0)
                    inp = m.get("Input Metrics") or {}
                    sums["in_b"] += inp.get("Bytes Read", 0)
                    sums["in_rows"] += inp.get("Records Read", 0)
                    sw = m.get("Shuffle Write Metrics") or {}
                    sums["sw_b"] += sw.get("Shuffle Bytes Written", 0)
                    sr = m.get("Shuffle Read Metrics") or {}
                    sums["sr_b"] += sr.get("Remote Bytes Read", 0) + sr.get(
                        "Local Bytes Read", 0
                    )
    waits = [
        first_launch[k] - stage_submit[k] for k in stage_submit if k in first_launch
    ]
    sums["jobs"] = jobs
    sums["stages"] = len(stages_of_job)
    sums["queue_wait_ms"] = sum(waits) / len(waits) if waits else 0.0
    return dict(sums)
