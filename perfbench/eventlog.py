"""Spark counters from the traced run's event log, attributed to spans.

The traced run starts its session with ``spark.eventLog.enabled``; after
``spark.stop()`` the log is complete. A job belongs to the innermost span
open at its submission time, and a task to its stage's job.
"""

from __future__ import annotations

import glob
import json
import os
from collections import defaultdict

from perfbench.stats import Span

COUNTERS = (
    "jobs",
    "tasks",
    "shuffle_write_bytes",
    "shuffle_read_bytes",
    "spill_bytes",
    "task_cpu_s",
    "gc_s",
)


def event_log_conf(log_dir: str) -> dict[str, str]:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def _innermost(spans: list[Span], t: float) -> Span | None:
    best = None
    for s in spans:
        if s.start <= t <= s.end and (best is None or s.start >= best.start):
            best = s
    return best


def _task_counters(ev: dict) -> dict[str, float]:
    m = ev.get("Task Metrics") or {}
    rd = m.get("Shuffle Read Metrics") or {}
    wr = m.get("Shuffle Write Metrics") or {}
    return {
        "tasks": 1,
        "shuffle_write_bytes": wr.get("Shuffle Bytes Written", 0),
        "shuffle_read_bytes": rd.get("Remote Bytes Read", 0)
        + rd.get("Local Bytes Read", 0),
        "spill_bytes": m.get("Memory Bytes Spilled", 0)
        + m.get("Disk Bytes Spilled", 0),
        "task_cpu_s": m.get("Executor CPU Time", 0) / 1e9,
        "gc_s": m.get("JVM GC Time", 0) / 1e3,
    }


def counters_by_span(log_dir: str, spans: list[Span]) -> dict[int, dict[str, float]]:
    """Span id → summed Spark counters of the jobs that ran under it."""
    files = [f for f in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(f)]
    job_span: dict[int, int | None] = {}
    stage_job: dict[int, int] = {}
    out: dict[int, dict[str, float]] = defaultdict(lambda: dict.fromkeys(COUNTERS, 0.0))
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    s = _innermost(spans, ev["Submission Time"] / 1e3)
                    job_span[ev["Job ID"]] = s.span_id if s else None
                    for sid in ev.get("Stage IDs", []):
                        stage_job[sid] = ev["Job ID"]
                    if s is not None:
                        out[s.span_id]["jobs"] += 1
                elif kind == "SparkListenerTaskEnd":
                    job = stage_job.get(ev.get("Stage ID"))
                    sid = job_span.get(job) if job is not None else None
                    if sid is None:
                        continue
                    for k, v in _task_counters(ev).items():
                        out[sid][k] += v
    return dict(out)
