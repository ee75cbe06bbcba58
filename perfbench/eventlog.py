"""Spark engine figures from an uncompressed event log.

Jobs are attributed to the benchmark's operations by job group (one group
per operation; Structured Streaming sets the query's run id as the group
of its micro-batch jobs), and otherwise by submission time falling inside
an operation's wall-clock window.
"""

from __future__ import annotations

import json
import statistics
from pathlib import Path


def read_events(log_dir: Path) -> list[dict]:
    events = []
    for f in sorted(log_dir.iterdir()):
        with open(f) as fh:
            events.extend(json.loads(line) for line in fh if line.strip())
    return events


def engine_metrics(events: list[dict], groups: set[str], windows: list[tuple]) -> dict:
    """Totals over the jobs of the given operations.

    ``groups`` are job group ids; ``windows`` are ``(start_ms, end_ms)``
    epoch-millisecond intervals for jobs that carry no known group."""
    jobs: set[int] = set()
    stage_job: dict[int, int] = {}
    for e in events:
        if e.get("Event") != "SparkListenerJobStart":
            continue
        group = (e.get("Properties") or {}).get("spark.jobGroup.id")
        t = e.get("Submission Time", 0)
        if group in groups or any(a <= t <= b for a, b in windows):
            jobs.add(e["Job ID"])
            for s in e.get("Stage IDs", []):
                stage_job[s] = e["Job ID"]
    totals = {
        "spark.jobs": len(jobs),
        "spark.tasks": 0,
        "spark.executor_run_s": 0.0,
        "spark.executor_cpu_s": 0.0,
        "spark.gc_s": 0.0,
        "spark.shuffle_read_mb": 0.0,
        "spark.shuffle_write_mb": 0.0,
        "spark.spill_mb": 0.0,
        "spark.output_mb": 0.0,
    }
    durations: dict[int, list[int]] = {}
    for e in events:
        if e.get("Event") != "SparkListenerTaskEnd" or e.get("Stage ID") not in stage_job:
            continue
        m, info = e.get("Task Metrics") or {}, e.get("Task Info") or {}
        sr, sw = m.get("Shuffle Read Metrics") or {}, m.get("Shuffle Write Metrics") or {}
        totals["spark.tasks"] += 1
        totals["spark.executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
        totals["spark.executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        totals["spark.gc_s"] += m.get("JVM GC Time", 0) / 1e3
        totals["spark.shuffle_read_mb"] += (
            sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        ) / 2**20
        totals["spark.shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 2**20
        totals["spark.spill_mb"] += (
            m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        ) / 2**20
        totals["spark.output_mb"] += (
            (m.get("Output Metrics") or {}).get("Bytes Written", 0) / 2**20
        )
        durations.setdefault(e["Stage ID"], []).append(
            info.get("Finish Time", 0) - info.get("Launch Time", 0)
        )
    totals["spark.task_skew"] = max(
        (max(d) / max(statistics.median(d), 1) for d in durations.values()),
        default=1.0,
    )
    return totals
