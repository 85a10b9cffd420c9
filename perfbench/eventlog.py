"""Parse a Spark event log and attribute its jobs, stages and tasks to
job groups.

The traced run sets the Spark job group of every operation to the id of
its ``op`` span, so each job, stage and task that the operation caused
carries that id in its ``Properties``. The log is one JSON event per
line (``spark.eventLog.compress=false``) and is complete once the
SparkContext has stopped.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

GROUP = "spark.jobGroup.id"
MB = 1024 * 1024


@dataclass
class GroupStats:
    """Everything Spark ran for one job group."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    task_retries: int = 0
    cpu_s: float = 0.0
    run_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_mb: float = 0.0
    shuffle_read_mb: float = 0.0
    fetch_wait_s: float = 0.0
    spill_mb: float = 0.0
    input_mb: float = 0.0
    input_rows: int = 0
    job_intervals: list[tuple[float, float]] = field(default_factory=list)


def _add_task(stats: GroupStats, ev: dict) -> None:
    info = ev.get("Task Info", {})
    stats.tasks += 1
    if info.get("Attempt", 0) > 0 or ev.get("Task End Reason", {}).get("Reason") != "Success":
        stats.task_retries += 1
    m = ev.get("Task Metrics")
    if not m:
        return
    stats.cpu_s += m.get("Executor CPU Time", 0) / 1e9
    stats.run_s += m.get("Executor Run Time", 0) / 1e3
    stats.gc_s += m.get("JVM GC Time", 0) / 1e3
    stats.spill_mb += (m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)) / MB
    sr = m.get("Shuffle Read Metrics", {})
    stats.shuffle_read_mb += (sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)) / MB
    stats.fetch_wait_s += sr.get("Fetch Wait Time", 0) / 1e3
    stats.shuffle_write_mb += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0) / MB
    inp = m.get("Input Metrics", {})
    stats.input_mb += inp.get("Bytes Read", 0) / MB
    stats.input_rows += inp.get("Records Read", 0)


def parse_lines(lines) -> dict[str, GroupStats]:
    """Group id -> stats. Jobs without a group are filed under ``""``."""
    groups: dict[str, GroupStats] = {}
    job_group: dict[int, str] = {}
    job_start: dict[int, float] = {}
    stage_group: dict[int, str] = {}

    def get(group: str) -> GroupStats:
        return groups.setdefault(group, GroupStats())

    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get(GROUP, "")
            job_group[ev["Job ID"]] = group
            job_start[ev["Job ID"]] = ev["Submission Time"] / 1e3
            get(group).jobs += 1
        elif kind == "SparkListenerJobEnd":
            group = job_group.get(ev["Job ID"], "")
            get(group).job_intervals.append((job_start.get(ev["Job ID"], 0.0), ev["Completion Time"] / 1e3))
        elif kind == "SparkListenerStageSubmitted":
            sid = ev["Stage Info"]["Stage ID"]
            stage_group[sid] = (ev.get("Properties") or {}).get(GROUP, "")
        elif kind == "SparkListenerStageCompleted":
            get(stage_group.get(ev["Stage Info"]["Stage ID"], "")).stages += 1
        elif kind == "SparkListenerTaskEnd":
            _add_task(get(stage_group.get(ev["Stage ID"], "")), ev)
    return groups


def parse_dir(path: str) -> dict[str, GroupStats]:
    """Parse every event log file in ``path`` (one per application)."""
    lines: list[str] = []
    for name in sorted(n for n in os.listdir(path) if not n.startswith(".")):  # skip .crc files
        with open(os.path.join(path, name)) as f:
            lines.extend(f)
    return parse_lines(lines)


def covered_s(intervals: list[tuple[float, float]], start: float, end: float) -> float:
    """Length of the part of [start, end] covered by the union of ``intervals``."""
    covered, cursor = 0.0, start
    for a, b in sorted(intervals):
        a, b = max(a, cursor), min(b, end)
        if b > a:
            covered += b - a
            cursor = b
    return covered
