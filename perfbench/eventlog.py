"""Spark event-log parsing and span arithmetic, stdlib only.

Spark writes its event log as JSON lines, either one file per
application or, with rolling enabled, an ``eventlog_v2_*`` directory of
``events_<n>_*`` parts. ``read_events`` accepts either layout under a
log directory, uncompressed (the benchmark sets
``spark.eventLog.compress=false``).

Jobs, stages and tasks are attributed to the job group that was active
when they were submitted (``spark.jobGroup.id`` in the event's
properties). The benchmark names each group after the span that ran
it, so a job's parent span is its group.
"""

from __future__ import annotations

import json
import os
import re
from collections import defaultdict
from dataclasses import dataclass, field

GROUP_KEY = "spark.jobGroup.id"


def _part_index(name: str) -> int:
    m = re.match(r"events_(\d+)_", name)
    return int(m.group(1)) if m else 0


def log_files(log_dir: str) -> list[str]:
    """Every event-log file under ``log_dir``, rolling parts in order."""
    out = []
    for dirpath, _, files in sorted(os.walk(log_dir)):
        for f in sorted(files, key=_part_index):
            if not f.startswith(".") and not f.endswith(".crc"):
                out.append(os.path.join(dirpath, f))
    return out


def read_events(log_dir: str):
    for path in log_files(log_dir):
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                if line.strip():
                    yield json.loads(line)


@dataclass
class GroupStats:
    """What Spark did for one job group."""

    jobs: dict[int, tuple[float, float]] = field(default_factory=dict)  # id -> (start, end) s
    stages: set[int] = field(default_factory=set)
    tasks: int = 0
    failed_tasks: int = 0
    task_run_s: float = 0.0
    task_cpu_s: float = 0.0
    gc_s: float = 0.0
    input_mb: float = 0.0
    output_mb: float = 0.0
    shuffle_write_mb: float = 0.0
    shuffle_read_mb: float = 0.0
    fetch_wait_s: float = 0.0
    spill_mb: float = 0.0


_MB = 1024.0 * 1024.0
# GroupStats fields that add up across groups
SUMMED = (
    "task_run_s", "task_cpu_s", "gc_s", "input_mb", "output_mb",
    "shuffle_write_mb", "shuffle_read_mb", "fetch_wait_s", "spill_mb",
)


def group_stats(events) -> dict[str, GroupStats]:
    """Fold an event stream into per-job-group statistics. Events of
    jobs outside any group are dropped."""
    groups: dict[str, GroupStats] = defaultdict(GroupStats)
    job_group: dict[int, str] = {}
    job_start: dict[int, float] = {}
    stage_group: dict[int, str] = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            g = (ev.get("Properties") or {}).get(GROUP_KEY)
            if g is None:
                continue
            jid = ev["Job ID"]
            job_group[jid] = g
            job_start[jid] = ev["Submission Time"] / 1000.0
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, g)
        elif kind == "SparkListenerJobEnd":
            jid = ev["Job ID"]
            if jid in job_group:
                groups[job_group[jid]].jobs[jid] = (job_start[jid], ev["Completion Time"] / 1000.0)
        elif kind == "SparkListenerStageSubmitted":
            g = (ev.get("Properties") or {}).get(GROUP_KEY)
            if g is not None:
                stage_group[ev["Stage Info"]["Stage ID"]] = g
        elif kind == "SparkListenerTaskEnd":
            g = stage_group.get(ev["Stage ID"])
            if g is None:
                continue
            s = groups[g]
            s.stages.add(ev["Stage ID"])
            s.tasks += 1
            info = ev.get("Task Info") or {}
            if info.get("Failed") or info.get("Killed"):
                s.failed_tasks += 1
            m = ev.get("Task Metrics") or {}
            s.task_run_s += m.get("Executor Run Time", 0) / 1000.0
            s.task_cpu_s += m.get("Executor CPU Time", 0) / 1e9
            s.gc_s += m.get("JVM GC Time", 0) / 1000.0
            s.input_mb += (m.get("Input Metrics") or {}).get("Bytes Read", 0) / _MB
            s.output_mb += (m.get("Output Metrics") or {}).get("Bytes Written", 0) / _MB
            sw = m.get("Shuffle Write Metrics") or {}
            s.shuffle_write_mb += sw.get("Shuffle Bytes Written", 0) / _MB
            sr = m.get("Shuffle Read Metrics") or {}
            s.shuffle_read_mb += (sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)) / _MB
            s.fetch_wait_s += sr.get("Fetch Wait Time", 0) / 1000.0
            s.spill_mb += (m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)) / _MB
    return dict(groups)


def union_s(intervals, lo: float | None = None, hi: float | None = None) -> float:
    """Length of the union of ``(start, end)`` intervals, clipped to
    ``[lo, hi]`` when given."""
    clipped = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            clipped.append((a, b))
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted(clipped):
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


@dataclass
class Span:
    id: str
    parent: str | None
    start: float
    end: float
    self_s: float = 0.0


def with_self_time(spans: list[Span]) -> list[Span]:
    """Fill each span's self time: its duration minus the part of its
    interval that its child spans cover."""
    children = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append((s.start, s.end))
    for s in spans:
        s.self_s = (s.end - s.start) - union_s(children[s.id], s.start, s.end)
    return spans
