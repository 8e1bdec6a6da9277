"""Spans around layer calls, and Spark event-log attribution.

A ``Tracer`` times every layer call the benchmark makes. When tracing is
on, it also tags the Spark jobs the call launches with a job group named
``<workload>/<op>/<phase>`` and keeps a span (name, start, end, parent,
op id) in memory. After ``spark.stop()``, ``parse_event_log`` reads the
event log the traced session wrote and sums the jobs, stages and tasks
of each job group, so each span gets its own job, shuffle, spill, GC and
skew figures (``merge`` and ``spark_metrics`` combine them per layer).
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str  # layer phase, e.g. "plans.build"
    op: str  # the query or interval this span belongs to
    group: str  # Spark job group of the jobs launched inside it
    start: float  # epoch seconds
    end: float = 0.0
    parent: str | None = None

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans. ``enabled`` is switched per operation, so one run
    can time traced and untraced operations side by side."""

    def __init__(self, spark, workload: str):
        self.sc = spark.sparkContext
        self.workload = workload
        self.enabled = False
        self.spans: list[Span] = []
        self.stream_groups: dict[str, str] = {}  # streaming runId -> span group
        self._stack: list[Span] = []

    @contextlib.contextmanager
    def span(self, name: str, op: str):
        if not self.enabled:
            yield None
            return
        group = f"{self.workload}/{op}/{name}"
        parent = self._stack[-1].group if self._stack else None
        s = Span(name, op, group, time.time(), parent=parent)
        self._stack.append(s)
        self.sc.setJobGroup(group, group)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(self._stack[-1].group, self._stack[-1].group)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.spans.append(s)


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------


@dataclass
class GroupStats:
    jobs: int = 0
    job_intervals: list = field(default_factory=list)  # (start_s, end_s)
    stages: int = 0
    stage_walls: list = field(default_factory=list)  # (wall_s, skew)
    tasks: int = 0
    failed_tasks: int = 0
    task_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read_b: int = 0
    shuffle_write_b: int = 0
    spill_b: int = 0
    input_b: int = 0


def parse_event_log(log_dir: str) -> dict[str, GroupStats]:
    """Per-job-group totals from the event log(s) under ``log_dir``."""
    stage_group: dict[int, str] = {}
    job_start: dict[int, tuple[str, float]] = {}
    task_times: dict[int, list[float]] = {}
    out: dict[str, GroupStats] = {}
    for fn in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, fn)) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    job_start[ev["Job ID"]] = (group, ev["Submission Time"] / 1000)
                    out.setdefault(group, GroupStats()).jobs += 1
                elif kind == "SparkListenerJobEnd":
                    group, t0 = job_start.get(ev["Job ID"], ("", 0.0))
                    out.setdefault(group, GroupStats()).job_intervals.append(
                        (t0, ev["Completion Time"] / 1000)
                    )
                elif kind == "SparkListenerStageSubmitted":
                    props = ev.get("Properties") or {}
                    stage_group[ev["Stage Info"]["Stage ID"]] = props.get("spark.jobGroup.id") or ""
                elif kind == "SparkListenerTaskEnd":
                    sid = ev["Stage ID"]
                    g = out.setdefault(stage_group.get(sid, ""), GroupStats())
                    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                    dur = (info["Finish Time"] - info["Launch Time"]) / 1000
                    task_times.setdefault(sid, []).append(dur)
                    g.tasks += 1
                    g.failed_tasks += bool(info.get("Failed"))
                    g.task_s += dur
                    g.gc_s += m.get("JVM GC Time", 0) / 1000
                    sr = m.get("Shuffle Read Metrics") or {}
                    g.shuffle_read_b += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    g.shuffle_write_b += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    g.spill_b += m.get("Disk Bytes Spilled", 0)
                    g.input_b += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                elif kind == "SparkListenerStageCompleted":
                    si = ev["Stage Info"]
                    sid = si["Stage ID"]
                    g = out.setdefault(stage_group.get(sid, ""), GroupStats())
                    times = task_times.pop(sid, [])
                    if "Submission Time" not in si or not times:
                        continue  # skipped stage (its shuffle output was reused)
                    g.stages += 1
                    wall = (si["Completion Time"] - si["Submission Time"]) / 1000
                    med = statistics.median(times)
                    skew = max(times) / med if len(times) > 1 and med > 0 else 1.0
                    g.stage_walls.append((wall, skew))
    return out


def union_length(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur_end), min(b, hi)
        if b > a:
            total += b - a
            cur_end = b
    return total


def merge(stats: list[GroupStats]) -> GroupStats:
    m = GroupStats()
    for s in stats:
        m.jobs += s.jobs
        m.job_intervals += s.job_intervals
        m.stages += s.stages
        m.stage_walls += s.stage_walls
        m.tasks += s.tasks
        m.failed_tasks += s.failed_tasks
        m.task_s += s.task_s
        m.gc_s += s.gc_s
        m.shuffle_read_b += s.shuffle_read_b
        m.shuffle_write_b += s.shuffle_write_b
        m.spill_b += s.spill_b
        m.input_b += s.input_b
    return m


def spark_metrics(g: GroupStats, wall_s: float, cores: int, per: float) -> dict[str, float]:
    """The ``spark.*`` layer metrics of the jobs in ``g``, which ran inside
    spans of total wall time ``wall_s``; counts and sizes divided by
    ``per`` (passes or intervals)."""
    mb = 1024 * 1024
    weight = sum(w for w, _ in g.stage_walls)
    return {
        "spark.jobs": g.jobs / per,
        "spark.stages": g.stages / per,
        "spark.tasks": g.tasks / per,
        "spark.task_busy_frac": g.task_s / (wall_s * cores) if wall_s > 0 else 0.0,
        "spark.task_skew": sum(w * k for w, k in g.stage_walls) / weight if weight > 0 else 1.0,
        "spark.shuffle_read_mb": g.shuffle_read_b / mb / per,
        "spark.shuffle_write_mb": g.shuffle_write_b / mb / per,
        "spark.spill_mb": g.spill_b / mb / per,
        "spark.input_mb": g.input_b / mb / per,
        "spark.gc_s": g.gc_s / per,
        "spark.failed_tasks": g.failed_tasks / per,
    }
