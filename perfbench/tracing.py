"""Tracing for the benchmark's traced run (``--trace 1``).

Everything here sits outside the engine:

- ``Tracer`` keeps spans (name, start, end, parent, run id) in memory,
  one per boundary the benchmark calls, and tags the Spark jobs a span
  launches with a job group, so the event log can attribute them;
- ``read_event_log`` reads Spark's own uncompressed, non-rolling event
  log (enabled from outside the program, see ``run.environment``) and
  sums task metrics per job;
- ``self_times`` derives each span's self time: its duration minus the
  part of it that its child spans cover.
"""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

GROUP_PROP = "spark.jobGroup.id"


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    group: str | None = None


@dataclass
class Tracer:
    """Spans of one run. With ``enabled`` false every method is a
    no-op, so the untraced run pays for nothing but the calls."""

    enabled: bool
    run_id: str
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)
    sc: object = None  # the live SparkContext, set once a session exists

    @contextmanager
    def span(self, name: str, group: str | None = None):
        """Time a block as a child of the innermost open span. A
        ``group`` tags the Spark jobs the block launches; the enclosing
        group is restored afterwards."""
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        prev = None
        if group is not None and self.sc is not None:
            prev = self.sc.getLocalProperty(GROUP_PROP)
            self.sc.setJobGroup(group, name)
        self.spans.append(Span(name, time.time(), parent=parent, group=group))
        idx = len(self.spans) - 1
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.time()
            if group is not None and self.sc is not None:
                if prev is None:
                    self.sc.setLocalProperty(GROUP_PROP, None)
                else:
                    self.sc.setJobGroup(prev, prev)

    def write(self, path: str, extra: dict) -> None:
        selfs = self_times(self.spans)
        doc = {
            "run_id": self.run_id,
            "spans": [
                {
                    "id": i,
                    "name": s.name,
                    "start": s.start,
                    "end": s.end,
                    "parent": s.parent,
                    "group": s.group,
                    "self_s": round(selfs[i], 6),
                }
                for i, s in enumerate(self.spans)
            ],
            **extra,
        }
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(doc, f, indent=1)


def self_times(spans: list[Span]) -> list[float]:
    """Duration minus the union of the direct children's intervals."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append((s.start, s.end))
    out = []
    for i, s in enumerate(spans):
        covered, cur_end = 0.0, s.start
        for a, b in sorted(children[i]):
            a, b = max(a, cur_end), min(b, s.end)
            if b > a:
                covered += b - a
                cur_end = b
        out.append((s.end - s.start) - covered)
    return out


@dataclass
class JobStats:
    jobs: int = 0
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read_mb: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    peak_mem_mb: float = 0.0  # the largest single task's peak

    def add(self, o: JobStats) -> None:
        for k in ("jobs", "tasks", "run_s", "cpu_s", "gc_s",
                  "shuffle_read_mb", "shuffle_write_mb", "spill_mb"):
            setattr(self, k, getattr(self, k) + getattr(o, k))
        self.peak_mem_mb = max(self.peak_mem_mb, o.peak_mem_mb)


MB = 1024 * 1024


@dataclass
class Job:
    group: str
    submitted: float  # epoch seconds, comparable with span times
    stats: JobStats = field(default_factory=JobStats)


def read_event_log(path: str) -> list[Job]:
    """Every job in the log with its group, submission time and the
    task metrics of its stages (jobs without a group get ``""``)."""
    jobs: list[Job] = []
    stage_job: dict[int, Job] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                job = Job(props.get(GROUP_PROP) or "", ev.get("Submission Time", 0) / 1e3)
                job.stats.jobs = 1
                jobs.append(job)
                for sid in ev.get("Stage IDs", []):
                    stage_job[sid] = job
            elif kind == "SparkListenerTaskEnd":
                job = stage_job.get(ev.get("Stage ID"))
                m = ev.get("Task Metrics")
                if job is None or not m:
                    continue
                shuffle_read = m.get("Shuffle Read Metrics", {})
                job.stats.add(
                    JobStats(
                        tasks=1,
                        run_s=m.get("Executor Run Time", 0) / 1e3,
                        cpu_s=m.get("Executor CPU Time", 0) / 1e9,
                        gc_s=m.get("JVM GC Time", 0) / 1e3,
                        shuffle_read_mb=(
                            shuffle_read.get("Remote Bytes Read", 0)
                            + shuffle_read.get("Local Bytes Read", 0)
                        ) / MB,
                        shuffle_write_mb=m.get("Shuffle Write Metrics", {}).get(
                            "Shuffle Bytes Written", 0
                        ) / MB,
                        spill_mb=(m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)) / MB,
                        peak_mem_mb=m.get("Peak Execution Memory", 0) / MB,
                    )
                )
    return jobs


def sum_jobs(jobs: list[Job], pred) -> JobStats:
    out = JobStats()
    for j in jobs:
        if pred(j):
            out.add(j.stats)
    return out


def tail(values: list[float]) -> dict:
    """The highest percentile with at least ten samples beyond it,
    with its p and the sample count n (value None below 11 samples)."""
    n = len(values)
    if n < 11:
        return {"value": None, "p": None, "n": n}
    ordered = sorted(values)
    k = n - 11  # index with exactly ten samples above it
    return {"value": ordered[k], "p": round(100.0 * (k + 1) / n, 1), "n": n}
