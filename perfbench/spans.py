"""Spans recorded around the engine's public calls, and the roll-up of
Spark's own event log onto them.

A span is one public call (``<module>.<function>``) timed from outside;
its parent is the workload cycle (one ETL batch, one query pass), whose
parent is the run.  Spans live in memory and are written out when the
run ends.

The roll-up reads the uncompressed JSON-lines event log that
``spark.eventLog.enabled=true`` writes, with the standard library only.
A job belongs to the innermost call span whose time window contains the
job's submission time; its stages and tasks follow it.  The job group is
deliberately not used: the gold build submits its dimension merges from a
thread pool whose JVM threads need not carry the caller's job group.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path


@dataclass
class Span:
    name: str
    start: float  # epoch seconds, the clock Spark stamps events with
    end: float
    parent: int | None  # index into Tracer.spans
    kind: str  # "run" | "cycle" | "call"


@dataclass
class Tracer:
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)

    @contextmanager
    def span(self, name: str, kind: str = "call"):
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        self.spans.append(Span(name, time.time(), 0.0, parent, kind))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.time()

    def to_json(self) -> list[dict]:
        return [s.__dict__ for s in self.spans]


@dataclass
class Job:
    job_id: int
    submitted: float
    stages: list[int]


@dataclass
class TaskStats:
    tasks: int = 0
    empty_tasks: int = 0
    exec_run_s: float = 0.0
    shuffle_write_mb: float = 0.0
    gc_s: float = 0.0


def parse_event_log(path: Path) -> tuple[list[Job], dict[int, TaskStats]]:
    """Jobs (with their stage ids) and per-stage task totals from one
    uncompressed event log file or rolling event-log directory."""
    files = sorted(path.rglob("events_*")) if path.is_dir() else [path]
    jobs: list[Job] = []
    stages: dict[int, TaskStats] = {}
    for f in files:
        with open(f) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jobs.append(Job(ev["Job ID"], ev["Submission Time"] / 1e3,
                                    list(ev.get("Stage IDs", []))))
                elif kind == "SparkListenerTaskEnd":
                    _add_task(stages.setdefault(ev["Stage ID"], TaskStats()),
                              ev.get("Task Metrics") or {})
    return jobs, stages


def _add_task(st: TaskStats, m: dict) -> None:
    inp = m.get("Input Metrics", {}).get("Records Read", 0)
    out = m.get("Output Metrics", {}).get("Records Written", 0)
    srd = m.get("Shuffle Read Metrics", {})
    swr = m.get("Shuffle Write Metrics", {})
    read = inp + srd.get("Total Records Read",
                         srd.get("Local Records Read", 0)
                         + srd.get("Remote Records Read", 0))
    wrote = out + swr.get("Shuffle Records Written", 0)
    st.tasks += 1
    st.empty_tasks += int(read == 0 and wrote == 0)
    st.exec_run_s += m.get("Executor Run Time", 0) / 1e3
    st.shuffle_write_mb += swr.get("Shuffle Bytes Written", 0) / 1e6
    st.gc_s += m.get("JVM GC Time", 0) / 1e3


def assign_jobs(spans: list[Span], jobs: list[Job]) -> dict[int | None, list[Job]]:
    """Map each job to the innermost call span containing its submission
    (``None`` when no call span does)."""
    calls = [(i, s) for i, s in enumerate(spans) if s.kind == "call"]
    out: dict[int | None, list[Job]] = {}
    for job in jobs:
        owner = None
        for i, s in calls:
            if s.start <= job.submitted <= s.end and (
                owner is None or s.start >= spans[owner].start
            ):
                owner = i
        out.setdefault(owner, []).append(job)
    return out


def rollup(spans: list[Span], jobs: list[Job],
           stages: dict[int, TaskStats]) -> dict[str, dict[str, float]]:
    """Per call-span name: wall, jobs and summed task stats, totalled over
    every span of that name."""
    by_span = assign_jobs(spans, jobs)
    seen: set[int] = set()  # a reused stage is listed by later jobs too
    out: dict[str, dict[str, float]] = {}
    for i, s in enumerate(spans):
        if s.kind != "call":
            continue
        agg = out.setdefault(s.name, {
            "calls": 0, "wall_s": 0.0, "jobs": 0, "tasks": 0,
            "empty_tasks": 0, "exec_run_s": 0.0, "shuffle_write_mb": 0.0,
            "gc_s": 0.0,
        })
        agg["calls"] += 1
        agg["wall_s"] += s.end - s.start
        for job in by_span.get(i, []):
            agg["jobs"] += 1
            for sid in job.stages:
                st = stages.get(sid)
                if st is None or sid in seen:  # skipped or counted
                    continue
                seen.add(sid)
                agg["tasks"] += st.tasks
                agg["empty_tasks"] += st.empty_tasks
                agg["exec_run_s"] += st.exec_run_s
                agg["shuffle_write_mb"] += st.shuffle_write_mb
                agg["gc_s"] += st.gc_s
    return out


def span_coverage(spans: list[Span]) -> float:
    """Share of the cycles' wall that their call spans cover; the rest is
    driver-side glue between calls.  Output checks run after a cycle's
    span ends: they are the benchmark's own work, not the workload's."""
    wall = sum(s.end - s.start for s in spans if s.kind == "cycle")
    covered = sum(s.end - s.start for s in spans if s.kind == "call")
    return covered / wall if wall else 0.0
