"""Spans recorded by the benchmark around its calls into the engine, and
the fold of Spark's event log onto those spans.

A span has a name, wall-clock start/end (epoch seconds, to line up with
the event log's millisecond timestamps) and a parent.  The benchmark
runs one operation at a time, so every Spark job belongs to the
innermost span open when it was submitted; jobs submitted by the
store's internal thread pools carry no job group but still fall inside
the span of the call that started them.
"""

from __future__ import annotations

import contextlib
import json
import os
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    dur: float = 0.0
    attrs: dict = field(default_factory=dict)
    jobs: list = field(default_factory=list)


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        s = Span(len(self.spans), name, self._stack[-1] if self._stack else None,
                 time.time(), attrs=attrs)
        self.spans.append(s)
        self._stack.append(s.id)
        t0 = time.perf_counter()
        try:
            yield s
        finally:
            s.dur = time.perf_counter() - t0
            s.end = time.time()
            self._stack.pop()

    def is_open(self, name: str) -> bool:
        return any(self.spans[i].name == name for i in self._stack)

    def children(self, s: Span) -> list[Span]:
        return [c for c in self.spans if c.parent == s.id]

    def self_time(self, s: Span) -> float:
        return s.dur - sum(c.dur for c in self.children(s))

    def named(self, name: str, within: Span | None = None) -> list[Span]:
        out = [s for s in self.spans if s.name == name]
        if within is not None:
            out = [s for s in out if self.inside(s, within)]
        return out

    def inside(self, s: Span, root: Span) -> bool:
        while s is not None:
            if s.id == root.id:
                return True
            s = self.spans[s.parent] if s.parent is not None else None
        return False

    def innermost_at(self, t: float, within: Span) -> Span | None:
        """The deepest span of ``within``'s subtree open at epoch ``t``."""
        best = None
        for s in self.spans:
            if s.start <= t <= s.end and self.inside(s, within):
                if best is None or self.inside(s, best):
                    best = s
        return best


# -- Spark event log ---------------------------------------------------------

EXEC_KEYS = ("jobs", "stages", "tasks", "task_run_s", "task_cpu_s", "gc_s",
             "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
             "input_bytes", "output_bytes")


@dataclass
class Job:
    id: int
    submitted: float          # epoch seconds
    completed: float = 0.0
    stages: set = field(default_factory=set)
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read: int = 0
    shuffle_write: int = 0
    spill: int = 0
    input: int = 0
    output: int = 0


def read_event_log(path: str) -> list[Job]:
    """Jobs with their tasks' metrics summed, from one uncompressed,
    non-rolled Spark event log file."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                j = Job(ev["Job ID"], ev["Submission Time"] / 1000.0)
                jobs[j.id] = j
                for sid in ev.get("Stage IDs", []):
                    stage_job.setdefault(sid, j.id)
            elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                jobs[ev["Job ID"]].completed = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                j = jobs.get(stage_job.get(ev["Stage ID"]))
                m = ev.get("Task Metrics")
                if j is None or not m:
                    continue
                j.stages.add(ev["Stage ID"])
                j.tasks += 1
                j.run_s += m.get("Executor Run Time", 0) / 1000.0
                j.cpu_s += m.get("Executor CPU Time", 0) / 1e9
                j.gc_s += m.get("JVM GC Time", 0) / 1000.0
                sr = m.get("Shuffle Read Metrics", {})
                j.shuffle_read += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                j.shuffle_write += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                j.spill += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                j.input += m.get("Input Metrics", {}).get("Bytes Read", 0)
                j.output += m.get("Output Metrics", {}).get("Bytes Written", 0)
    return sorted(jobs.values(), key=lambda j: j.submitted)


def event_log_file(log_dir: str) -> str:
    names = [n for n in os.listdir(log_dir) if not n.startswith(".")]
    if len(names) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {names}")
    return os.path.join(log_dir, names[0])


def attribute(tracer: Tracer, jobs: list[Job], root: Span) -> None:
    """Attach each job submitted inside ``root`` to its innermost span."""
    for j in jobs:
        s = tracer.innermost_at(j.submitted, root)
        if s is not None:
            s.jobs.append(j)


def jobs_under(tracer: Tracer, s: Span) -> list[Job]:
    return [j for t in tracer.spans if tracer.inside(t, s) for j in t.jobs]


def exec_totals(jobs: list[Job]) -> dict[str, float]:
    return {
        "jobs": len(jobs),
        "stages": sum(len(j.stages) for j in jobs),
        "tasks": sum(j.tasks for j in jobs),
        "task_run_s": sum(j.run_s for j in jobs),
        "task_cpu_s": sum(j.cpu_s for j in jobs),
        "gc_s": sum(j.gc_s for j in jobs),
        "shuffle_read_bytes": sum(j.shuffle_read for j in jobs),
        "shuffle_write_bytes": sum(j.shuffle_write for j in jobs),
        "spill_bytes": sum(j.spill for j in jobs),
        "input_bytes": sum(j.input for j in jobs),
        "output_bytes": sum(j.output for j in jobs),
    }


def coverage(tracer: Tracer, roots: list[Span]) -> float:
    """Share of the operations' wall time spent inside layer spans: the
    root span's self time is the benchmark's own bookkeeping."""
    wall = sum(r.dur for r in roots)
    return sum(r.dur - tracer.self_time(r) for r in roots) / wall if wall else 0.0
