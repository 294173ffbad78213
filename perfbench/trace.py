"""Traced runs: spans around calls into the program's layers, and a fold
of Spark's own event log by span.

Spans are recorded from outside the program: ``Tracer.wrap`` replaces a
module attribute (a public function of one layer) with a wrapper that
records (name, start, end, parent) and runs the call under its own Spark
job group.  Every job Spark starts carries the innermost group in its
``JobStart`` properties, so the event log attributes jobs, stages and
task metrics to spans without a profiler.  Structured Streaming runs its
micro-batches on its own thread, which does not inherit the caller's job
group; jobs of such spans are attributed by the span's time window.
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
    attrs: dict = field(default_factory=dict)

    @property
    def group(self) -> str:
        return f"perfbench-{self.id}"

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder; spans are folded after the run ends."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self.overhead_s = 0.0  # the tracer's own time: span bookkeeping and hooks
        self._stack: list[Span] = []
        self._patched: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str):
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, parent.id if parent else None, time.time())
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobGroup(s.group, name)
        self.overhead_s += time.perf_counter() - t0
        try:
            yield s
        finally:
            t0 = time.perf_counter()
            s.end = time.time()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent.group, parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self.overhead_s += time.perf_counter() - t0

    def wrap(self, owner, attr: str, name, after=None) -> None:
        """Replace ``owner.attr`` with a spanned wrapper.  ``name`` is the
        span name or a function of the call's arguments; ``after(span,
        result, args, kwargs)`` may record counts while the span is open."""
        fn = getattr(owner, attr)

        def wrapper(*args, **kwargs):
            label = name(*args, **kwargs) if callable(name) else name
            with self.span(label) as s:
                out = fn(*args, **kwargs)
                if after is not None:
                    t0 = time.perf_counter()
                    after(s, out, args, kwargs)
                    self.overhead_s += time.perf_counter() - t0
                return out

        self.patch(owner, attr, wrapper)

    def patch(self, owner, attr: str, new) -> None:
        """Replace ``owner.attr`` until ``unwrap_all``."""
        self._patched.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def unwrap_all(self) -> None:
        for owner, attr, fn in reversed(self._patched):
            setattr(owner, attr, fn)
        self._patched.clear()

    # -- span queries ------------------------------------------------------
    def children(self, s: Span) -> list[Span]:
        return [c for c in self.spans if c.parent == s.id]

    def subtree(self, s: Span) -> list[Span]:
        out, todo = [], [s]
        while todo:
            cur = todo.pop()
            out.append(cur)
            todo.extend(self.children(cur))
        return out

    def named(self, prefix: str) -> list[Span]:
        return [s for s in self.spans if s.name.startswith(prefix)]


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, cur = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            total += b - a
            cur = b
    return total


def self_time(tracer: Tracer, s: Span) -> float:
    """A span's duration minus the part its child spans cover."""
    return s.wall - covered([(c.start, c.end) for c in tracer.children(s)],
                            s.start, s.end)


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------

@dataclass
class Job:
    id: int
    group: str | None
    submit: float
    stages: list[int]


@dataclass
class Task:
    stage: int
    run_s: float
    cpu_s: float
    gc_s: float
    shuffle_write_b: int
    shuffle_write_rows: int
    spill_b: int
    python_s: float
    failed: bool


class EventLog:
    """Jobs and task metrics read from an uncompressed Spark event log
    directory (``spark.eventLog.compress=false``)."""

    def __init__(self, log_dir: str):
        self.jobs: dict[int, Job] = {}
        self.tasks: list[Task] = []
        self.stage_job: dict[int, int] = {}
        for path in _event_files(log_dir):
            with open(path) as f:
                for line in f:
                    self._event(json.loads(line))

    def _event(self, e: dict) -> None:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            job = Job(e["Job ID"], props.get("spark.jobGroup.id"),
                      e["Submission Time"] / 1000, list(e["Stage IDs"]))
            self.jobs[job.id] = job
            for st in job.stages:
                self.stage_job.setdefault(st, job.id)
        elif kind == "SparkListenerTaskEnd":
            m = e.get("Task Metrics") or {}
            info = e["Task Info"]
            sw = m.get("Shuffle Write Metrics") or {}
            py_ms = sum(int(a.get("Update", 0)) for a in info.get("Accumulables", [])
                        if a.get("Name") == "time to run Python workers")
            self.tasks.append(Task(
                stage=e["Stage ID"],
                run_s=m.get("Executor Run Time", 0) / 1000,
                cpu_s=m.get("Executor CPU Time", 0) / 1e9,
                gc_s=m.get("JVM GC Time", 0) / 1000,
                shuffle_write_b=sw.get("Shuffle Bytes Written", 0),
                shuffle_write_rows=sw.get("Shuffle Records Written", 0),
                spill_b=m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                python_s=py_ms / 1000,
                failed=bool(info.get("Failed")),
            ))

    def jobs_in(self, tracer: Tracer, spans: list[Span],
                by_window: bool = False) -> list[Job]:
        """Jobs started under the job groups of ``spans`` and their
        subtrees, or, with ``by_window``, submitted inside their time
        windows."""
        if by_window:
            wins = [(s.start, s.end) for s in spans]
            return [j for j in self.jobs.values()
                    if any(a <= j.submit <= b for a, b in wins)]
        groups = {d.group for s in spans for d in tracer.subtree(s)}
        return [j for j in self.jobs.values() if j.group in groups]

    def tasks_of(self, jobs: list[Job]) -> list[Task]:
        ids = {j.id for j in jobs}
        return [t for t in self.tasks if self.stage_job.get(t.stage) in ids]


def _event_files(log_dir: str) -> list[str]:
    out = []
    for root, _dirs, files in os.walk(log_dir):
        out += [os.path.join(root, f) for f in files if f.startswith(("events_", "local-"))]
    return sorted(out)


def task_sums(tasks: list[Task]) -> dict[str, float]:
    return {
        "tasks": len(tasks),
        "run_s": sum(t.run_s for t in tasks),
        "cpu_s": sum(t.cpu_s for t in tasks),
        "gc_s": sum(t.gc_s for t in tasks),
        "shuffle_mb": sum(t.shuffle_write_b for t in tasks) / 2**20,
        "shuffle_rows": sum(t.shuffle_write_rows for t in tasks),
        "spill_mb": sum(t.spill_b for t in tasks) / 2**20,
        "python_s": sum(t.python_s for t in tasks),
        "failed": sum(t.failed for t in tasks),
    }


def task_skew(tasks: list[Task]) -> float:
    """Max over multi-task stages of max ÷ median task run time."""
    by_stage: dict[int, list[float]] = {}
    for t in tasks:
        by_stage.setdefault(t.stage, []).append(t.run_s)
    worst = 0.0
    for runs in by_stage.values():
        if len(runs) < 2:
            continue
        runs.sort()
        med = runs[len(runs) // 2]
        if med > 0:
            worst = max(worst, runs[-1] / med)
    return worst
