"""Tracing for the job-level benchmark: spans recorded from outside the
package, and Spark's own event log parsed with the stdlib.

- ``Tracer.patch`` wraps a public function where the calling module binds
  it, so every call opens a span (name, start, end, parent). Spans live in
  memory until the run ends.
- ``Tracer.mark`` counts events (``DataFrame.count`` calls, which is one
  per fixpoint round) against the innermost open span.
- ``EventLog`` reads the uncompressed, non-rolling event log the traced
  session writes, and attributes each Spark job, stage, task metric and
  ``MapInPandas`` SQL metric to the innermost span open when the job (or
  SQL execution) was submitted.
"""

from __future__ import annotations

import functools
import json
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

# SQL metrics of the Python-UDF operators (Spark 4.1 names)
PY_RUN = "time to run Python workers"
PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"


@dataclass
class Span:
    id: int
    name: str
    start: float
    parent: int | None
    end: float | None = None
    marks: dict = field(default_factory=lambda: defaultdict(int))

    @property
    def dur(self) -> float:
        return (self.end or time.time()) - self.start


class Tracer:
    """In-memory span recorder plus the monkey-patches that feed it."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._undo: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1].id if self._stack else None
        s = Span(len(self.spans), name, time.time(), parent)
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()

    def mark(self, what: str) -> None:
        if self._stack:
            self._stack[-1].marks[what] += 1

    def patch(self, owner, attr: str, name: str | None = None) -> None:
        """Replace ``owner.attr`` by a wrapper that runs it inside a span."""
        orig = getattr(owner, attr)
        label = name or attr

        @functools.wraps(orig)
        def wrapper(*a, **k):
            with self.span(label):
                return orig(*a, **k)

        setattr(owner, attr, wrapper)
        self._undo.append((owner, attr, orig))

    def count_calls(self, owner, attr: str, what: str) -> None:
        """Count calls of ``owner.attr`` against the innermost span."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*a, **k):
            self.mark(what)
            return orig(*a, **k)

        setattr(owner, attr, wrapper)
        self._undo.append((owner, attr, orig))

    def unpatch(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)

    # -- span tree queries ---------------------------------------------------

    def children(self, s: Span) -> list[Span]:
        return [c for c in self.spans if c.parent == s.id]

    def subtree(self, s: Span) -> list[Span]:
        out, todo = [], [s]
        while todo:
            cur = todo.pop()
            out.append(cur)
            todo.extend(self.children(cur))
        return out

    def self_time(self, s: Span) -> float:
        """Span duration minus the part its child spans cover."""
        return s.dur - _covered([(c.start, c.end) for c in self.children(s)])

    def innermost(self, t: float):
        """The innermost span open at wall time ``t`` (or None)."""
        best = None
        for s in self.spans:
            if s.start <= t <= (s.end or float("inf")):
                if best is None or s.start >= best.start:
                    best = s
        return best


def _covered(iv: list[tuple[float, float]]) -> float:
    """Length of the union of intervals."""
    tot, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(iv):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                tot += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        tot += cur_e - cur_s
    return tot


@dataclass
class SparkJob:
    id: int
    submit: float  # seconds, wall clock
    end: float
    stages: list[int]
    span: int | None = None
    # summed over the job's tasks
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write: int = 0
    spill: int = 0
    output_bytes: int = 0
    py_s: float = 0.0
    py_sent: int = 0
    py_recv: int = 0


class EventLog:
    """Jobs and SQL executions of one application's event log."""

    def __init__(self, path: str) -> None:
        self.jobs: dict[int, SparkJob] = {}
        self.executions: list[tuple[float, str]] = []  # (start, plan text)
        stage_job: dict[int, int] = {}
        metric_unit: dict[int, str] = {}  # accumulator id -> metric type
        tasks: list[dict] = []
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    j = SparkJob(ev["Job ID"], ev["Submission Time"] / 1e3,
                                 0.0, list(ev["Stage IDs"]))
                    self.jobs[j.id] = j
                    for sid in j.stages:
                        stage_job[sid] = j.id
                elif kind == "SparkListenerJobEnd":
                    self.jobs[ev["Job ID"]].end = ev["Completion Time"] / 1e3
                elif kind == "SparkListenerTaskEnd":
                    tasks.append(ev)
                elif kind.endswith("SQLExecutionStart"):
                    self.executions.append(
                        (ev["time"] / 1e3, ev.get("physicalPlanDescription", ""))
                    )
                    _metric_types(ev.get("sparkPlanInfo", {}), metric_unit)
                elif kind.endswith("SQLAdaptiveExecutionUpdate"):
                    _metric_types(ev.get("sparkPlanInfo", {}), metric_unit)
        for ev in tasks:
            jid = stage_job.get(ev["Stage ID"])
            if jid is None:
                continue
            j = self.jobs[jid]
            m = ev.get("Task Metrics") or {}
            j.tasks += 1
            j.run_s += m.get("Executor Run Time", 0) / 1e3
            j.cpu_s += m.get("Executor CPU Time", 0) / 1e9
            j.gc_s += m.get("JVM GC Time", 0) / 1e3
            j.shuffle_write += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0)
            j.spill += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0)
            j.output_bytes += (m.get("Output Metrics") or {}).get(
                "Bytes Written", 0)
            for acc in ev["Task Info"].get("Accumulables", []):
                name, upd = acc.get("Name"), acc.get("Update")
                if name not in (PY_RUN, PY_SENT, PY_RECV) or upd is None:
                    continue
                v = float(upd)
                if name == PY_RUN:
                    unit = metric_unit.get(acc.get("ID"), "timing")
                    j.py_s += v / (1e9 if unit == "nsTiming" else 1e3)
                elif name == PY_SENT:
                    j.py_sent += int(v)
                else:
                    j.py_recv += int(v)

    def attribute(self, tracer: Tracer) -> None:
        for j in self.jobs.values():
            s = tracer.innermost(j.submit)
            j.span = s.id if s is not None else None

    def jobs_in(self, spans: list[Span]) -> list[SparkJob]:
        ids = {s.id for s in spans}
        return [j for j in self.jobs.values() if j.span in ids]

    def plans_in(self, s: Span) -> list[str]:
        end = s.end or float("inf")
        return [p for t, p in self.executions if s.start <= t <= end]


def _metric_types(info: dict, out: dict) -> None:
    for m in info.get("metrics", []):
        out[m["accumulatorId"]] = m["metricType"]
    for c in info.get("children", []):
        _metric_types(c, out)


def job_time(jobs: list[SparkJob], window: tuple[float, float]) -> float:
    """Wall time inside ``window`` during which any of ``jobs`` ran."""
    lo, hi = window
    return _covered([(max(j.submit, lo), min(j.end, hi))
                     for j in jobs if min(j.end, hi) > max(j.submit, lo)])


def engine_totals(jobs: list[SparkJob], wall: float,
                  window: tuple[float, float]) -> dict:
    """The ``spark.*`` metrics of one benchmark job: sums over its Spark
    jobs, and ``driver_s`` — wall time not covered by any Spark job."""
    covered = job_time(jobs, window)
    return {
        "spark.jobs": len(jobs),
        "spark.tasks": sum(j.tasks for j in jobs),
        "spark.executor_run_s": sum(j.run_s for j in jobs),
        "spark.executor_cpu_s": sum(j.cpu_s for j in jobs),
        "spark.gc_s": sum(j.gc_s for j in jobs),
        "spark.shuffle_write_bytes": sum(j.shuffle_write for j in jobs),
        "spark.spill_bytes": sum(j.spill for j in jobs),
        "spark.python_worker_s": sum(j.py_s for j in jobs),
        "spark.arrow_bytes_to_python": sum(j.py_sent for j in jobs),
        "spark.arrow_bytes_from_python": sum(j.py_recv for j in jobs),
        "spark.driver_s": max(wall - covered, 0.0),
    }
