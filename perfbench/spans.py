"""Spans around the package's public functions, and Spark's event log.

A ``Tracer`` wraps functions where the package binds them (for example
``plans.pipeline.write_snapshot``), so ``run_pipeline`` keeps its real
thread-pool concurrency and no package source changes. Each wrapper
records a span (name, start, end, parent, thread) and tags the Spark
jobs it starts with the span id, through a local property and the job
description. ``parse_event_log`` reads the ``SparkListenerTaskEnd``
records of the event log and sums task metrics per span id.

Spans stay in memory until the run ends. A span's self time is its
duration minus the part of it that its children cover.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import threading
import time
from dataclasses import dataclass

SPAN_PROPERTY = "perfbench.span"


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    thread: int
    start: float
    end: float = 0.0

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered(start: float, end: float, intervals: list[tuple[float, float]]) -> float:
    """Length of ``[start, end]`` covered by the union of ``intervals``."""
    total, reach = 0.0, start
    for a, b in sorted((max(a, start), min(b, end)) for a, b in intervals):
        if b <= reach:
            continue
        total += b - max(a, reach)
        reach = b
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id → duration minus the union of its children's intervals.
    Children running at once on two threads are counted once."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return {s.id: s.duration - covered(s.start, s.end, children.get(s.id, [])) for s in spans}


class Tracer:
    """Records spans from any thread. The parent of a span is the
    innermost open span of its own thread; a thread with no open span
    (a ``run_pipeline`` pool worker) takes the open span that was
    opened with ``pool=True``."""

    def __init__(self, spark_context):
        self._sc = spark_context
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._restore: list[tuple[object, str, object]] = []
        self.spans: list[Span] = []
        self.counts: dict[str, float] = {}
        self.pool_parent: int | None = None

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def span(self, name: str, pool: bool = False):
        return _SpanContext(self, name, pool)

    def count(self, name: str, value: float) -> None:
        with self._lock:
            self.counts[name] = self.counts.get(name, 0) + value

    def wrap(self, module, attr: str, name: str, on_result=None) -> None:
        """Replace ``module.attr`` by a traced version until ``unwrap``.
        ``on_result(result, *args, **kwargs)`` runs after the call,
        outside the span, to record counts."""
        fn = getattr(module, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                result = fn(*args, **kwargs)
            if on_result:
                on_result(result, *args, **kwargs)
            return result

        self._restore.append((module, attr, fn))
        setattr(module, attr, traced)

    def unwrap(self) -> None:
        for module, attr, fn in reversed(self._restore):
            setattr(module, attr, fn)
        self._restore.clear()


def maybe_span(tracer: Tracer | None, name: str, pool: bool = False):
    """``tracer.span(...)``, or nothing when the pass runs untraced."""
    return tracer.span(name, pool) if tracer else contextlib.nullcontext()


class _SpanContext:
    def __init__(self, tracer: Tracer, name: str, pool: bool):
        self.t = tracer
        self.name = name
        self.pool = pool

    def __enter__(self) -> Span:
        t = self.t
        stack = t._stack()
        parent = stack[-1] if stack else t.pool_parent
        with t._lock:
            sid = next(t._ids)
        self.prev_desc = t._sc.getLocalProperty("spark.job.description")
        self.prev_span = t._sc.getLocalProperty(SPAN_PROPERTY)
        t._sc.setLocalProperty(SPAN_PROPERTY, str(sid))
        t._sc.setJobDescription(self.name)
        self.s = Span(sid, self.name, parent, threading.get_ident(), time.perf_counter())
        stack.append(sid)
        if self.pool:
            t.pool_parent = sid
        return self.s

    def __exit__(self, *exc) -> None:
        self.s.end = time.perf_counter()
        t = self.t
        t._stack().pop()
        if self.pool:
            t.pool_parent = None
        t._sc.setLocalProperty(SPAN_PROPERTY, self.prev_span)
        t._sc.setLocalProperty("spark.job.description", self.prev_desc)
        with t._lock:
            t.spans.append(self.s)


TASK_FIELDS = (
    "tasks", "failed_tasks", "task_run_s", "task_cpu_s", "gc_s", "input_mb",
    "output_mb", "output_rows", "shuffle_read_mb", "shuffle_write_mb", "spill_mb",
)


def parse_event_log(path: str) -> tuple[dict[str, dict[str, float]], dict[str, int]]:
    """Sum task metrics per span id from a JSON-lines Spark event log.

    Returns ``({span_id: {field: total}}, {span_id: jobs})``. Tasks are
    attributed through the submitting stage's ``perfbench.span``
    property; tasks of stages without it are filed under ``""``."""
    stage_span: dict[int, str] = {}
    jobs: dict[str, int] = {}
    stages: dict[str, int] = {}
    totals: dict[str, dict[str, float]] = {}
    mb = 1e6
    with open(path, encoding="utf-8") as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                sid = (ev.get("Properties") or {}).get(SPAN_PROPERTY, "")
                jobs[sid] = jobs.get(sid, 0) + 1
            elif kind == "SparkListenerStageSubmitted":
                sid = (ev.get("Properties") or {}).get(SPAN_PROPERTY, "")
                stage_span[ev["Stage Info"]["Stage ID"]] = sid
                stages[sid] = stages.get(sid, 0) + 1
            elif kind == "SparkListenerTaskEnd":
                sid = stage_span.get(ev["Stage ID"], "")
                m = ev.get("Task Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                t = totals.setdefault(sid, dict.fromkeys(TASK_FIELDS, 0.0))
                t["tasks"] += 1
                t["failed_tasks"] += ev["Task End Reason"]["Reason"] != "Success"
                t["task_run_s"] += m.get("Executor Run Time", 0) / 1e3
                t["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                t["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                t["input_mb"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0) / mb
                out = m.get("Output Metrics") or {}
                t["output_mb"] += out.get("Bytes Written", 0) / mb
                t["output_rows"] += out.get("Records Written", 0)
                t["shuffle_read_mb"] += (
                    sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                ) / mb
                t["shuffle_write_mb"] += (
                    (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0) / mb
                )
                t["spill_mb"] += (
                    m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                ) / mb
    for sid, n in stages.items():
        totals.setdefault(sid, dict.fromkeys(TASK_FIELDS, 0.0))["stages"] = n
    return totals, jobs
