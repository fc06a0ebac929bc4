"""Spans recorded by the benchmark, and Spark's own event log read back.

The benchmark opens a span around each call it makes into a layer of
``bigdata_spark`` (and, in a traced run, around a few public entry
points that run inside the pipeline). Each span also labels the Spark
jobs it submits through ``setJobDescription``. Engine counts per span
come from the event log Spark writes when ``spark.eventLog.enabled`` is
on: jobs are attributed to a span by submission time, tasks by launch
time, so no code inside the program is instrumented.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start_ms: float
    end_ms: float = 0.0
    parent: int | None = None

    @property
    def seconds(self) -> float:
        return (self.end_ms - self.start_ms) / 1000.0


@dataclass
class Tracer:
    """Spans kept in memory and read when the run ends."""

    spark: object | None = None
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.time() * 1000.0, parent=parent))
        ix = len(self.spans) - 1
        self._stack.append(ix)
        self._describe(name)
        try:
            yield self.spans[ix]
        finally:
            self.spans[ix].end_ms = time.time() * 1000.0
            self._stack.pop()
            self._describe(self.spans[self._stack[-1]].name if self._stack else None)

    def _describe(self, name: str | None) -> None:
        if self.spark is not None:
            self.spark.sparkContext.setJobDescription(name)

    def named(self, name: str, within: Span | None = None) -> list[Span]:
        """Spans called ``name``, optionally only those inside ``within``."""
        return [
            s
            for s in self.spans
            if s.name == name
            and (within is None or (s.start_ms >= within.start_ms and s.end_ms <= within.end_ms))
        ]


@contextlib.contextmanager
def wrapped(tracer: Tracer, owner, attr: str, name: str):
    """Replace ``owner.attr`` by a version that runs inside span ``name``
    for the duration of the ``with`` block."""
    original = getattr(owner, attr)

    def traced(*args, **kwargs):
        with tracer.span(name):
            return original(*args, **kwargs)

    setattr(owner, attr, traced)
    try:
        yield
    finally:
        setattr(owner, attr, original)


@dataclass
class EventLog:
    jobs: list[dict]
    tasks: list[dict]

    @classmethod
    def read(cls, log_dir: str) -> "EventLog":
        """Parse every (uncompressed) application log under ``log_dir``."""
        jobs: dict[int, dict] = {}
        tasks: list[dict] = []
        for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
            with open(path) as f:
                for line in f:
                    ev = json.loads(line)
                    kind = ev.get("Event")
                    if kind == "SparkListenerJobStart":
                        jobs[ev["Job ID"]] = {"submit": ev["Submission Time"], "end": None}
                    elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
                    elif kind == "SparkListenerTaskEnd":
                        tasks.append(_task_row(ev))
        done = [j for j in jobs.values() if j.get("end") is not None]
        return cls(done, tasks)

    def stats(self, span: Span, cores: int) -> dict[str, float]:
        """Engine counts for the jobs and tasks that started inside ``span``."""
        lo, hi = span.start_ms, span.end_ms
        jobs = [j for j in self.jobs if lo <= j["submit"] <= hi]
        tasks = [t for t in self.tasks if lo <= t["launch"] <= hi]
        busy = _union_ms([(max(j["submit"], lo), min(j["end"], hi)) for j in jobs])
        wall = max(hi - lo, 1e-9)
        run_ms = sum(t["run_ms"] for t in tasks)
        return {
            "jobs": len(jobs),
            "tasks": len(tasks),
            "stages": len({t["stage"] for t in tasks}),
            "failed_tasks": sum(t["failed"] for t in tasks),
            "gc_s": sum(t["gc_ms"] for t in tasks) / 1000.0,
            "result_mb": sum(t["result_bytes"] for t in tasks) / 2**20,
            "shuffle_read_mb": sum(t["shuffle_read"] for t in tasks) / 2**20,
            "shuffle_write_mb": sum(t["shuffle_write"] for t in tasks) / 2**20,
            "input_mb": sum(t["input_bytes"] for t in tasks) / 2**20,
            "executor_cpu_s": sum(t["cpu_ns"] for t in tasks) / 1e9,
            "core_utilization": run_ms / (wall * cores),
            "driver_only_s": (wall - busy) / 1000.0,
        }


def _task_row(ev: dict) -> dict:
    info = ev.get("Task Info", {})
    m = ev.get("Task Metrics") or {}
    sr = m.get("Shuffle Read Metrics", {})
    return {
        "stage": ev.get("Stage ID"),
        "launch": info.get("Launch Time", 0),
        "failed": int(bool(info.get("Failed")) or ev.get("Task End Reason", {}).get("Reason") != "Success"),
        "run_ms": m.get("Executor Run Time", 0),
        "cpu_ns": m.get("Executor CPU Time", 0),
        "gc_ms": m.get("JVM GC Time", 0),
        "result_bytes": m.get("Result Size", 0),
        "shuffle_read": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
        "shuffle_write": m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0),
        "input_bytes": m.get("Input Metrics", {}).get("Bytes Read", 0),
    }


def _union_ms(intervals: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(i for i in intervals if i[1] > i[0]):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total
