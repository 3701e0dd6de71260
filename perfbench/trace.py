"""Spans and counters recorded around the benchmark's calls into the
program, plus Spark's own job and stage counters per span.

A span has a name, a start, an end, a parent and the run id. Counts are
attached to the span open when they are recorded. Spans stay in memory and
are written out once, by :meth:`Tracer.write`.

Spark work is attributed by job group: every span opened while a Spark
session is attached sets ``spark.jobGroup.id`` to its own id, so the jobs a
call submits can be looked up in the status store when the span closes.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

SPARK_KEYS = (
    "jobs",
    "stages",
    "tasks",
    "executor_run_ms",
    "executor_cpu_ms",
    "jvm_gc_ms",
    "shuffle_write_bytes",
    "spill_bytes",
    "job_wall_ms",
)


class _NullSpan:
    def count(self, name: str, value: float) -> None:
        pass


class NullTracer:
    """Tracing off: spans cost one generator frame and record nothing."""

    enabled = False
    _span = _NullSpan()

    @contextmanager
    def span(self, name: str):
        yield self._span


class _Span:
    __slots__ = ("id", "parent", "name", "start", "end", "counts", "spark")

    def __init__(self, sid: int, parent: int | None, name: str) -> None:
        self.id = sid
        self.parent = parent
        self.name = name
        self.start = self.end = 0.0
        self.counts: dict[str, float] = {}
        self.spark: dict[str, float] | None = None

    def count(self, name: str, value: float) -> None:
        self.counts[name] = self.counts.get(name, 0) + value

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


class Tracer:
    enabled = True

    def __init__(self, run_id: str) -> None:
        self.run_id = run_id
        self.spans: list[_Span] = []
        self._stack: list[_Span] = []
        self._spark = None

    def attach_spark(self, spark) -> None:
        self._spark = spark

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        sp = _Span(len(self.spans), parent.id if parent else None, name)
        self.spans.append(sp)
        self._stack.append(sp)
        sc = self._spark.sparkContext if self._spark is not None else None
        group = f"{self.run_id}/{sp.id}"
        if sc is not None:
            sc.setLocalProperty("spark.jobGroup.id", group)
        wall0 = time.time()
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            wall1 = time.time()
            self._stack.pop()
            if sc is not None:
                sp.spark = _spark_counters(sc, group, wall0, wall1)
                sc.setLocalProperty(
                    "spark.jobGroup.id",
                    f"{self.run_id}/{parent.id}" if parent else None,
                )

    # ------------------------------------------------------------------
    # aggregation
    # ------------------------------------------------------------------

    def named(self, name: str) -> list[_Span]:
        return [s for s in self.spans if s.name == name]

    def subtree_spark(self, root: _Span) -> dict[str, float]:
        """Spark counters of ``root`` and every span below it."""
        below = {root.id}
        out = dict.fromkeys(SPARK_KEYS, 0.0)
        for s in self.spans[root.id:]:
            if s.id != root.id and s.parent not in below:
                continue
            below.add(s.id)
            for k, v in (s.spark or {}).items():
                out[k] += v
        return out

    def self_ms(self) -> dict[int, float]:
        """Span time minus the time its child spans cover."""
        covered: dict[int, float] = {}
        for s in self.spans:
            if s.parent is not None:
                covered[s.parent] = covered.get(s.parent, 0.0) + s.ms
        return {s.id: s.ms - covered.get(s.id, 0.0) for s in self.spans}

    def write(self, path: str, extra: dict) -> None:
        selfs = self.self_ms()
        doc = {
            **extra,
            "run": self.run_id,
            "spans": [
                {
                    "run": self.run_id,
                    "id": s.id,
                    "parent": s.parent,
                    "name": s.name,
                    "start": s.start,
                    "end": s.end,
                    "ms": s.ms,
                    "self_ms": selfs[s.id],
                    "counts": s.counts,
                    "spark": s.spark,
                }
                for s in self.spans
            ],
        }
        with open(path, "w") as fh:
            json.dump(doc, fh)


def _spark_counters(sc, group: str, wall0: float, wall1: float) -> dict[str, float]:
    """Job and stage counters of the jobs run under ``group``, read from
    the status store after the listener bus has drained. ``job_wall_ms`` is
    the part of the span's wall interval that some job of the group
    covers."""
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    out = dict.fromkeys(SPARK_KEYS, 0.0)
    intervals = []
    seen_stages: set[int] = set()
    for job_id in sc.statusTracker().getJobIdsForGroup(group):
        job = store.job(job_id)
        out["jobs"] += 1
        sub, done = job.submissionTime(), job.completionTime()
        if sub.isDefined() and done.isDefined():
            intervals.append(
                (sub.get().getTime() / 1000.0, done.get().getTime() / 1000.0)
            )
        it = job.stageIds().iterator()
        while it.hasNext():
            sid = it.next()
            if sid in seen_stages:
                continue
            seen_stages.add(sid)
            stage = store.lastStageAttempt(sid)
            if str(stage.status()) != "COMPLETE":
                continue
            out["stages"] += 1
            out["tasks"] += stage.numCompleteTasks()
            out["executor_run_ms"] += stage.executorRunTime()
            out["executor_cpu_ms"] += stage.executorCpuTime() / 1e6
            out["jvm_gc_ms"] += stage.jvmGcTime()
            out["shuffle_write_bytes"] += stage.shuffleWriteBytes()
            out["spill_bytes"] += stage.memoryBytesSpilled() + stage.diskBytesSpilled()
    covered, end = 0.0, wall0
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, wall1)
        if b > a:
            covered += b - a
            end = b
    out["job_wall_ms"] = covered * 1000.0
    return out
