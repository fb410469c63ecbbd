"""Traced-mode instruments, all outside the engine.

- ``SparkCounters`` reads Spark's own status stores over py4j:
  ``sc.statusStore()`` for jobs and stages, and the SQL status store for
  executions and their plan-node metrics. Both are populated with the UI
  off. A ``delta`` covers the jobs and executions that started after the
  previous ``mark``.
- ``timed_calls`` wraps public methods for the length of one call and sums
  the wall time spent inside them.
"""

from __future__ import annotations

import contextlib
import re
import time

_SIZE = re.compile(r"([\d,.]+)\s*(B|KiB|MiB|GiB|TiB)\b")
_UNIT = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"


def _size_bytes(text: str) -> float:
    """Total of a formatted SQL size metric: the value alone for one task,
    else the line after the 'total (min, med, max ...)' header."""
    last = text.strip().splitlines()[-1]
    m = _SIZE.search(last)
    return float(m.group(1).replace(",", "")) * _UNIT[m.group(2)] if m else 0.0


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


def _union_ms(intervals: list[tuple[int, int]]) -> int:
    total, end = 0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


class SparkCounters:
    def __init__(self, spark):
        self.jvm = spark._jvm
        self.store = spark.sparkContext._jsc.sc().statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self.last_job = -1
        self.last_exec = -1
        self.t0 = 0
        self.spent = 0.0  # wall seconds inside mark() and delta()

    def now_ms(self) -> int:
        return self.jvm.System.currentTimeMillis()

    def mark(self) -> None:
        t = time.perf_counter()
        jobs = _seq(self.store.jobsList(None))
        self.last_job = max([j.jobId() for j in jobs], default=self.last_job)
        execs = _seq(self.sql.executionsList())
        self.last_exec = max([e.executionId() for e in execs], default=self.last_exec)
        self.t0 = self.now_ms()
        self.spent += time.perf_counter() - t

    def delta(self) -> dict:
        """Counters for everything since ``mark``; wall and busy time in the
        JVM's clock."""
        t = time.perf_counter()
        t1 = self.now_ms()
        jobs = [j for j in _seq(self.store.jobsList(None)) if j.jobId() > self.last_job]
        busy = []
        stage_ids = set()
        for j in jobs:
            sub, done = j.submissionTime(), j.completionTime()
            if sub.isDefined():
                end = done.get().getTime() if done.isDefined() else t1
                busy.append((sub.get().getTime(), end))
            stage_ids.update(_seq(j.stageIds()))
        out = {"jobs": len(jobs), "tasks": 0, "task_cpu_s": 0.0, "gc_s": 0.0,
               "shuffle_bytes": 0, "spill_bytes": 0}
        for sid in stage_ids:
            try:
                s = self.store.lastStageAttempt(sid)
            except Exception:  # a stage skipped before it was ever attempted
                continue
            out["tasks"] += s.numCompleteTasks()
            out["task_cpu_s"] += s.executorCpuTime() / 1e9
            out["gc_s"] += s.jvmGcTime() / 1e3
            out["shuffle_bytes"] += s.shuffleWriteBytes()
            out["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
        execs = [e for e in _seq(self.sql.executionsList()) if e.executionId() > self.last_exec]
        sent = returned = 0.0
        map_in_arrow = 0
        for e in execs:
            if "MapInArrow" in e.physicalPlanDescription():
                map_in_arrow += 1
            values = self.sql.executionMetrics(e.executionId())
            for node in _seq(self.sql.planGraph(e.executionId()).allNodes()):
                for m in _seq(node.metrics()):
                    if m.name() not in (PY_SENT, PY_RETURNED):
                        continue
                    v = values.get(m.accumulatorId())
                    if v.isDefined():
                        b = _size_bytes(v.get())
                        if m.name() == PY_SENT:
                            sent += b
                        else:
                            returned += b
        out.update(
            sql_executions=len(execs),
            map_in_arrow_executions=map_in_arrow,
            python_sent_bytes=sent,
            python_returned_bytes=returned,
            wall_s=(t1 - self.t0) / 1e3,
            driver_s=(t1 - self.t0 - _union_ms(busy)) / 1e3,
        )
        self.spent += time.perf_counter() - t
        return out


@contextlib.contextmanager
def timed_calls(targets: list[tuple[object, str]], totals: dict, key: str):
    """Patch each ``(owner, attribute)`` method so the wall time spent in
    it accumulates into ``totals[key]``. Nested calls count once."""
    saved = [(owner, name, getattr(owner, name)) for owner, name in targets]
    depth = [0]

    def wrap(fn):
        def inner(*a, **kw):
            if depth[0]:
                return fn(*a, **kw)
            depth[0] += 1
            t = time.perf_counter()
            try:
                return fn(*a, **kw)
            finally:
                totals[key] = totals.get(key, 0.0) + time.perf_counter() - t
                depth[0] -= 1
        return inner

    for owner, name, fn in saved:
        setattr(owner, name, wrap(fn))
    try:
        yield totals
    finally:
        for owner, name, fn in saved:
            setattr(owner, name, fn)
