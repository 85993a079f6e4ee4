"""Span collector and Spark work attribution for the traced run.

Spans (name, start, end, parent, op id) are kept in memory and written as
one JSON file when the run ends. A span opened with ``spark=True`` also
records the interval of Spark job ids created while it was open; its job,
stage, task, CPU and shuffle counts are read from the status store
afterwards, outside the timed region. Attributing by job-id interval, not by
job group, also counts jobs that streaming queries run under their own
group and writes issued from extra Python threads.

``wrap`` swaps a module function for a timing wrapper for the life of the
tracer. The untraced run never builds a tracer, so it wraps nothing.
"""

from __future__ import annotations

import functools
import json
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op: int | None = None
    jobs: tuple[int, int] | None = None  # [first, end) Spark job ids
    counts: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.spans: list[Span] = []
        self.op: int | None = None
        self.own_s = 0.0  # the tracer's own time inside spans
        self._stack: list[int] = []
        self._restore: list[tuple[object, str, object]] = []
        self.last_result: dict[str, object] = {}

    @property
    def _sc(self):
        return self.spark.sparkContext._jsc.sc()

    def _next_job(self) -> int:
        return int(self._sc.dagScheduler().nextJobId())

    @contextmanager
    def span(self, name: str, spark: bool = False):
        t0 = time.perf_counter()
        s = Span(name, 0.0, parent=self._stack[-1] if self._stack else None, op=self.op)
        first = self._next_job() if spark else None
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        s.start = time.perf_counter()
        self.own_s += s.start - t0
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if spark:
                s.jobs = (first, self._next_job())
            self.own_s += time.perf_counter() - s.end

    def wrap(self, module, attr: str, name: str) -> None:
        """Time every call of ``module.attr`` as span ``name``; the last
        return value is kept in ``last_result[name]``."""
        fn = getattr(module, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                out = fn(*args, **kwargs)
            self.last_result[name] = out
            return out

        self._restore.append((module, attr, fn))
        setattr(module, attr, traced)

    def unwrap(self) -> None:
        while self._restore:
            module, attr, fn = self._restore.pop()
            setattr(module, attr, fn)

    def resolve(self) -> None:
        """Fill in Spark counts for every span with a job interval."""
        pending = [s for s in self.spans if s.jobs and not s.counts]
        if not pending:
            return
        self._sc.listenerBus().waitUntilEmpty(10_000)
        for s in pending:
            s.counts = self.spark_counts(*s.jobs)

    def spark_counts(self, first: int, end: int) -> dict:
        tracker = self.spark.sparkContext.statusTracker()
        store = self._sc.statusStore()
        stages: set[int] = set()
        jobs = 0
        for jid in range(first, end):
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            jobs += 1
            stages.update(int(sid) for sid in info.stageIds)
        out = {
            "jobs": jobs,
            "stages": 0,
            "tasks": 0,
            "executor_run_s": 0.0,
            "executor_cpu_s": 0.0,
            "shuffle_write_bytes": 0,
            "input_bytes": 0,
            "output_bytes": 0,
        }
        for sid in sorted(stages):
            try:
                sd = store.lastStageAttempt(sid)
            except Py4JJavaError:  # evicted from the store
                continue
            if sd.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += int(sd.numTasks())
            out["executor_run_s"] += sd.executorRunTime() / 1e3
            out["executor_cpu_s"] += sd.executorCpuTime() / 1e9
            out["shuffle_write_bytes"] += int(sd.shuffleWriteBytes())
            out["input_bytes"] += int(sd.inputBytes())
            out["output_bytes"] += int(sd.outputBytes())
        return out

    def cached_bytes(self) -> int:
        """In-memory plus on-disk size of every cached RDD block."""
        return sum(
            int(i.memSize()) + int(i.diskSize()) for i in self._sc.getRDDStorageInfo()
        )

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def write(self, path: str) -> None:
        self.resolve()
        t0 = min((s.start for s in self.spans), default=0.0)
        rows = [
            {
                "id": i,
                "name": s.name,
                "start": s.start - t0,
                "end": s.end - t0,
                "parent": s.parent,
                "op": s.op,
                **s.counts,
            }
            for i, s in enumerate(self.spans)
        ]
        with open(path, "w") as f:
            json.dump(rows, f)
