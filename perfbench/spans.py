"""Spans and Spark counters, taken from outside the program.

A span records name, start, end, parent and step id. With tracing on, it
also records what Spark ran inside it, read from Spark's own status after
the span ends:

- jobs and stages from ``sc.statusTracker()``;
- tasks, executor run time, shuffle read and write and spill per stage
  from ``sc._jsc.sc().statusStore().lastStageAttempt(id)``;
- pinned bytes from ``getRDDStorageInfo()``.

Jobs fired from the program's own worker threads carry no job group, so a
span owns every job whose id falls between the highest id seen when it
opened and the highest when it closed: the benchmark is a closed loop with
one caller, and nothing else submits jobs. The calling thread's jobs run
in the job group "perfbench", described by the innermost open span's name.

With tracing off a span only reads the clock, so the end-to-end run pays
nothing for it. Spans stay in memory until ``write`` at the end of a run.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

from py4j.protocol import Py4JJavaError

GROUP = "perfbench"  # job group of the benchmark's calling thread


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    step: int | None = None
    counters: dict = field(default_factory=dict)

    @property
    def secs(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self._open: list[int] = []
        self._job_high = -1
        if enabled:
            self._job_high = self._max_job_id()

    @contextmanager
    def span(self, name: str, step: int | None = None):
        """Time a block; with tracing on, attribute Spark work to it."""
        rec = Span(name, time.perf_counter(), parent=self._open[-1] if self._open else None, step=step)
        if rec.parent is not None and step is None:
            rec.step = self.spans[rec.parent].step
        idx = len(self.spans)
        self.spans.append(rec)
        self._open.append(idx)
        sc = self.spark.sparkContext
        job_low = self._job_high
        if self.enabled:
            sc.setJobGroup(GROUP, name)
        try:
            yield rec
        finally:
            rec.end = time.perf_counter()
            if self.enabled:
                rec.counters = self._counters(job_low)
            self._open.pop()
            if self.enabled and self._open:
                sc.setJobGroup(GROUP, self.spans[self._open[-1]].name)

    def reset(self) -> None:
        """Forget all spans, and every job run so far (set-up work)."""
        self.spans.clear()
        if self.enabled:
            self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
            self._job_high = self._max_job_id()

    def _max_job_id(self) -> int:
        tracker = self.spark.sparkContext.statusTracker()
        ids = tracker.getJobIdsForGroup(None) + tracker.getJobIdsForGroup(GROUP)
        return max(ids, default=self._job_high)

    def _counters(self, job_low: int) -> dict:
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        high = self._job_high = max(self._job_high, self._max_job_id())
        store = jsc.statusStore()
        tracker = sc.statusTracker()
        out = {"jobs": 0, "stages": 0, "tasks": 0, "run_ms": 0, "shuffle_bytes": 0, "spill_bytes": 0}
        for job_id in range(job_low + 1, high + 1):
            info = tracker.getJobInfo(job_id)
            if info is None:
                continue
            out["jobs"] += 1
            for sid in info.stageIds:
                try:
                    st = store.lastStageAttempt(sid)
                except Py4JJavaError:  # skipped stage: planned, never attempted
                    continue
                out["stages"] += 1
                out["tasks"] += st.numTasks()
                out["run_ms"] += st.executorRunTime()
                out["shuffle_bytes"] += st.shuffleReadBytes() + st.shuffleWriteBytes()
                out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        return out

    def pinned_bytes(self) -> int:
        """Bytes Spark holds for persisted and checkpointed RDDs now."""
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return sum(r.memSize() + r.diskSize() for r in infos)

    # ---- reading spans back -------------------------------------------

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def total_secs(self, name: str) -> float:
        return sum(s.secs for s in self.named(name))

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([asdict(s) for s in self.spans], fh)
