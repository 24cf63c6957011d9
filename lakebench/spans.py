"""Outside-in tracing: one Spark job group per call into a layer.

A span wraps one call from the benchmark into the package. Its jobs are
found by job group after the call returns, and their stages are read from
Spark's status store (the same store the web UI reads, which is kept even
with the UI off). Nothing inside the package is instrumented.
"""

from __future__ import annotations

import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    layer: str
    wall_s: float = 0.0
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    executor_run_s: float = 0.0
    input_records: int = 0
    shuffle_write_bytes: int = 0
    max_stage_tasks: int = 0
    attrs: dict = field(default_factory=dict)


class Tracer:
    """Records spans when ``enabled``; otherwise ``span`` only times."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.sc = spark.sparkContext
        self.cores = self.sc.defaultParallelism
        self.spans: list[Span] = []
        self._n = 0

    @contextmanager
    def span(self, layer: str, **attrs):
        s = Span(layer, attrs=dict(attrs))
        group = outer = None
        if self.enabled:
            self._n += 1
            group = f"lakebench-{id(self):x}-{self._n}"  # unique across tracers
            outer = self.sc.getLocalProperty("spark.jobGroup.id")
            self.sc.setJobGroup(group, layer)
        t0 = time.perf_counter()
        try:
            yield s
        finally:
            s.wall_s = time.perf_counter() - t0
            if self.enabled:
                # a nested span hands the job group back to its parent
                self.sc.setLocalProperty("spark.jobGroup.id", outer)
                self._fill(s, group)
                self.spans.append(s)

    def _fill(self, s: Span, group: str) -> None:
        jsc = self.sc._jsc.sc()
        # the status store is fed by an asynchronous listener: drain its
        # queue first, so that every job and stage of the group is in it
        jsc.listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        store = jsc.statusStore()
        job_ids = tracker.getJobIdsForGroup(group)
        stage_ids = sorted({sid for j in job_ids for sid in tracker.getJobInfo(j).stageIds})
        s.jobs = len(job_ids)
        for sid in stage_ids:
            sd = store.lastStageAttempt(sid)
            if sd.status().toString() not in ("COMPLETE", "FAILED"):
                continue  # skipped: its shuffle output was reused
            s.stages += 1
            s.tasks += sd.numCompleteTasks()
            s.max_stage_tasks = max(s.max_stage_tasks, sd.numCompleteTasks())
            s.executor_run_s += sd.executorRunTime() / 1000.0
            s.input_records += sd.inputRecords()
            s.shuffle_write_bytes += sd.shuffleWriteBytes()

    def by_layer(self, layer: str) -> list[Span]:
        return [s for s in self.spans if s.layer == layer]

    def busy(self, work: list[Span], over: list[Span] | None = None) -> float:
        """Executor run time of the ``work`` spans over the cores' time
        during the ``over`` spans (by default the same spans)."""
        wall = sum(s.wall_s for s in (work if over is None else over))
        return sum(s.executor_run_s for s in work) / (wall * self.cores) if wall else 0.0


def median(values) -> float:
    return statistics.median(values) if values else 0.0

