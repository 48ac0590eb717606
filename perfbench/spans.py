"""Span recorder and Spark status-store reader for the traced benchmark run.

A span wraps one call into an engine layer (plus the action that forces its
result). While a span is open, every Spark job the driver submits carries the
span's own job group, so the span's stages can be read back from the
application status store afterwards. That store is populated by the listener
bus, which also runs with ``spark.ui.enabled=false``.

Spans live in memory. Stage metrics are read once, by ``finish()``, after the
measured work is over, so the only work tracing adds inside a span is setting
the job group and reading the clock; ``overhead_s`` measures exactly that.

Derived per-span fields:

- ``wall_s``: end - start.
- ``self_s``: wall time not covered by direct child spans.
- ``driver_s``: wall time covered neither by a stage of the span's own job
  group nor by a child span (driver-side Python/JVM work and scheduling gaps).
- ``cpu_s``: executor CPU time of the span's own stages.
- ``pyworker_s``: executor run time minus executor CPU time. In a stage that
  runs a pandas/Arrow UDF the task thread waits while the Python worker
  computes, so this estimates Python worker plus Arrow transfer time.
- ``tasks``: tasks of the span's own stages.
- ``max_task_share``: longest task / duration of the span's longest stage
  (1.0 means one task held the stage alone: a straggler or a one-task stage).
- ``shuffle_bytes``: shuffle bytes written by the span's own stages.
- ``spill_bytes``: bytes spilled to disk by the span's own stages.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

_GROUP_KEY = "spark.jobGroup.id"
_DESC_KEY = "spark.job.description"


@dataclass
class Span:
    name: str
    parent: int | None
    group: str
    start: float
    end: float = 0.0
    counts: dict = field(default_factory=dict)


@dataclass
class StageStats:
    """One completed stage attempt as the status store holds it."""

    start: float
    end: float
    tasks: int
    run_s: float
    cpu_s: float
    gc_s: float
    shuffle_read_bytes: int
    shuffle_write_bytes: int
    spill_bytes: int
    peak_exec_mem_bytes: int
    max_task_s: float


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


class StatusStoreReader:
    """Reads job and stage metrics for a job group from the driver's
    ``AppStatusStore`` (``sc._jsc.sc().statusStore()``)."""

    def __init__(self, sc):
        self.sc = sc
        self.tracker = sc.statusTracker()
        self.store = sc._jsc.sc().statusStore()

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        store holds the final metrics of every finished stage."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def jobs(self, group: str) -> dict[int, list[int]]:
        """Job id -> stage ids of every job submitted under ``group``."""
        out = {}
        for job_id in self.tracker.getJobIdsForGroup(group):
            info = self.tracker.getJobInfo(job_id)
            if info is not None:
                out[int(job_id)] = [int(s) for s in info.stageIds]
        return out

    def stage(self, stage_id: int) -> StageStats | None:
        """Metrics of the stage's last attempt; None for a stage that never
        ran (skipped because its shuffle output was reused)."""
        try:
            sd = self.store.lastStageAttempt(stage_id)
        except Py4JJavaError:  # an id the store no longer holds
            return None
        if not sd.submissionTime().isDefined() or not sd.completionTime().isDefined():
            return None
        tasks = self.store.taskList(stage_id, sd.attemptId(), 1 << 30)
        longest = 0
        for i in range(tasks.size()):
            d = tasks.apply(i).duration()
            if d.isDefined():
                longest = max(longest, int(d.get()))
        return StageStats(
            start=sd.submissionTime().get().getTime() / 1e3,
            end=sd.completionTime().get().getTime() / 1e3,
            tasks=int(sd.numTasks()),
            run_s=sd.executorRunTime() / 1e3,
            cpu_s=sd.executorCpuTime() / 1e9,
            gc_s=sd.jvmGcTime() / 1e3,
            shuffle_read_bytes=int(sd.shuffleReadBytes()),
            shuffle_write_bytes=int(sd.shuffleWriteBytes()),
            spill_bytes=int(sd.diskBytesSpilled()),
            peak_exec_mem_bytes=int(sd.peakExecutionMemory()),
            max_task_s=longest / 1e3,
        )


class SpanRecorder:
    """Records nested spans; with ``enabled=False`` every call is a no-op
    apart from yielding the counts dict, so untraced runs pay nothing."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        #: time spent in the recorder's own bookkeeping while spans are open
        self.overhead_s = 0.0

    def _set_group(self, group: str | None, desc: str | None) -> None:
        self.sc.setLocalProperty(_GROUP_KEY, group)
        self.sc.setLocalProperty(_DESC_KEY, desc)

    @contextmanager
    def span(self, name: str):
        """Open a span named ``name``; the yielded dict takes counts
        (bytes written, rows, ...) that the caller measures inside it."""
        if not self.enabled:
            yield {}
            return
        t0 = time.perf_counter()
        idx = len(self.spans)
        sp = Span(
            name=name,
            parent=self._stack[-1] if self._stack else None,
            group=f"perfbench-{idx}",
            start=0.0,
        )
        self.spans.append(sp)
        self._stack.append(idx)
        self._set_group(sp.group, name)
        sp.start = time.time()
        self.overhead_s += time.perf_counter() - t0
        try:
            yield sp.counts
        finally:
            sp.end = time.time()
            t1 = time.perf_counter()
            self._stack.pop()
            if self._stack:
                parent = self.spans[self._stack[-1]]
                self._set_group(parent.group, parent.name)
            else:
                self._set_group(None, None)
            self.overhead_s += time.perf_counter() - t1

    def finish(self) -> tuple[list[dict], dict]:
        """Read every span's stages from the status store. Returns one
        record per span and the Spark totals over all traced stages."""
        if not self.enabled:
            return [], {}
        reader = StatusStoreReader(self.sc)
        reader.drain()
        children: dict[int, list[Span]] = {}
        for sp in self.spans:
            if sp.parent is not None:
                children.setdefault(sp.parent, []).append(sp)
        span_jobs = [reader.jobs(sp.group) for sp in self.spans]
        # a stage listed by several jobs ran once, for the first of them;
        # later jobs list it as skipped (their shuffle input was reused)
        owner: dict[int, int] = {}
        for jobs in span_jobs:
            for job_id, sids in jobs.items():
                for sid in sids:
                    owner[sid] = min(owner.get(sid, job_id), job_id)
        stats = {sid: reader.stage(sid) for sid in sorted(owner)}
        records = []
        for idx, sp in enumerate(self.spans):
            stages = [
                stats[sid]
                for sid in sorted(owner)
                if owner[sid] in span_jobs[idx] and stats[sid] is not None
            ]
            kids = [(c.start, c.end) for c in children.get(idx, [])]
            wall = sp.end - sp.start
            busy = covered(kids + [(s.start, s.end) for s in stages], sp.start, sp.end)
            longest = max(stages, key=lambda s: s.end - s.start, default=None)
            run_s = sum(s.run_s for s in stages)
            cpu_s = sum(s.cpu_s for s in stages)
            records.append(
                {
                    "name": sp.name,
                    "parent": None if sp.parent is None else self.spans[sp.parent].name,
                    "start": sp.start,
                    "wall_s": wall,
                    "self_s": wall - covered(kids, sp.start, sp.end),
                    "driver_s": max(0.0, wall - busy),
                    "cpu_s": cpu_s,
                    "pyworker_s": max(0.0, run_s - cpu_s),
                    "tasks": sum(s.tasks for s in stages),
                    "max_task_share": (
                        min(1.0, longest.max_task_s / max(longest.end - longest.start, 1e-3))
                        if longest is not None
                        else 0.0
                    ),
                    "shuffle_bytes": sum(s.shuffle_write_bytes for s in stages),
                    "spill_bytes": sum(s.spill_bytes for s in stages),
                    "stages": len(stages),
                    **sp.counts,
                }
            )
        all_stages = [st for st in stats.values() if st is not None]
        n_jobs = sum(len(jobs) for jobs in span_jobs)
        totals = {
            "spark.jobs": n_jobs,
            "spark.stages": len(all_stages),
            "spark.tasks": sum(s.tasks for s in all_stages),
            "spark.executor_run_s": sum(s.run_s for s in all_stages),
            "spark.executor_cpu_s": sum(s.cpu_s for s in all_stages),
            "spark.shuffle_read_bytes": sum(s.shuffle_read_bytes for s in all_stages),
            "spark.shuffle_write_bytes": sum(s.shuffle_write_bytes for s in all_stages),
            "spark.spill_bytes": sum(s.spill_bytes for s in all_stages),
            "spark.peak_exec_mem_bytes": max((s.peak_exec_mem_bytes for s in all_stages), default=0),
            "spark.gc_s": sum(s.gc_s for s in all_stages),
        }
        return records, totals
