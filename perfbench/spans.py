"""Spans around the benchmark's calls into engine layers, and the Spark
jobs and stages that ran inside each span.

A :class:`Tracer` always records each span's wall time: the benchmark's
end-to-end numbers are read from untraced spans. With tracing on, each
span also tags the Spark jobs it starts with its own job group, and
:class:`StatusStore` later reads those jobs and their stages back from
Spark's live status store. The store is filled by the status listener
whether or not the UI runs. Tracing never touches engine code: spans sit
only around the benchmark's own calls into public functions. The one
exception is ``TimedCheckpointManager`` in ``workloads.py``, which the
engine calls back through its public ``checkpoint=`` argument.
"""

from __future__ import annotations

import itertools
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError


@dataclass
class Span:
    sid: str
    name: str
    rep: int | None            # timed repetition the span belongs to
    parent: "Span | None"
    t0: float = 0.0            # epoch seconds, comparable to Spark's stage times
    t1: float = 0.0

    @property
    def wall(self) -> float:
        return self.t1 - self.t0


class Tracer:
    """Records spans; with ``enabled`` it also sets a job group per span."""

    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.rep: int | None = None
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count(1)

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        sp = Span(f"perfbench-{next(self._ids)}", name, self.rep, parent)
        self._stack.append(sp)
        if self.enabled:
            self.sc.setJobGroup(sp.sid, name)
        sp.t0 = time.time()
        try:
            yield sp
        finally:
            sp.t1 = time.time()
            self._stack.pop()
            if self.enabled:
                if parent is not None:
                    self.sc.setJobGroup(parent.sid, parent.name)
                else:
                    self.sc._jsc.clearJobGroup()
            self.spans.append(sp)

    def walls(self, rep: int) -> dict[str, float]:
        """Seconds per span name in one repetition (same names summed)."""
        out: dict[str, float] = {}
        for sp in self.spans:
            if sp.rep == rep:
                out[sp.name] = out.get(sp.name, 0.0) + sp.wall
        return out

    def count(self, rep: int, name: str) -> int:
        return sum(1 for sp in self.spans if sp.rep == rep and sp.name == name)


@dataclass
class StageRecord:
    ran: bool                  # False for skipped stages
    failed: bool
    num_tasks: int
    t0: float | None           # epoch seconds
    t1: float | None
    task_ms: float
    cpu_ms: float
    shuffle_bytes: float       # shuffle bytes written
    spill_bytes: float         # bytes spilled to disk
    task_skew: float | None    # max / median task run time


@dataclass
class JobRecord:
    job_id: int
    group: str | None
    failed_tasks: int
    stages: list[StageRecord] = field(default_factory=list)


class StatusStore:
    """Reads jobs and stages from the SparkContext's status store."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._jsc = sc._jsc
        self._store = sc._jsc.sc().statusStore()
        jvm, gw = sc._jvm, sc._gateway
        self._empty = jvm.java.util.Collections.emptyList()
        self._no_quantiles = gw.new_array(jvm.double, 0)
        self._quantiles = gw.new_array(jvm.double, 2)
        self._quantiles[0] = 0.5
        self._quantiles[1] = 1.0

    def drain(self) -> None:
        """Wait until every posted event has reached the store."""
        self._jsc.sc().listenerBus().waitUntilEmpty()

    def jobs(self) -> tuple[list[JobRecord], int]:
        """All retained jobs with their stages, and the count of stages
        a job names that the store no longer holds (evicted). A stage
        that several jobs name (a reused shuffle) is given to the first."""
        seq = self._store.jobsList(self._empty)
        listed = []
        for i in range(seq.size()):
            jd = seq.apply(i)
            group = jd.jobGroup()
            ids = jd.stageIds()
            listed.append((JobRecord(jd.jobId(),
                                     group.get() if group.isDefined() else None,
                                     jd.numFailedTasks()),
                           [ids.apply(k) for k in range(ids.size())]))
        listed.sort(key=lambda js: js[0].job_id)
        seen: set[int] = set()
        evicted = 0
        for rec, stage_ids in listed:
            for sid in stage_ids:
                if sid in seen:
                    continue
                seen.add(sid)
                attempts = self._stage(sid)
                if attempts is None:
                    evicted += 1
                else:
                    rec.stages.extend(attempts)
        return [rec for rec, _ in listed], evicted

    def _stage(self, stage_id: int) -> list[StageRecord] | None:
        try:
            seq = self._store.stageData(stage_id, False, self._empty, False,
                                        self._no_quantiles)
        except Py4JJavaError:
            return None
        out = []
        for i in range(seq.size()):
            sd = seq.apply(i)
            status = sd.status().toString()
            ran = status in ("COMPLETE", "FAILED")
            out.append(StageRecord(
                ran=ran,
                failed=status == "FAILED",
                num_tasks=sd.numTasks(),
                t0=_epoch(sd.submissionTime()),
                t1=_epoch(sd.completionTime()),
                task_ms=float(sd.executorRunTime()),
                cpu_ms=sd.executorCpuTime() / 1e6,
                shuffle_bytes=float(sd.shuffleWriteBytes()),
                spill_bytes=float(sd.diskBytesSpilled()),
                task_skew=(self._skew(stage_id, sd.attemptId())
                           if ran and sd.numTasks() > 1 else None),
            ))
        return out

    def _skew(self, stage_id: int, attempt: int) -> float | None:
        summary = self._store.taskSummary(stage_id, attempt, self._quantiles)
        if not summary.isDefined():
            return None
        run = summary.get().executorRunTime()
        return float(run.apply(1)) / max(float(run.apply(0)), 1.0)


def _epoch(opt_date) -> float | None:
    return opt_date.get().getTime() / 1000.0 if opt_date.isDefined() else None


def union_seconds(intervals: list[tuple[float, float]], lo: float,
                  hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


def layer_stats(tracer: Tracer, roots: list[Span],
                jobs_by_group: dict[str, list[JobRecord]],
                cores: int) -> dict[str, float]:
    """Spark work inside the ``roots`` spans and every span nested in
    them; wall and driver time are those of the roots."""
    root_ids = {id(sp) for sp in roots}

    def inside(sp: Span | None) -> bool:
        while sp is not None:
            if id(sp) in root_ids:
                return True
            sp = sp.parent
        return False

    jobs = [j for sp in tracer.spans if inside(sp)
            for j in jobs_by_group.get(sp.sid, [])]
    stages = [s for j in jobs for s in j.stages if s.ran]
    intervals = [(s.t0, s.t1) for s in stages
                 if s.t0 is not None and s.t1 is not None]
    wall = sum(sp.wall for sp in roots)
    busy = sum(union_seconds(intervals, sp.t0, sp.t1) for sp in roots)
    task_ms = sum(s.task_ms for s in stages)
    skews = []
    for j in jobs:
        ran = [s for s in j.stages if s.ran]
        if ran:
            widest = max(ran, key=lambda s: s.num_tasks)
            if widest.task_skew is not None:
                skews.append(widest.task_skew)
    return {
        "ms": wall * 1000.0,
        "jobs": float(len(jobs)),
        "stages": float(len(stages)),
        "tasks": float(sum(s.num_tasks for s in stages)),
        "stage_ms": busy * 1000.0,
        "driver_ms": (wall - busy) * 1000.0,
        "task_ms": task_ms,
        "cpu_ms": sum(s.cpu_ms for s in stages),
        "shuffle_bytes": sum(s.shuffle_bytes for s in stages),
        "spill_bytes": sum(s.spill_bytes for s in stages),
        "task_skew": statistics.median(skews) if skews else 1.0,
        "core_util": task_ms / (wall * 1000.0 * cores) if wall > 0 else 0.0,
    }
