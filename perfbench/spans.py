"""Tracing and statistics for the benchmark.

Spans are recorded around calls into the package's layers, from the
benchmark's own code: nothing inside the package is changed. Each
span tags its Spark jobs with its own job group, so the stage metrics
that Spark's status store keeps (the UI is off; the store is not)
attach to the layer that caused them. Spans are kept in memory and
written once, when the run ends.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import math
import statistics
import time
from dataclasses import dataclass, field

from pyspark.sql.streaming import StreamingQueryListener

MB = 1024.0 * 1024.0


# ---------------------------------------------------------------------------
# statistics
# ---------------------------------------------------------------------------


def median(values: list[float]) -> float:
    return float(statistics.median(values))


TAIL_BEYOND = 10


def tail(values: list[float]) -> tuple[float, float, int] | None:
    """The highest percentile with at least ``TAIL_BEYOND`` samples above it.

    Returns ``(value, percentile, n)``: ``value`` is the k-th smallest
    sample with k = n - TAIL_BEYOND, so ``TAIL_BEYOND`` samples rank
    above it, and ``percentile`` is 100·k/n. ``None`` when there are not
    more than ``TAIL_BEYOND`` samples, so no such percentile exists.
    """
    n = len(values)
    k = n - TAIL_BEYOND
    if k < 1:
        return None
    return float(sorted(values)[k - 1]), 100.0 * k / n, n


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    group: str
    start: float
    end: float = 0.0
    counts: dict = field(default_factory=dict)
    metrics: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the part of its interval that its direct
    children cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return {s.id: s.wall - covered(kids.get(s.id, []), s.start, s.end) for s in spans}


class Tracer:
    """Records nested spans; each span sets its own Spark job group."""

    def __init__(self, sc, run_tag: str):
        self.sc = sc
        self.run_tag = run_tag
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count()

    @contextlib.contextmanager
    def span(self, name: str):
        sid = next(self._ids)
        parent = self._stack[-1].id if self._stack else None
        s = Span(sid, parent, name, f"{self.run_tag}:{sid}:{name}", time.time())
        self._stack.append(s)
        self.spans.append(s)
        self.sc.setJobGroup(s.group, name)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(self._stack[-1].group, self._stack[-1].name)
            else:
                clear_job_group(self.sc)


def clear_job_group(sc) -> None:
    sc.setLocalProperty("spark.jobGroup.id", None)
    sc.setLocalProperty("spark.job.description", None)


# ---------------------------------------------------------------------------
# Spark status store (read through py4j; works with spark.ui.enabled=false)
# ---------------------------------------------------------------------------


def _iter(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


@dataclass
class JobInfo:
    job_id: int
    group: str | None
    submitted: float
    completed: float
    stage_ids: list[int]


@dataclass
class StageInfo:
    stage_id: int
    tasks: int
    run_s: float
    cpu_s: float
    gc_s: float
    shuffle_write_mb: float
    spill_mb: float
    input_records: int
    task_skew: float


class StatusStore:
    """Jobs and stages from ``AppStatusStore``."""

    def __init__(self, sc):
        self.sc = sc
        self.store = sc._jsc.sc().statusStore()
        self._quantiles = sc._gateway.new_array(sc._jvm.double, 2)
        self._quantiles[0] = 0.5
        self._quantiles[1] = 1.0
        self._stage_cache: dict[int, StageInfo] = {}

    def jobs(self) -> list[JobInfo]:
        out = []
        for j in _iter(self.store.jobsList(None)):
            sub, done = _opt_ms(j.submissionTime()), _opt_ms(j.completionTime())
            if sub is None or done is None:
                continue
            g = j.jobGroup()
            out.append(
                JobInfo(
                    j.jobId(),
                    g.get() if g.isDefined() else None,
                    sub,
                    done,
                    [int(x) for x in _iter(j.stageIds())],
                )
            )
        return out

    def stages(self, stage_ids: set[int]) -> list[StageInfo]:
        want = stage_ids - set(self._stage_cache)
        if want:
            empty = self.sc._gateway.new_array(self.sc._jvm.double, 0)
            for st in _iter(self.store.stageList(None, False, False, empty, None)):
                sid = st.stageId()
                if sid not in want or str(st.status()) != "COMPLETE":
                    continue
                skew = float("nan")
                summary = self.store.taskSummary(sid, st.attemptId(), self._quantiles)
                if summary.isDefined():
                    q = summary.get().executorRunTime()
                    med, top = q.apply(0), q.apply(1)
                    skew = top / med if med > 0 else float("nan")
                self._stage_cache[sid] = StageInfo(
                    sid,
                    st.numTasks(),
                    st.executorRunTime() / 1000.0,
                    st.executorCpuTime() / 1e9,
                    st.jvmGcTime() / 1000.0,
                    st.shuffleWriteBytes() / MB,
                    (st.memoryBytesSpilled() + st.diskBytesSpilled()) / MB,
                    st.inputRecords(),
                    skew,
                )
        return [self._stage_cache[s] for s in stage_ids if s in self._stage_cache]

    def persisted_rdd_ids(self) -> set[int]:
        return {int(k) for k in self.sc._jsc.getPersistentRDDs().keySet()}


def scan_rows(spark, job_ids: set[int], fmt: str, path_part: str) -> int:
    """Rows output by ``Scan <fmt>`` plan nodes over a path containing
    ``path_part``, summed over the SQL executions that ran any of
    ``job_ids`` (from ``SQLAppStatusStore``: plan graph plus metric
    values)."""
    store = spark._jsparkSession.sharedState().statusStore()
    total = 0
    for e in _iter(store.executionsList()):
        if not {int(k) for k in _iter(e.jobs().keys())} & job_ids:
            continue
        values = store.executionMetrics(e.executionId())
        for node in _iter(store.planGraph(e.executionId()).allNodes()):
            if not node.name().startswith(f"Scan {fmt}") or path_part not in node.desc():
                continue
            for m in _iter(node.metrics()):
                if m.name() == "number of output rows":
                    v = values.get(m.accumulatorId())
                    if v.isDefined():
                        total += int(v.get().replace(",", ""))
    return total


def job_metrics(store: StatusStore, jobs: list[JobInfo], lo: float, hi: float) -> dict:
    """Stage metrics summed over ``jobs``; ``driver_s`` is the part of
    [lo, hi] that no job covers."""
    stage_ids = {s for j in jobs for s in j.stage_ids}
    stages = store.stages(stage_ids)
    skews = [s.task_skew for s in stages if s.tasks > 1 and not math.isnan(s.task_skew)]
    return {
        "jobs": len(jobs),
        "stages": len(stages),
        "tasks": sum(s.tasks for s in stages),
        "cpu_s": sum(s.cpu_s for s in stages),
        "gc_s": sum(s.gc_s for s in stages),
        "shuffle_write_mb": sum(s.shuffle_write_mb for s in stages),
        "spill_mb": sum(s.spill_mb for s in stages),
        "task_skew": max(skews) if skews else 1.0,
        "driver_s": (hi - lo) - covered([(j.submitted, j.completed) for j in jobs], lo, hi),
    }


def attach_job_metrics(store: StatusStore, spans: list[Span], jobs: list[JobInfo]) -> None:
    """Give every span its own jobs' stage metrics, plus wall and self
    time. ``jobs`` are the pass's jobs: a job tagged with a span's
    group is that span's; a job under another group (a streaming query
    runs its jobs under its own) goes to the innermost span running
    when it was submitted."""
    groups = {s.group: s for s in spans}
    by_span: dict[int, list[JobInfo]] = {}
    for j in jobs:
        owner = groups.get(j.group) or innermost(spans, j.submitted)
        if owner is not None:
            by_span.setdefault(owner.id, []).append(j)
    selfs = self_times(spans)
    for s in spans:
        s.metrics = job_metrics(store, by_span.get(s.id, []), s.start, s.end)
        s.metrics["wall_s"] = s.wall
        s.metrics["self_s"] = selfs[s.id]


def innermost(spans: list[Span], t: float) -> Span | None:
    """The latest-started span whose interval holds ``t``."""
    inside = [s for s in spans if s.start <= t <= s.end]
    return max(inside, key=lambda s: s.start) if inside else None


# ---------------------------------------------------------------------------
# streaming progress
# ---------------------------------------------------------------------------


class ProgressLog(StreamingQueryListener):
    """Every streaming micro-batch's progress: its phase durations (ms)
    and input rows."""

    def __init__(self):
        self.events: list[dict] = []

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        self.events.append({**dict(p.durationMs), "numInputRows": p.numInputRows})

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


def write_spans(path: str, spans: list[Span], extra: dict) -> None:
    rows = [
        {
            "id": s.id,
            "parent": s.parent,
            "name": s.name,
            "group": s.group,
            "start": s.start,
            "end": s.end,
            "counts": s.counts,
            "metrics": s.metrics,
        }
        for s in spans
    ]
    with open(path, "w") as f:
        json.dump({**extra, "spans": rows}, f, indent=1, default=str)
