"""Spans around calls into the engine, with Spark counters per span.

A :class:`Tracer` records one span per ``with tracer.span(label):``
block: its label, wall interval and parent. When enabled, each span also
runs its Spark jobs under a job group of its own, and
:meth:`Tracer.collect` reads that group's jobs and stages from Spark's
live status store (works with the UI disabled):

* ``statusTracker().getJobIdsForGroup(group)`` maps the span to its jobs;
* ``statusStore().job(id)`` gives each job's stages and run interval;
* ``statusStore().lastStageAttempt(sid)`` gives the stage's task metrics.

A disabled tracer still times spans (the benchmark's own latencies come
from them) but sets no job group and reads nothing, so untraced runs pay
only two clock reads per span.
"""

from __future__ import annotations

import itertools
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# status-store counter -> stage accessor; executorCpuTime is in ns
_STAGE_FIELDS = {
    "run_ms": lambda s: s.executorRunTime(),
    "cpu_ms": lambda s: s.executorCpuTime() / 1e6,
    "gc_ms": lambda s: s.jvmGcTime(),
    "shuffle_write_bytes": lambda s: s.shuffleWriteBytes(),
    "spill_bytes": lambda s: s.memoryBytesSpilled() + s.diskBytesSpilled(),
    "input_rows": lambda s: s.inputRecords(),
    "output_bytes": lambda s: s.outputBytes(),
    "tasks": lambda s: s.numTasks(),
}


@dataclass
class Span:
    label: str
    group: str
    parent: "Span | None"
    t0: float  # perf_counter
    e0: float  # epoch seconds, to compare with the status store's times
    t1: float = 0.0
    e1: float = 0.0
    own: dict | None = None  # counters of this span's own job group
    result_rows: int | None = None  # rows the traced call returned
    counters: dict = field(default_factory=dict)  # own + descendants

    @property
    def ms(self) -> float:
        return (self.t1 - self.t0) * 1000.0


class Tracer:
    def __init__(self, spark=None, enabled: bool = False, cores: int = 1):
        self.spark = spark
        self.enabled = enabled and spark is not None
        self.cores = max(1, cores)
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count()

    @contextmanager
    def span(self, label: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(
            label, f"perfbench-{next(self._ids)}", parent,
            time.perf_counter(), time.time(),
        )
        self._stack.append(s)
        if self.enabled:
            self.spark.sparkContext.setJobGroup(s.group, label)
        try:
            yield s
        finally:
            s.t1, s.e1 = time.perf_counter(), time.time()
            self._stack.pop()
            self.spans.append(s)
            if self.enabled:
                if parent is not None:
                    self.spark.sparkContext.setJobGroup(parent.group, parent.label)
                else:
                    self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)

    def collect(self) -> None:
        """Fill ``counters`` of every finished span not yet collected:
        its own jobs plus those of its descendants. Call outside timed
        regions; the status store keeps only the most recent jobs, so
        collect after each measured operation."""
        if not self.enabled:
            return
        sc = self.spark.sparkContext
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        store = sc._jsc.sc().statusStore()
        tracker = sc.statusTracker()
        todo = [s for s in self.spans if s.own is None]
        for s in todo:
            s.own = _group_counters(store, tracker, s.group)
        for s in todo:
            members = [s] + [d for d in self.spans if d.own and _descends(d, s)]
            s.counters = _rollup(s, members, self.cores)

    def by_label(self, label: str) -> list[Span]:
        return [s for s in self.spans if s.label == label]


def _descends(d: Span, s: Span) -> bool:
    p = d.parent
    while p is not None:
        if p is s:
            return True
        p = p.parent
    return False


def _group_counters(store, tracker, group: str) -> dict:
    out = {k: 0.0 for k in _STAGE_FIELDS}
    out["jobs"] = 0
    out["intervals"] = []
    for jid in tracker.getJobIdsForGroup(group):
        job = store.job(jid)
        out["jobs"] += 1
        sub, done = job.submissionTime(), job.completionTime()
        if sub.isDefined() and done.isDefined():
            out["intervals"].append(
                (sub.get().getTime() / 1e3, done.get().getTime() / 1e3)
            )
        sids = job.stageIds()  # a Scala Seq
        for i in range(sids.size()):
            try:
                st = store.lastStageAttempt(int(sids.apply(i)))
            except Exception as e:  # py4j error: a skipped stage has no attempt
                if "NoSuchElementException" not in str(e):
                    raise
                continue
            for k, get in _STAGE_FIELDS.items():
                out[k] += float(get(st))
    return out


def _rollup(span: Span, members: list[Span], cores: int) -> dict:
    tot = {k: 0.0 for k in ("jobs", *_STAGE_FIELDS)}
    intervals = []
    for m in members:
        for k in tot:
            tot[k] += m.own[k]
        intervals.extend(m.own["intervals"])
    wall_s = span.e1 - span.e0
    busy_s = union_length(intervals, span.e0, span.e1)
    tot["core_util"] = tot["run_ms"] / 1000.0 / (wall_s * cores) if wall_s > 0 else 0.0
    tot["driver_ms"] = max(0.0, wall_s - busy_s) * 1000.0
    return tot


def union_length(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_a, cur_b = 0.0, 0.0, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total
