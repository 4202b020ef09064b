"""In-memory span tracing around calls into the engine's layers.

A span records name, start, end, parent span and a trace id shared by all
spans of one operation (a query, a build, an ingest batch). Spans are
kept in memory and written out when the run ends. Each span runs its
Spark work under its own job group, so after the run the engine-wide
counters (jobs, stages, tasks, shuffle, spill, GC, scheduling wait) are
read per span from the status tracker and status store, from outside the
program, the same way ``scripts/profile_query.py`` counts jobs.

With tracing disabled, ``span`` costs one branch and sets no job group.
"""

from __future__ import annotations

import itertools
import json
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    trace_id: str
    start: float
    end: float = 0.0
    counts: dict = field(default_factory=dict)

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]. Children
    may overlap each other (concurrent work under one parent); the union
    counts shared time once."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
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


def self_times(spans: list[Span]) -> dict[int, float]:
    """span id -> duration minus the time its children cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.id: s.duration - covered(kids.get(s.id, ()), s.start, s.end)
        for s in spans
    }


def check_nesting(spans: list[Span]) -> list[str]:
    """Violations of: self time <= duration, children inside parents."""
    by_id = {s.id: s for s in spans}
    selfs = self_times(spans)
    bad = []
    for s in spans:
        if selfs[s.id] > s.duration + 1e-9 or selfs[s.id] < -1e-9:
            bad.append(f"span {s.id} {s.name}: self {selfs[s.id]} vs duration {s.duration}")
        p = by_id.get(s.parent) if s.parent is not None else None
        if p is not None and (s.start < p.start - 1e-9 or s.end > p.end + 1e-9):
            bad.append(f"span {s.id} {s.name} lies outside parent {p.id} {p.name}")
    return bad


class Tracer:
    """Span recorder. One per run; pass it to the workload code."""

    def __init__(self, enabled: bool, spark=None):
        self.enabled = enabled
        self.spark = spark
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _set_group(self, span: Span | None) -> None:
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        if span is None:
            sc._jsc.sc().clearJobGroup()
        else:
            sc.setJobGroup(f"pb-span-{span.id}", span.name)

    @contextmanager
    def span(self, name: str, trace_id: str | None = None):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else None
        with self._lock:
            sid = next(self._ids)
        tid = trace_id or (parent.trace_id if parent else f"t{sid}")
        sp = Span(sid, name, parent.id if parent else None, tid, time.perf_counter())
        stack.append(sp)
        self._set_group(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            stack.pop()
            self._set_group(parent)
            with self._lock:
                self.spans.append(sp)

    def collect_spark_counts(self) -> None:
        """Attach per-span Spark counters (own job group only, so a
        parent's counts exclude its children's)."""
        if self.spark is None:
            return
        jsc = self.spark.sparkContext._jsc.sc()
        jsc.listenerBus().waitUntilEmpty(60_000)
        tracker = jsc.statusTracker()
        store = jsc.statusStore()
        for sp in self.spans:
            sp.counts.update(spark_counts(tracker, store, f"pb-span-{sp.id}"))

    def dump(self, path: str) -> None:
        selfs = self_times(self.spans)
        rows = []
        for s in sorted(self.spans, key=lambda s: s.start):
            d = asdict(s)
            d["self"] = selfs[s.id]
            d["duration"] = s.duration
            rows.append(d)
        with open(path, "w") as fh:
            json.dump(rows, fh)


def _opt_ms(opt):
    return opt.get().getTime() if opt.isDefined() else None


def spark_counts(tracker, store, group: str) -> dict:
    """Jobs, stages, tasks, shuffle bytes, spill, GC and scheduling wait
    of one job group, read from the status tracker and status store."""
    c = {"jobs": 0, "stages": 0, "tasks": 0, "shuffle_write_bytes": 0,
         "shuffle_read_bytes": 0, "spill_bytes": 0, "gc_ms": 0,
         "sched_wait_ms": 0, "input_bytes": 0, "input_records": 0,
         "shuffle_read_records": 0}
    for job_id in tracker.getJobIdsForGroup(group):
        try:
            job = store.job(job_id)
        except Exception:  # evicted from the store: count the job only
            c["jobs"] += 1
            continue
        c["jobs"] += 1
        submitted = _opt_ms(job.submissionTime())
        first_task = None
        ids = job.stageIds()
        for i in range(ids.length()):
            try:
                st = store.lastStageAttempt(ids.apply(i))
            except Exception:
                continue
            if st.status().toString() == "SKIPPED":
                continue
            c["stages"] += 1
            c["tasks"] += st.numCompleteTasks()
            c["shuffle_write_bytes"] += st.shuffleWriteBytes()
            c["shuffle_read_bytes"] += st.shuffleReadBytes()
            c["spill_bytes"] += st.diskBytesSpilled()
            c["gc_ms"] += st.jvmGcTime()
            c["input_bytes"] += st.inputBytes()
            c["input_records"] += st.inputRecords()
            c["shuffle_read_records"] += st.shuffleReadRecords()
            launched = _opt_ms(st.firstTaskLaunchedTime())
            if launched is not None and (first_task is None or launched < first_task):
                first_task = launched
        if submitted is not None and first_task is not None:
            c["sched_wait_ms"] += max(0, first_task - submitted)
    return c
