"""Spans and Spark counters for the traced run.

Spans are recorded only here, in the benchmark, around its calls into the
project's modules: name, start, end, the span that caused it, and the
operation it belongs to. They stay in memory and are written out once at
the end. Spark counters come from the status store (jobs, stages, tasks,
bytes, spill, task-time skew) per job group, from a DataFrame's
``queryExecution().tracker()`` (Catalyst phase times), and from the JVM's
GC and memory-pool MXBeans.
"""

from __future__ import annotations

import contextlib
import json
import time
from dataclasses import asdict, dataclass


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None


def self_times(spans: list[Span]) -> dict[int, float]:
    """Self time of each span: its duration minus the part of its interval
    that its direct children cover (overlapping children count once)."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered = 0.0
        reach = s.start
        for c in sorted(children.get(s.sid, []), key=lambda c: c.start):
            lo, hi = max(c.start, reach), min(c.end, s.end)
            if hi > lo:
                covered += hi - lo
                reach = hi
        out[s.sid] = (s.end - s.start) - covered
    return out


class Tracer:
    """Collects spans when enabled; a no-op context otherwise, so the
    untraced run pays nothing but one attribute test per call."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._op: int | None = None

    @contextlib.contextmanager
    def span(self, name: str, op: int | None = None):
        if not self.enabled:
            yield
            return
        if op is not None:
            self._op = op
        parent = self._stack[-1] if self._stack else None
        sid = len(self.spans)
        span = Span(sid, name, time.perf_counter(), 0.0, parent, self._op)
        self.spans.append(span)
        self._stack.append(sid)
        try:
            yield
        finally:
            span.end = time.perf_counter()
            self._stack.pop()
            if not self._stack:
                self._op = None

    def layer_self_times(self) -> dict[str, list[float]]:
        """Self time of every span, grouped by span name."""
        st = self_times(self.spans)
        out: dict[str, list[float]] = {}
        for s in self.spans:
            out.setdefault(s.name, []).append(st[s.sid])
        return out

    def write(self, path: str) -> None:
        st = self_times(self.spans)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({**asdict(s), "self": st[s.sid]}) + "\n")


@dataclass
class GroupStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    input_bytes: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    executor_run_s: float = 0.0
    task_skew: float = 1.0


class SparkProbe:
    """Reads the counters of one SparkContext through py4j. Used only in
    the traced run: every call here is a py4j round trip."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jvm = spark._jvm
        self.store = self.sc._jsc.sc().statusStore()
        self._mx = self.jvm.java.lang.management.ManagementFactory

    def group(self, name: str) -> None:
        self.sc.setJobGroup(name, name)

    def _doubles(self, xs: list[float]):
        arr = self.sc._gateway.new_array(self.jvm.double, len(xs))
        for i, x in enumerate(xs):
            arr[i] = x
        return arr

    def group_jobs(self, name: str) -> int:
        return len(self.sc.statusTracker().getJobIdsForGroup(name))

    def group_stats(self, name: str) -> GroupStats:
        """Jobs of job group ``name`` and the stages they ran (skipped
        stages, whose shuffle output was reused, are not counted)."""
        g = GroupStats()
        job_ids = list(self.sc.statusTracker().getJobIdsForGroup(name))
        g.jobs = len(job_ids)
        stage_ids = set()
        for jid in job_ids:
            seq = self.store.job(jid).stageIds()
            stage_ids.update(seq.apply(i) for i in range(seq.size()))
        no_tasks = self.jvm.java.util.ArrayList()
        for sid in sorted(stage_ids):
            attempts = self.store.stageData(sid, False, no_tasks, False, self._doubles([]))
            for k in range(attempts.size()):
                d = attempts.apply(k)
                if d.status().toString() != "COMPLETE":
                    continue
                g.stages += 1
                g.tasks += d.numCompleteTasks()
                g.input_bytes += d.inputBytes()
                g.shuffle_read_bytes += d.shuffleReadBytes()
                g.shuffle_write_bytes += d.shuffleWriteBytes()
                g.spill_bytes += d.diskBytesSpilled()
                g.executor_run_s += d.executorRunTime() / 1000.0
                if d.numCompleteTasks() > 1:
                    summary = self.store.taskSummary(sid, d.attemptId(), self._doubles([0.5, 1.0]))
                    if summary.isDefined():
                        run = summary.get().executorRunTime()
                        if run.apply(0) > 0:
                            g.task_skew = max(g.task_skew, run.apply(1) / run.apply(0))
        return g

    @staticmethod
    def phases_ms(df) -> dict[str, float]:
        """Catalyst analysis / optimization / planning time of ``df``'s
        query execution; planning is forced here if it has not run."""
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        phases = qe.tracker().phases()
        out = {}
        for phase in ("analysis", "optimization", "planning"):
            p = phases.get(phase)
            out[phase] = float(p.get().durationMs()) if p.isDefined() else 0.0
        return out

    def gc_s(self) -> float:
        return sum(g.getCollectionTime() for g in self._mx.getGarbageCollectorMXBeans()) / 1000.0

    def heap_peak_mb(self) -> float:
        pools = self._mx.getMemoryPoolMXBeans()
        peak = sum(p.getPeakUsage().getUsed() for p in pools if p.getType().name() == "HEAP")
        return peak / 2**20
