"""Spans and counters recorded around the benchmark's calls into the engine.

A ``Tracer`` records nothing unless it was created enabled: every method
is a no-op on a disabled tracer, so an untraced run measures the engine
alone. Spans stay in memory and are written out once, when the run ends.

Spark work per call is counted through one job group per traced span:
the status tracker names the group's jobs and stages, and the status
store adds each stage's completed tasks and shuffle bytes written. The
counting runs after the span ends, inside a ``trace.counters`` span of
its own, so it is charged to the tracer and not to the traced call.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float
    parent: int | None
    batch: int | None


def self_times(spans: list[Span]) -> dict[str, float]:
    """Total self time per span name, in seconds: each span's duration
    minus the part of its interval that its child spans cover."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out: dict[str, float] = {}
    for s in spans:
        covered = 0.0
        cur_lo = cur_hi = None
        for c in sorted(children.get(s.sid, ()), key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - covered
    return out


class Tracer:
    def __init__(self, enabled: bool):
        self.requested = self.enabled = enabled
        self.spans: list[Span] = []
        self.counts: dict[str, float] = {}
        self._stack: list[int] = []
        self._next_sid = 0
        self._spark = None

    def bind(self, spark) -> None:
        """Count Spark work in ``spark`` from now on (a new session after
        a restart needs a new binding)."""
        self._spark = spark

    @contextmanager
    def only_if(self, on: bool):
        """Record inside the block only if tracing was requested and ``on``."""
        prev, self.enabled = self.enabled, self.requested and on
        try:
            yield
        finally:
            self.enabled = prev

    def calls(self, name: str) -> int:
        return sum(1 for s in self.spans if s.name == name)

    @contextmanager
    def span(self, name: str, batch: int | None = None, jobs: str | None = None):
        """Time the block as span ``name``. With ``jobs``, the block's
        Spark jobs run in their own job group and their work is added to
        the counters ``<jobs>_spark_jobs``, ``<jobs>_spark_tasks`` and
        ``<jobs>_shuffle_bytes``."""
        if not self.enabled:
            yield
            return
        sid, self._next_sid = self._next_sid, self._next_sid + 1
        parent = self._stack[-1] if self._stack else None
        group = f"perfbench-{sid}" if jobs and self._spark is not None else None
        if group:
            sc = self._spark.sparkContext
            outer = (sc.getLocalProperty("spark.jobGroup.id"),
                     sc.getLocalProperty("spark.job.description"))
            sc.setJobGroup(group, name)
        self._stack.append(sid)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            self._stack.pop()
            self.spans.append(Span(sid, name, start, end, parent, batch))
            if group:
                sc.setLocalProperty("spark.jobGroup.id", outer[0])
                sc.setLocalProperty("spark.job.description", outer[1])
                with self.span("trace.counters"):
                    work = spark_work(self._spark, group)
                for k, v in work.items():
                    self.add(f"{jobs}_{k}", v)

    def add(self, name: str, value: float) -> None:
        if self.enabled:
            self.counts[name] = self.counts.get(name, 0) + value

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": [asdict(s) for s in self.spans],
                       "counts": self.counts}, f)


def spark_work(spark, group: str) -> dict[str, int]:
    """Jobs, completed tasks and shuffle bytes written by the jobs of
    one job group."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    out = {"spark_jobs": 0, "spark_tasks": 0, "shuffle_bytes": 0}
    stages: set[int] = set()
    for job in tracker.getJobIdsForGroup(group):
        out["spark_jobs"] += 1
        info = tracker.getJobInfo(job)
        if info is not None:
            stages.update(info.stageIds)
    for sid in stages:
        st = tracker.getStageInfo(sid)
        if st is None:
            continue
        data = store.stageAttempt(sid, st.currentAttemptId, False, None, False, None)._1()
        out["spark_tasks"] += data.numCompleteTasks()
        out["shuffle_bytes"] += data.shuffleWriteBytes()
    return out


def plan_metric(df, node: str, metric: str) -> int:
    """Sum of SQL metric ``metric`` over the executed plan nodes of class
    ``node`` of a DataFrame that has already run (nothing is executed)."""
    total = 0
    seen: set[int] = set()
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        n = stack.pop()
        if n.id() in seen:
            continue
        seen.add(n.id())
        name = n.getClass().getSimpleName()
        if name == node:
            it = n.metrics().iterator()
            while it.hasNext():
                kv = it.next()
                if kv._1() == metric:
                    total += kv._2().value()
        ch = n.children()
        stack.extend(ch.apply(i) for i in range(ch.size()))
        if name == "AdaptiveSparkPlanExec":
            stack.append(n.executedPlan())
        elif name.endswith("QueryStageExec"):
            stack.append(n.plan())
    return total
