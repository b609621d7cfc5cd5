"""Spans around the benchmark's calls into the engine, and what Spark's
own status store says each span did.

A span sets the Spark job group to its id, so every job, stage and SQL
execution the call launches can be found again.  Right after a span ends
(before ``spark.ui.retained*`` can evict anything) the tracer reads:

* jobs of the group: submission/completion times, for ``driver_ms``;
* each job's stages (``statusStore().lastStageAttempt``): run, CPU and GC
  time, shuffle and spill bytes, task counts, and the cluster names of the
  stage's RDD operation graph, which say what the stage executed;
* SQL executions started in the span: the plan graph and its metric
  values (``sharedState().statusStore()``).

Stages are attributed to one layer, first match wins:

* ``sources.raster``: the graph holds ``MapInPandas`` (the decode);
* ``operators.threshold``: the graph holds ``ObjectHashAggregate`` and no
  ``InMemoryTableScan`` (the ensemble percentile aggregate, not a reader of
  its cached result);
* ``sources.parquet``: the graph holds ``WriteFiles``;
* anything else stays with the span that launched it.

``Tracer()`` with no session, or one whose ``active`` flag is off, records
nothing: that is the untraced path the end-to-end numbers come from.
"""

from __future__ import annotations

import contextlib
import json
import re
import time
from collections import defaultdict
from dataclasses import asdict, dataclass, field

from py4j.protocol import Py4JJavaError

_SIZE = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_TIME = {"ns": 1e-6, "ms": 1.0, "s": 1e3, "m": 6e4, "h": 3.6e6}
_NUM = re.compile(r"(-?\d[\d,]*(?:\.\d+)?)\s*([A-Za-z]+)?")


def parse_metric(text: str) -> float:
    """Total of one SQL metric as the status store renders it:
    '10,380', '1210.5 KiB', '3 ms', or 'total (min, med, max ...)\\n1.3 s
    (...)'.  Sizes come back in bytes, times in milliseconds."""
    if text.startswith("total"):
        text = text.split("\n", 1)[1]
    m = _NUM.search(text)
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit in _SIZE:
        return value * _SIZE[unit]
    if unit in _TIME:
        return value * _TIME[unit]
    return value


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


def _clusters(c) -> list[str]:
    out = [c.name()]
    for ch in _seq(c.childClusters()):
        out.extend(_clusters(ch))
    return out


def stage_layer(cluster_names) -> str | None:
    names = set(cluster_names)
    if "MapInPandas" in names:
        return "sources.raster"
    if "ObjectHashAggregate" in names and "InMemoryTableScan" not in names:
        return "operators.threshold"
    if "WriteFiles" in names:
        return "sources.parquet"
    return None


def _union_ms(intervals) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


@dataclass
class Stage:
    stage_id: int
    layer: str | None
    tasks: int
    failed_tasks: int
    wall_ms: float
    run_ms: float
    cpu_ms: float
    gc_ms: float
    shuffle_read_bytes: int
    shuffle_write_bytes: int
    spill_bytes: int
    task_max_over_median: float


@dataclass
class Span:
    name: str
    span_id: str
    parent: str | None
    op: int
    start: float
    end: float
    jobs: int = 0
    job_ms: float = 0.0
    stages: list = field(default_factory=list)
    sql: list = field(default_factory=list)     # [(node name, {metric: value})]
    catalyst_ms: float = 0.0

    @property
    def wall_ms(self) -> float:
        return (self.end - self.start) * 1e3


class Tracer:
    """Span recorder for one Spark session."""

    def __init__(self, spark=None):
        self.spark = spark
        self.active = False
        self.spans: list[Span] = []
        self.counts: dict[str, list[tuple[int, float]]] = defaultdict(list)
        self.op = 0
        self._stack: list[str] = []
        self._seen_exec = 0
        if spark is not None:
            self._sql = spark._jsparkSession.sharedState().statusStore()
            self._seen_exec = self._sql.executionsCount()

    def next_op(self) -> None:
        self.op += 1

    def count(self, name: str, value: float) -> None:
        if self.active:
            self.counts[name].append((self.op, float(value)))

    def queries(self, *dfs) -> None:
        """Catalyst phase times of DataFrames the last span executed."""
        if not self.active or not self.spans:
            return
        for df in dfs:
            phases = df._jdf.queryExecution().tracker().phases()
            it = phases.values().iterator()
            while it.hasNext():
                self.spans[-1].catalyst_ms += float(it.next().durationMs())

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.active:
            yield
            return
        sc = self.spark.sparkContext
        sid = f"span-{len(self.spans) + len(self._stack)}"
        parent = self._stack[-1] if self._stack else None
        self._stack.append(sid)
        sc.setJobGroup(sid, sid, False)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            self._stack.pop()
            if parent is None:
                sc._jsc.clearJobGroup()
            else:
                sc.setJobGroup(parent, parent, False)
            span = Span(name, sid, parent, self.op, start, end)
            self._collect(span)
            self.spans.append(span)

    def _collect(self, span: Span) -> None:
        sc = self.spark.sparkContext
        store = sc._jsc.sc().statusStore()
        intervals = []
        stage_ids = set()
        for jid in sc.statusTracker().getJobIdsForGroup(span.span_id):
            job = store.job(jid)
            span.jobs += 1
            if job.submissionTime().isDefined() \
                    and job.completionTime().isDefined():
                intervals.append((job.submissionTime().get().getTime(),
                                  job.completionTime().get().getTime()))
            stage_ids.update(_seq(job.stageIds()))
        span.job_ms = _union_ms(intervals)
        for stage_id in sorted(stage_ids):
            try:
                span.stages.append(self._stage(store, stage_id))
            except Py4JJavaError:
                pass  # a skipped stage that never ran has no attempt
        n = self._sql.executionsCount()
        new = self._sql.executionsList(self._seen_exec, n - self._seen_exec) \
            if n > self._seen_exec else None
        for e in _seq(new) if new is not None else []:
            values = self._sql.executionMetrics(e.executionId())
            for node in _seq(self._sql.planGraph(e.executionId()).allNodes()):
                metrics = {}
                for m in _seq(node.metrics()):
                    v = values.get(m.accumulatorId())
                    if v.isDefined():
                        metrics[m.name()] = parse_metric(v.get())
                span.sql.append((node.name().strip(), metrics))
        self._seen_exec = n

    @staticmethod
    def _stage(store, stage_id: int) -> Stage:
        s = store.lastStageAttempt(stage_id)
        layer = stage_layer(_clusters(
            store.operationGraphForStage(stage_id).rootCluster()))
        ratio = 0.0
        if layer == "sources.raster" and s.numCompleteTasks() > 0:
            tasks = _seq(store.taskList(stage_id, s.attemptId(),
                                        s.numTasks()))
            d = sorted(t.duration().get() for t in tasks
                       if t.duration().isDefined())
            if d and d[len(d) // 2] > 0:
                ratio = d[-1] / d[len(d) // 2]
        wall = 0.0
        if s.submissionTime().isDefined() and s.completionTime().isDefined():
            wall = float(s.completionTime().get().getTime()
                         - s.submissionTime().get().getTime())
        return Stage(
            stage_id=stage_id, layer=layer,
            tasks=s.numCompleteTasks(), failed_tasks=s.numFailedTasks(),
            wall_ms=wall,
            run_ms=float(s.executorRunTime()),
            cpu_ms=s.executorCpuTime() / 1e6, gc_ms=float(s.jvmGcTime()),
            shuffle_read_bytes=s.shuffleReadBytes(),
            shuffle_write_bytes=s.shuffleWriteBytes(),
            spill_bytes=s.memoryBytesSpilled() + s.diskBytesSpilled(),
            task_max_over_median=ratio)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": [asdict(s) for s in self.spans],
                       "counts": self.counts}, f)
