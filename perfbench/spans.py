"""Spans around the benchmark's calls into the package, plus the
Spark-side numbers for each span read back from Spark's status store.

A span is opened in the benchmark's own code around one call into a
module's public function. When Spark stats are on, entering a span
sets a job group named after it and leaving restores the parent's, so
every Spark job lands in the innermost open span. The status store is
read only after the last pass (``Tracer.resolve``), outside every
timed region; each job then becomes a ``spark.job`` child span, so a span's
self time is its Python-side time.
"""

from __future__ import annotations

import re
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# Physical nodes that cross into a Python worker (pandas or Arrow UDFs).
_PYTHON_NODE_RE = re.compile(r"Python|Pandas|InArrow")
_SIZE_RE = re.compile(r"([0-9][0-9,]*(?:\.[0-9]+)?) (B|KiB|MiB|GiB|TiB)")
_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    t0: float
    t1: float = 0.0
    group: str | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.t1 - self.t0


class Tracer:
    """In-memory span recorder. ``enabled=False`` makes ``span`` a no-op,
    so the untraced run pays one generator step per call and nothing
    else."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._sc = None
        self._jspark = None

    def attach(self, spark) -> None:
        """Turn on job groups and status-store reads for ``spark``."""
        if self.enabled:
            self._sc = spark.sparkContext
            self._jspark = spark._jsparkSession

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, parent.id if parent else None, time.time(), attrs=attrs)
        self.spans.append(s)
        self._stack.append(s)
        if self._sc is not None:
            s.group = f"perfbench-{s.id}"
            self._sc.setJobGroup(s.group, name)
        try:
            yield s
        finally:
            s.t1 = time.time()
            self._stack.pop()
            if self._sc is not None:
                outer = next((p.group for p in reversed(self._stack) if p.group), None)
                if outer:
                    self._sc.setJobGroup(outer, self._stack[-1].name)
                else:
                    self._sc.setLocalProperty("spark.jobGroup.id", None)
                    self._sc.setLocalProperty("spark.job.description", None)

    # -- status store -----------------------------------------------------

    def resolve(self, foreign_job_spans: tuple[str, ...] = ()) -> None:
        """Attach each span's Spark jobs as ``spark.job`` child spans; call
        once, after the last pass.

        Jobs are found by the span's job group, except in spans named in
        ``foreign_job_spans``: there, jobs run under a group Spark sets
        itself (a streaming query's run id), so every job submitted
        inside the span's interval under a group this tracer did not set
        is taken.
        """
        if self._sc is None:
            return
        sc = self._sc
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        grouped = [s for s in self.spans if s.group is not None]
        quantiles = sc._gateway.new_array(sc._jvm.double, 2)
        quantiles[0], quantiles[1] = 0.5, 1.0
        foreign = None
        for s in grouped:
            job_ids = list(sc.statusTracker().getJobIdsForGroup(s.group))
            if s.name in foreign_job_spans:
                if foreign is None:
                    foreign = _ungrouped_jobs(store)
                job_ids += [j for j, t in foreign if s.t0 <= t <= s.t1]
            for j in sorted(job_ids):
                info = _job_info(store, j, quantiles)
                t0 = min(max(info.pop("t0"), s.t0), s.t1)
                t1 = min(max(info.pop("t1"), t0), s.t1)
                self.spans.append(Span(len(self.spans), "spark.job", s.id, t0, t1, attrs=info))

    def sql_executions(self) -> int:
        """Number of SQL executions so far: a cursor for ``python_crossing``."""
        if self._jspark is None:
            return 0
        return self._jspark.sharedState().statusStore().executionsCount()

    def python_crossing(self, start: int, end: int) -> dict:
        """Bytes sent to and returned from Python workers over the SQL
        executions numbered ``start`` up to ``end``."""
        out = {"sent_b": 0.0, "returned_b": 0.0}
        if self._jspark is None or end <= start:
            return out
        self._sc._jsc.sc().listenerBus().waitUntilEmpty()
        sql = self._jspark.sharedState().statusStore()
        execs = sql.executionsList(start, end - start)
        for i in range(execs.size()):
            eid = execs.apply(i).executionId()
            nodes = sql.planGraph(eid).allNodes()
            values = None
            for n in range(nodes.size()):
                node = nodes.apply(n)
                if not _PYTHON_NODE_RE.search(node.name()):
                    continue
                values = values if values is not None else sql.executionMetrics(eid)
                metrics = node.metrics()
                for k in range(metrics.size()):
                    m = metrics.apply(k)
                    v = values.get(m.accumulatorId())
                    if not v.isDefined():
                        continue
                    if m.name() == "data sent to Python workers":
                        out["sent_b"] += _size(v.get())
                    elif m.name() == "data returned from Python workers":
                        out["returned_b"] += _size(v.get())
        return out


def _has_python_node(cluster) -> bool:
    """Whether a stage's operation graph holds a Python-crossing node."""
    todo = [cluster]
    while todo:
        c = todo.pop()
        if _PYTHON_NODE_RE.search(c.name()):
            return True
        kids = c.childClusters()
        todo.extend(kids.apply(i) for i in range(kids.size()))
    return False


def _size(text: str) -> float:
    """Total bytes from a size SQL metric's display string."""
    line = text.splitlines()[-1]
    m = _SIZE_RE.search(line)
    return float(m.group(1).replace(",", "")) * _UNITS[m.group(2)] if m else 0.0


def _ungrouped_jobs(store) -> list[tuple[int, float]]:
    jobs = store.jobsList(None)
    out = []
    for i in range(jobs.size()):
        jd = jobs.apply(i)
        group = jd.jobGroup()
        if group.isDefined() and group.get().startswith("perfbench-"):
            continue
        out.append((jd.jobId(), jd.submissionTime().get().getTime() / 1000.0))
    return out


def _job_info(store, job_id: int, quantiles) -> dict:
    jd = store.job(job_id)
    info = {
        "job": job_id,
        "t0": jd.submissionTime().get().getTime() / 1000.0,
        "t1": jd.completionTime().get().getTime() / 1000.0,
        "desc": jd.description().get() if jd.description().isDefined() else jd.name(),
        "stages": 0,
        "tasks": 0,
        "executor_ms": 0,
        "input_b": 0,
        "output_b": 0,
        "shuffle_read_b": 0,
        "shuffle_write_b": 0,
        "spill_b": 0,
        "skew": 1.0,
        "python_ms": 0,
    }
    sids = jd.stageIds()
    for i in range(sids.size()):
        sd = store.lastStageAttempt(sids.apply(i))
        if sd.status().toString() != "COMPLETE":
            continue
        info["stages"] += 1
        info["tasks"] += sd.numCompleteTasks()
        info["executor_ms"] += sd.executorRunTime()
        info["input_b"] += sd.inputBytes()
        info["output_b"] += sd.outputBytes()
        info["shuffle_read_b"] += sd.shuffleReadBytes()
        info["shuffle_write_b"] += sd.shuffleWriteBytes()
        info["spill_b"] += sd.diskBytesSpilled()
        if _has_python_node(store.operationGraphForStage(sd.stageId()).rootCluster()):
            info["python_ms"] += sd.executorRunTime()
        if sd.numCompleteTasks() >= 2:
            dist = store.taskSummary(sd.stageId(), sd.attemptId(), quantiles)
            if dist.isDefined():
                run = dist.get().executorRunTime()
                med, top = run.apply(0), run.apply(1)
                if med > 0:
                    info["skew"] = max(info["skew"], top / med)
    return info


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the part of it its children cover."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    return {s.id: s.dur - covered(kids.get(s.id, []), s.t0, s.t1) for s in spans}


def covered(spans: list[Span], lo: float, hi: float) -> float:
    """Length of the union of the spans' intervals, clipped to [lo, hi]."""
    total, end = 0.0, lo
    for s in sorted(spans, key=lambda x: x.t0):
        a, b = max(s.t0, end), min(s.t1, hi)
        if b > a:
            total += b - a
            end = b
    return total
