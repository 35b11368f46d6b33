"""Traced-run instruments: spans recorded around the benchmark's calls into
``spark_pit``, and a reader for Spark's own per-operator and per-stage
metrics (the SQL status store works with ``spark.ui.enabled=false``).

Nothing here changes what Spark runs; the reader only looks at executions
and jobs that already finished.
"""

from __future__ import annotations

import json
import re
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

_NUM = re.compile(r"^\s*(-?[\d,]*\.?\d+)\s*([A-Za-z]*)")
_SIZE = {"B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30, "TiB": 2.0**40}
_TIME = {"ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0}


def parse_metric(text: str) -> float:
    """Spark's display string of one SQL metric -> a number: bytes for a
    size, seconds for a time, the count for a sum. Task-level metrics read
    ``total (min, med, max ...)\\n<total> (...)``; the total is taken."""
    m = _NUM.match(text.strip().splitlines()[-1])
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    return value * _SIZE.get(unit, _TIME.get(unit, 1.0))


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    run_id: str = ""
    id: int = 0
    jobs: list[int] = field(default_factory=list)
    executions: list[int] = field(default_factory=list)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Spans kept in memory and written out once at the end. With a Spark
    session attached, each span is its own job group, so the Spark jobs
    and SQL executions a call launched are attributed to its span."""

    def __init__(self, run_id: str, spark=None):
        self.run_id = run_id
        self.spark = spark
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, time.perf_counter(), parent=parent, run_id=self.run_id, id=len(self.spans))
        self.spans.append(sp)
        self._stack.append(sp.id)
        sc = self.spark.sparkContext if self.spark is not None else None
        first_exec = _execution_count(self.spark) if sc else 0
        if sc:
            sc.setJobGroup(f"{self.run_id}:{sp.id}", name)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if sc:
                sp.jobs = list(sc.statusTracker().getJobIdsForGroup(f"{self.run_id}:{sp.id}"))
                sp.executions = _execution_ids(self.spark, first_exec)
                if parent is not None:
                    sc.setJobGroup(f"{self.run_id}:{parent}", self.spans[parent].name)
                else:
                    sc._jsc.clearJobGroup()

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for sp in self.spans:
                fh.write(json.dumps(asdict(sp)) + "\n")


def _sql_store(spark):
    return spark._jsparkSession.sharedState().statusStore()


def _execution_count(spark) -> int:
    return int(_sql_store(spark).executionsCount())


def _execution_ids(spark, first: int) -> list[int]:
    store = _sql_store(spark)
    n = int(store.executionsCount())
    if n <= first:
        return []
    seq = store.executionsList(first, n - first)
    return [int(seq.apply(i).executionId()) for i in range(seq.size())]


@dataclass
class Node:
    id: int
    name: str
    desc: str
    metrics: dict[str, float]


def plan_nodes(spark, execution_id: int) -> tuple[dict[int, Node], dict[int, list[int]]]:
    """Operator nodes of one SQL execution with parsed metric totals, and
    the child ids of each node."""
    store = _sql_store(spark)
    graph = store.planGraph(execution_id)
    values = store.executionMetrics(execution_id)
    nodes: dict[int, Node] = {}
    all_nodes = graph.allNodes()
    for i in range(all_nodes.size()):
        n = all_nodes.apply(i)
        ms = n.metrics()
        metrics = {}
        for k in range(ms.size()):
            m = ms.apply(k)
            v = values.get(m.accumulatorId())
            if v.isDefined():
                metrics[m.name()] = parse_metric(v.get())
        nodes[int(n.id())] = Node(int(n.id()), n.name(), n.desc(), metrics)
    children: dict[int, list[int]] = {}
    edges = graph.edges()
    for i in range(edges.size()):
        e = edges.apply(i)
        children.setdefault(int(e.toId()), []).append(int(e.fromId()))
    return nodes, children


def execution_seconds(spark, execution_id: int) -> float:
    data = _sql_store(spark).execution(execution_id)
    if not data.isDefined():
        return 0.0
    d = data.get()
    end = d.completionTime()
    if not end.isDefined():
        return 0.0
    return (end.get().getTime() - d.submissionTime()) / 1000.0


def kernel_feed(nodes: dict[int, Node], children: dict[int, list[int]], kernel: int) -> list[Node]:
    """The Sort and Exchange nodes that feed a cogroup kernel directly
    (kernel <- Sort <- [AQEShuffleRead <-] Exchange): its shuffle."""
    out = []
    for c in children.get(kernel, []):
        if nodes[c].name != "Sort":
            continue
        out.append(nodes[c])
        frontier = list(children.get(c, []))
        while frontier:
            x = nodes[frontier.pop()]
            if x.name == "AQEShuffleRead":
                frontier.extend(children.get(x.id, []))
            elif x.name == "Exchange":
                out.append(x)
    return out


def scan_totals(spark, executions) -> dict[str, float]:
    """Rows and scan time of every parquet scan in ``executions``."""
    rows = secs = 0.0
    for e in executions:
        nodes, _ = plan_nodes(spark, e)
        for n in nodes.values():
            if n.name.startswith("Scan"):
                rows += n.metrics.get("number of output rows", 0.0)
                secs += n.metrics.get("scan time", 0.0)
    return {"scan.rows": rows, "scan.s": secs}


def stage_stats(spark, job_ids: list[int]) -> dict[str, float]:
    """Job/stage/task counts, GC, peak execution memory, executor run time,
    shuffle bytes written and the task-time skew of the busiest stage, over
    the given jobs."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    stage_ids = set()
    for j in job_ids:
        info = tracker.getJobInfo(j)
        if info is not None:
            stage_ids.update(info.stageIds)
    tasks = gc_ms = run_ms = shuffle_write = 0
    peak_mem = 0
    busiest = (-1, None)
    for sid in sorted(stage_ids):
        try:
            st = store.lastStageAttempt(sid)
        except Exception:  # skipped stages (reused shuffle) have no attempt
            continue
        n = int(st.numCompleteTasks())
        if n == 0:
            continue
        tasks += n
        gc_ms += int(st.jvmGcTime())
        peak_mem = max(peak_mem, int(st.peakExecutionMemory()))
        run = int(st.executorRunTime())
        run_ms += run
        shuffle_write += int(st.shuffleWriteBytes())
        if n >= 2 and run > busiest[0]:
            busiest = (run, (sid, int(st.attemptId())))
    ratio = 1.0
    if busiest[1] is not None:
        sid, att = busiest[1]
        tl = store.taskList(sid, att, 100_000)
        times = sorted(
            int(tl.apply(i).taskMetrics().get().executorRunTime())
            for i in range(tl.size())
            if tl.apply(i).taskMetrics().isDefined()
        )
        if times:
            med = times[len(times) // 2]
            ratio = times[-1] / max(med, 1)
    return {
        "spark.jobs": float(len(job_ids)),
        "spark.stages": float(len(stage_ids)),
        "spark.tasks": float(tasks),
        "stage.gc_s": gc_ms / 1000.0,
        "stage.peak_exec_mem_mb": peak_mem / 1e6,
        "stage.task_max_over_median": ratio,
        "stage.run_s": run_ms / 1000.0,
        "stage.shuffle_write_mb": shuffle_write / 1e6,
    }
