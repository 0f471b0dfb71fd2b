"""Spark event log -> per-layer metrics of the extraction plan.

Every SQL metric is an accumulator.  ``SparkListenerSQLExecutionStart``
and each AQE ``SparkListenerSQLAdaptiveExecutionUpdate`` carry the plan
tree with the accumulator ids of each node's metrics; task-end events and
driver accumulator updates carry the values.  Joining the two attributes
every value to its plan node.  Stage names are useless for this: under
AQE they read ``$anonfun$withThreadLocalCaptured$2 at
CompletableFuture.java:1768``.

Plan nodes are recognised by what they do, not by their position:

* a kernel node is any node with a "data sent to Python workers" metric
  (the ``mapInPandas`` call); it is the page-path kernel when its output
  has a ``page_pos`` column, else the doc-path kernel;
* an input exchange is a shuffle ``Exchange`` below a doc-path kernel;
* the join is the first join below a doc-path kernel.
"""

from __future__ import annotations

import json
import statistics
from dataclasses import dataclass, field
from typing import Dict, Iterator, List, Optional, Set

MB = 2**20

_SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
_SQL_END = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd"
_SQL_AQE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"
_SQL_AQE_METRICS = (
    "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveSQLMetricUpdates"
)
_DRIVER_ACCUM = "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates"

# Keys of Window.extract_layers.
EXTRACT_LAYERS = (
    "pipeline.extract.jobs", "pipeline.extract.scan.time_s",
    "pipeline.extract.scan.input_mb", "pipeline.extract.exchange.count",
    "pipeline.extract.exchange.write_mb", "pipeline.extract.exchange.write_s",
    "pipeline.extract.exchange.fetch_wait_s", "pipeline.extract.join.rows_out",
    "pipeline.extract.join.probes_per_key", "pipeline.extract.arrow.sent_mb",
    "pipeline.extract.arrow.received_mb", "pipeline.extract.python.run_s",
    "pipeline.extract.python.start_s", "pipeline.extract.kernel_stage.tasks",
    "pipeline.extract.kernel_stage.task_p50_s", "pipeline.extract.kernel_stage.task_max_s",
    "pipeline.extract.kernel_driver.rows_in", "pipeline.extract.page_path.rows_in",
    "pipeline.extract.page_path.python_run_s", "pipeline.extract.utilization",
    "pipeline.extract.gc_s", "pipeline.extract.spill_mb", "pipeline.extract.peak_exec_mb",
    "shuffle_mb",
)

# SQL metric type -> factor to seconds / bytes / count.
_SCALE = {"timing": 1e-3, "nsTiming": 1e-9, "size": 1.0, "sum": 1.0, "average": 0.1}


@dataclass
class Execution:
    id: int
    description: str
    start_ms: int
    end_ms: int = 0
    plan: Optional[dict] = None


@dataclass
class Job:
    id: int
    execution: Optional[int]
    submit_ms: int
    end_ms: int = 0


@dataclass
class Task:
    launch_ms: int
    finish_ms: int
    gc_ms: int
    input_bytes: int
    shuffle_write_bytes: int
    updates: Dict[int, float] = field(default_factory=dict)


@dataclass
class EventLog:
    executions: Dict[int, Execution] = field(default_factory=dict)
    jobs: List[Job] = field(default_factory=list)
    tasks: List[Task] = field(default_factory=list)
    metric_type: Dict[int, str] = field(default_factory=dict)
    driver_updates: Dict[int, float] = field(default_factory=dict)

    @classmethod
    def read(cls, path: str) -> "EventLog":
        log = cls()
        jobs: Dict[int, Job] = {}
        with open(path) as f:
            for line in f:
                log._add(json.loads(line), jobs)
        log.jobs = sorted(jobs.values(), key=lambda j: j.id)
        return log

    def _add(self, e: dict, jobs: Dict[int, Job]) -> None:
        kind = e["Event"]
        if kind == _SQL_START:
            self.executions[e["executionId"]] = Execution(
                e["executionId"], e.get("description", ""), e["time"],
                plan=e["sparkPlanInfo"],
            )
            self._register(e["sparkPlanInfo"])
        elif kind == _SQL_AQE:
            ex = self.executions.get(e["executionId"])
            if ex is not None:
                ex.plan = e["sparkPlanInfo"]
            self._register(e["sparkPlanInfo"])
        elif kind == _SQL_AQE_METRICS:
            for m in e.get("sqlPlanMetrics", ()):
                self.metric_type[m["accumulatorId"]] = m["metricType"]
        elif kind == _SQL_END:
            ex = self.executions.get(e["executionId"])
            if ex is not None:
                ex.end_ms = e["time"]
        elif kind == _DRIVER_ACCUM:
            for acc, v in e["accumUpdates"]:
                self.driver_updates[acc] = self.driver_updates.get(acc, 0.0) + float(v)
        elif kind == "SparkListenerJobStart":
            ex = e.get("Properties", {}).get("spark.sql.execution.id")
            jobs[e["Job ID"]] = Job(
                e["Job ID"], None if ex is None else int(ex), e["Submission Time"]
            )
        elif kind == "SparkListenerJobEnd":
            if e["Job ID"] in jobs:
                jobs[e["Job ID"]].end_ms = e["Completion Time"]
        elif kind == "SparkListenerTaskEnd":
            info, tm = e["Task Info"], e.get("Task Metrics") or {}
            updates = {}
            for a in info.get("Accumulables", ()):
                if a.get("Metadata") == "sql" and "Update" in a:
                    try:
                        updates[a["ID"]] = float(a["Update"])
                    except (TypeError, ValueError):
                        pass
            self.tasks.append(Task(
                info["Launch Time"], info["Finish Time"], tm.get("JVM GC Time", 0),
                (tm.get("Input Metrics") or {}).get("Bytes Read", 0),
                (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
                updates,
            ))

    def _register(self, plan: dict) -> None:
        for node in walk(plan):
            for m in node["metrics"]:
                self.metric_type[m["accumulatorId"]] = m["metricType"]

    def window(self, t0_ms: float, t1_ms: float) -> "Window":
        return Window(
            self,
            [x for x in self.executions.values() if t0_ms <= x.start_ms <= t1_ms],
            [j for j in self.jobs if t0_ms <= j.submit_ms <= t1_ms],
            [t for t in self.tasks if t0_ms <= t.launch_ms <= t1_ms],
        )


def walk(node: dict) -> Iterator[dict]:
    yield node
    for c in node["children"]:
        yield from walk(c)


def _metric_ids(node: dict, name: str) -> List[int]:
    return [m["accumulatorId"] for m in node["metrics"] if m["name"] == name]


def is_kernel(node: dict) -> bool:
    return bool(_metric_ids(node, "data sent to Python workers"))


def is_page_kernel(node: dict) -> bool:
    return is_kernel(node) and "page_pos#" in node["simpleString"]


def is_doc_kernel(node: dict) -> bool:
    return is_kernel(node) and not is_page_kernel(node)


def input_exchanges(kernel: dict) -> List[dict]:
    return [n for n in walk(kernel) if n["nodeName"] == "Exchange"]


def first_join(kernel: dict) -> Optional[dict]:
    for n in walk(kernel):
        if n is not kernel and "Join" in n["nodeName"]:
            return n
    return None


def rows_into(kernel: dict) -> Optional[int]:
    """Accumulator id of the row count feeding ``kernel``: the first node
    down its single-child chain that counts rows."""
    node = kernel
    while len(node["children"]) == 1:
        node = node["children"][0]
        for name in ("number of output rows", "records read"):
            ids = _metric_ids(node, name)
            if ids:
                return ids[0]
    return None


class Window:
    """The executions, jobs and tasks of one timed iteration."""

    def __init__(self, log: EventLog, executions, jobs, tasks):
        self.log = log
        self.executions: List[Execution] = executions
        self.jobs: List[Job] = jobs
        self.tasks: List[Task] = tasks
        self._totals: Dict[int, float] = {}
        self._per_task: Dict[int, List[float]] = {}
        for t in tasks:
            for acc, v in t.updates.items():
                self._totals[acc] = self._totals.get(acc, 0.0) + v
                self._per_task.setdefault(acc, []).append(v)
        for acc, v in log.driver_updates.items():
            self._totals.setdefault(acc, 0.0)
            self._totals[acc] += v

    def nodes(self) -> Iterator[dict]:
        for x in self.executions:
            if x.plan is not None:
                yield from walk(x.plan)

    def value(self, ids: Set[int]) -> float:
        """Sum of the metrics ``ids`` in their natural unit (s, bytes,
        count); each accumulator is counted once even when it appears in
        several plan versions."""
        return sum(
            self._totals.get(i, 0.0) * _SCALE.get(self.log.metric_type.get(i), 1.0)
            for i in ids
        )

    def ids(self, nodes, name: str) -> Set[int]:
        return {i for n in nodes for i in _metric_ids(n, name)}

    def extract_layers(self, wall_s: float, nproc: int) -> Dict[str, float]:
        nodes = list(self.nodes())
        kernels = [n for n in nodes if is_kernel(n)]
        docs = [n for n in kernels if is_doc_kernel(n)]
        pages = [n for n in kernels if is_page_kernel(n)]
        exchanges = [x for k in docs for x in input_exchanges(k)]
        joins = [j for j in (first_join(k) for k in docs) if j is not None]
        scans = [n for n in nodes if n["nodeName"].startswith("Scan")]
        doc_ids = self.ids(docs, "number of output rows") | self.ids(
            docs, "data sent to Python workers"
        )
        kernel_tasks = sorted(
            (t.finish_ms - t.launch_ms) / 1e3
            for t in self.tasks
            if doc_ids & t.updates.keys()
        )
        probes = [
            v / 10 for i in self.ids(joins, "avg hash probes per key")
            for v in self._per_task.get(i, ())
        ]
        peaks = [
            v for i in self.ids(nodes, "peak memory") for v in self._per_task.get(i, ())
        ]
        return {
            "pipeline.extract.jobs": len(self.jobs),
            "pipeline.extract.scan.time_s": self.value(self.ids(scans, "scan time")),
            "pipeline.extract.scan.input_mb": sum(t.input_bytes for t in self.tasks) / MB,
            "pipeline.extract.exchange.count": max(
                (len(input_exchanges(k)) for k in docs), default=0
            ),
            "pipeline.extract.exchange.write_mb": self.value(
                self.ids(exchanges, "shuffle bytes written")) / MB,
            "pipeline.extract.exchange.write_s": self.value(
                self.ids(exchanges, "shuffle write time")),
            "pipeline.extract.exchange.fetch_wait_s": self.value(
                self.ids(exchanges, "fetch wait time")),
            "pipeline.extract.join.rows_out": self.value(
                self.ids(joins, "number of output rows")),
            "pipeline.extract.join.probes_per_key": (
                statistics.fmean(probes) if probes else 0.0
            ),
            "pipeline.extract.arrow.sent_mb": self.value(
                self.ids(kernels, "data sent to Python workers")) / MB,
            "pipeline.extract.arrow.received_mb": self.value(
                self.ids(kernels, "data returned from Python workers")) / MB,
            "pipeline.extract.python.run_s": self.value(
                self.ids(kernels, "time to run Python workers")),
            "pipeline.extract.python.start_s": self.value(
                self.ids(kernels, "time to start Python workers")),
            "pipeline.extract.kernel_stage.tasks": len(kernel_tasks),
            "pipeline.extract.kernel_stage.task_p50_s": (
                statistics.median(kernel_tasks) if kernel_tasks else 0.0
            ),
            "pipeline.extract.kernel_stage.task_max_s": max(kernel_tasks, default=0.0),
            "pipeline.extract.kernel_driver.rows_in": self.value(
                {i for i in (rows_into(k) for k in kernels) if i is not None}),
            "pipeline.extract.page_path.rows_in": self.value(
                {i for i in (rows_into(k) for k in pages) if i is not None}),
            "pipeline.extract.page_path.python_run_s": self.value(
                self.ids(pages, "time to run Python workers")),
            "pipeline.extract.utilization": (
                sum(t.finish_ms - t.launch_ms for t in self.tasks) / 1e3
                / (wall_s * nproc)
            ),
            "pipeline.extract.gc_s": sum(t.gc_ms for t in self.tasks) / 1e3,
            "pipeline.extract.spill_mb": self.value(self.ids(nodes, "spill size")) / MB,
            "pipeline.extract.peak_exec_mb": max(peaks, default=0.0) / MB,
            "shuffle_mb": sum(t.shuffle_write_bytes for t in self.tasks) / MB,
        }

    def checkpoint_phases(self) -> Dict[str, float]:
        """Seconds of the bucket jobs, attributed by call site: the
        mega-count collect in ``extract.py`` (route), the lineage collect in
        ``checkpoint.py`` plus the re-read's file-listing job, which runs
        outside any SQL execution (lineage), and everything else, i.e. the
        write job that runs the kernel (write)."""
        out = {"route": 0.0, "lineage": 0.0, "write": 0.0}
        for x in self.executions:
            d = x.description
            phase = (
                "route" if "/extract.py:" in d
                else "lineage" if "/checkpoint.py:" in d
                else "write"
            )
            out[phase] += max(x.end_ms - x.start_ms, 0) / 1e3
        for j in self.jobs:
            if j.execution is None:
                out["lineage"] += max(j.end_ms - j.submit_ms, 0) / 1e3
        return out
