"""Measurement from outside the package: spans around layer calls, Spark
SQL metrics off executed plans, task times from Spark's status store, and
the peak memory (PSS) of the benchmark's process tree.

Nothing here is imported by the package; every number comes from the
benchmark's own calls or from what Spark already records.
"""

from __future__ import annotations

import os
import re
import statistics
import threading
import time
from contextlib import contextmanager


class Tracer:
    """Spans kept in memory. Each span tags the Spark jobs started inside
    it with a job group, so task times can be attributed to it later."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list = []
        self._op = 0

    def next_op(self) -> None:
        self._op += 1

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sc = self.spark.sparkContext
        group = f"perfbench-{len(self.spans)}-{name}"
        sc.setJobGroup(group, name)
        rec = {"name": name, "op": self._op, "group": group, "parent": "op",
               "start": time.time()}
        t0 = time.perf_counter()
        try:
            yield
        finally:
            rec["dur_s"] = time.perf_counter() - t0
            rec["end"] = rec["start"] + rec["dur_s"]
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            self.spans.append(rec)

    def last(self, name: str) -> dict:
        return next(s for s in reversed(self.spans) if s["name"] == name)


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


def _java_map(spark, scala_map):
    return spark._jvm.scala.jdk.javaapi.CollectionConverters.asJava(scala_map)


def _drain_listeners(spark) -> None:
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def group_job_ids(spark, group: str) -> set:
    _drain_listeners(spark)
    store = spark.sparkContext._jsc.sc().statusStore()
    return {j.jobId() for j in _seq(store.jobsList(None))
            if j.jobGroup().isDefined() and j.jobGroup().get() == group}


def task_stats(spark, group: str) -> dict:
    """Task count and max/median task duration over the jobs of a span."""
    _drain_listeners(spark)
    store = spark.sparkContext._jsc.sc().statusStore()
    durations = []
    for job in _seq(store.jobsList(None)):
        if not (job.jobGroup().isDefined() and job.jobGroup().get() == group):
            continue
        for stage_id in _seq(job.stageIds()):
            for task in _seq(store.taskList(stage_id, 0, 1_000_000)):
                if task.duration().isDefined():
                    durations.append(task.duration().get() / 1000.0)
    if not durations:
        return {"tasks": 0, "max_task_s": 0.0, "median_task_s": 0.0}
    return {"tasks": len(durations), "max_task_s": max(durations),
            "median_task_s": statistics.median(durations)}


# SQL metric value -> base unit (bytes, seconds, plain count)
_UNIT = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
         "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def _metric_value(metric_type: str, raw: int) -> float:
    if metric_type == "timing":
        return raw / 1000.0
    if metric_type == "nsTiming":
        return raw / 1e9
    return float(raw)


def plan_metrics(spark, df) -> list:
    """[(node name, {metric: value})] for a DataFrame that has run through
    its own QueryExecution, descending through AQE into the final plan and
    its query stages. Times are seconds, sizes bytes."""
    out = []

    def walk(node):
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            return walk(node.executedPlan())
        if cls.endswith("QueryStageExec"):
            return walk(node.plan())
        metrics = _java_map(spark, node.metrics())
        out.append((node.nodeName(), {
            k: _metric_value(metrics[k].metricType(), metrics[k].value())
            for k in metrics.keySet()}))
        if cls == "ReusedExchangeExec":
            return walk(node.child())
        for child in _seq(node.children()):
            walk(child)

    walk(df._jdf.queryExecution().executedPlan())
    return out


def _parse_store_value(text: str) -> float:
    """Parse the status store's rendered metric: '6,000', '1545.1 KiB',
    or 'total (min, med, max ...)\\n9.2 s (2.2 s, ...)' (the total)."""
    line = text.strip().splitlines()[-1]
    m = re.match(r"([\d,.]+)\s*([A-Za-z]*)", line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNIT.get(m.group(2), 1.0)


# display names of the SQL metrics used from the status store
STORE_NAMES = {
    "time to run Python workers": "pythonTotalTime",
    "time to start Python workers": "pythonBootTime",
    "data sent to Python workers": "pythonDataSent",
    "data returned from Python workers": "pythonDataReceived",
    "number of output rows": "numOutputRows",
    "size of files read": "filesSize",
    "number of written files": "numFiles",
    "written output": "numOutputBytes",
}


def store_plan_metrics(spark, group: str, require: str) -> list:
    """Same shape as ``plan_metrics``, for SQL executions the package runs
    itself (no DataFrame to walk): read from the SQL status store for
    every execution of the span's job group that has a ``require`` node.
    The store renders values as text, so they carry about three digits."""
    jobs = group_job_ids(spark, group)
    store = spark._jsparkSession.sharedState().statusStore()
    out = []
    for execution in _seq(store.executionsList()):
        if not jobs & set(_java_map(spark, execution.jobs()).keySet()):
            continue
        eid = execution.executionId()
        values = _java_map(spark, store.executionMetrics(eid))
        nodes = []
        for node in _seq(store.planGraph(eid).allNodes()):
            metrics = {}
            for m in _seq(node.metrics()):
                key = STORE_NAMES.get(m.name())
                text = values.get(m.accumulatorId())
                if key and text:
                    metrics[key] = _parse_store_value(text)
            nodes.append((node.name().strip(), metrics))
        if any(name.startswith(require) for name, _m in nodes):
            out.extend(nodes)
    return out


def node_sum(nodes: list, node_name: str, metric: str) -> float:
    return sum(m.get(metric, 0.0) for n, m in nodes if n.startswith(node_name))


def scan_partitions(df) -> int:
    """Input splits of the first file scan in a DataFrame's plan."""
    def find(node):
        cls = node.getClass().getSimpleName()
        if cls == "FileSourceScanExec":
            return node.inputRDD().getNumPartitions()
        if cls == "AdaptiveSparkPlanExec":
            return find(node.executedPlan())
        if cls.endswith("QueryStageExec"):
            return find(node.plan())
        for child in _seq(node.children()):
            found = find(child)
            if found is not None:
                return found
        return None

    return find(df._jdf.queryExecution().executedPlan()) or 0


def _process_tree() -> list:
    """This process and all its descendants: [(pid, /proc/<pid>/stat fields
    after the command name)]."""
    stats: dict = {}
    children: dict = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", encoding="ascii") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            ppid = int(fields[1])
        except (OSError, ValueError, IndexError):
            continue
        stats[int(entry)] = fields
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, ()))
        if pid in stats:
            out.append((pid, stats[pid]))
    return out


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and its descendants (user
    and system, including reaped children)."""
    ticks = sum(int(v) for _pid, fields in _process_tree() for v in fields[11:15])
    return ticks / os.sysconf("SC_CLK_TCK")


class MemoryMonitor:
    """Peak memory of this process and all its descendants (the JVM and
    the Python workers it forks), sampled every ``interval`` seconds. Each
    process counts its proportional set size (PSS: resident pages, shared
    ones split between the processes sharing them), so a child forked
    from the JVM does not count the JVM's pages a second time."""

    def __init__(self, interval: float = 1.0):
        self.interval = interval
        self.peak_bytes = 0
        self.samples: list = []  # (time.monotonic(), bytes)
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    @staticmethod
    def _tree_pss() -> int:
        total = 0
        for pid, _fields in _process_tree():
            try:
                with open(f"/proc/{pid}/smaps_rollup", encoding="ascii") as f:
                    total += next(int(line.split()[1]) * 1024 for line in f
                                  if line.startswith("Pss:"))
            except (OSError, ValueError, StopIteration):
                continue
        return total

    def _run(self) -> None:
        while not self._stop.is_set():
            self.samples.append((time.monotonic(), self._tree_pss()))
            self.peak_bytes = max(self.peak_bytes, self.samples[-1][1])
            self._stop.wait(self.interval)

    def window(self, start: float, end: float) -> list:
        """Samples taken between two ``time.monotonic()`` readings."""
        return [b for t, b in self.samples if start <= t <= end] or [self.peak_bytes]

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak_bytes = max(self.peak_bytes, self._tree_pss())
