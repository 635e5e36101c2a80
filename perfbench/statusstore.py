"""Readouts of Spark's SQL and stage status stores through py4j.

Spark's status listeners fill both stores whether or not the web UI is
enabled, so a finished action's SQL plan metrics (rows and bytes that
crossed into Python, per node) and its stages (submit and complete
times, executor CPU, shuffle bytes, spill, GC, task durations) can be
read back from the driver without touching the program.

SQL metric values are stored pre-formatted ("26,468", "18.8 MiB",
"1.3 s"): counts parse exactly, sizes to the 0.1-unit precision Spark
prints.
"""

from __future__ import annotations

_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0}

# plan nodes that run Python code on the executors
PYTHON_NODES = ("ArrowEvalPython", "MapInPandas", "MapInArrow", "FlatMapGroupsInPandas")


def parse_metric(text, metric_type):
    """A formatted SQL metric -> number (sizes in bytes, times in seconds).

    Metrics aggregated over several tasks read
    ``"total (min, med, max (stageId: taskId))\\n18.8 MiB (2.3 MiB, ...)"``;
    the total is the first figure of the second line.
    """
    if text is None:
        return 0
    head = text.split("\n", 1)[-1].split(" (", 1)[0].strip()
    if metric_type == "size":
        number, unit = head.split()
        return float(number) * _SIZE_UNITS[unit]
    if metric_type in ("timing", "nsTiming"):
        number, unit = head.split()
        return float(number) * _TIME_UNITS[unit]
    value = float(head.replace(",", ""))
    return int(value) if value.is_integer() else value


def stage_role(clusters):
    """What a stage of the extraction plan does, from its operator names."""
    if any(c in PYTHON_NODES for c in clusters):
        return "python"
    if "Window" in clusters:
        return "window"
    if any(c.startswith("Scan") for c in clusters):
        return "scan"
    return "other"


class StatusReader:
    """Reads finished SQL executions and their stages off a live session."""

    def __init__(self, spark):
        sc = spark.sparkContext
        jvm, gateway = sc._jvm, sc._gateway
        self._sc = sc._jsc.sc()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._app = self._sc.statusStore()
        self._conv = jvm.scala.jdk.javaapi.CollectionConverters
        self._no_statuses = jvm.java.util.ArrayList()
        self._no_quantiles = gateway.new_array(gateway.jvm.double, 0)

    def drain(self, timeout_ms=30000):
        """Wait until the listeners have seen every event posted so far."""
        self._sc.listenerBus().waitUntilEmpty(timeout_ms)

    def _execution_list(self):
        seq = self._sql.executionsList()
        return [seq.apply(i) for i in range(seq.size())]

    def last_execution_id(self):
        self.drain()
        return max((e.executionId() for e in self._execution_list()), default=-1)

    def executions_after(self, mark):
        """Every SQL execution with an id above ``mark``, oldest first."""
        self.drain()
        found = [e for e in self._execution_list() if e.executionId() > mark]
        return [self._execution(e) for e in sorted(found, key=lambda e: e.executionId())]

    def _execution(self, e):
        eid = e.executionId()
        values = self._conv.asJava(self._sql.executionMetrics(eid))
        graph_nodes = self._sql.planGraph(eid).allNodes()
        nodes = []
        for i in range(graph_nodes.size()):
            node = graph_nodes.apply(i)
            seq = node.metrics()
            metrics = {}
            for j in range(seq.size()):
                m = seq.apply(j)
                metrics[m.name()] = parse_metric(values.get(m.accumulatorId()), m.metricType())
            nodes.append({"name": node.name(), "metrics": metrics})
        stage_ids = sorted(self._conv.asJava(e.stages()))
        stages = [s for s in (self._stage(sid) for sid in stage_ids) if s is not None]
        return {"id": eid, "nodes": nodes, "stages": stages}

    def _stage(self, sid):
        data = self._app.stageAttempt(sid, 0, False, self._no_statuses, False, self._no_quantiles)._1()
        if data.status().toString() != "COMPLETE":
            return None  # skipped: its shuffle output was reused
        clusters = []
        pending = [self._app.operationGraphForStage(sid).rootCluster()]
        while pending:
            children = pending.pop().childClusters()
            for i in range(children.size()):
                clusters.append(children.apply(i).name())
                pending.append(children.apply(i))
        tasks = self._app.taskList(sid, 0, 1 << 20)
        task_s = []
        for i in range(tasks.size()):
            duration = tasks.apply(i).duration()
            if duration.isDefined():
                task_s.append(duration.get() / 1000.0)
        return {
            "id": sid,
            "role": stage_role(clusters),
            "clusters": clusters,
            "num_tasks": data.numTasks(),
            "submit_ms": data.submissionTime().get().getTime(),
            "complete_ms": data.completionTime().get().getTime(),
            "cpu_s": data.executorCpuTime() / 1e9,
            "shuffle_read_bytes": data.shuffleReadBytes(),
            "shuffle_write_bytes": data.shuffleWriteBytes(),
            "spill_bytes": data.memoryBytesSpilled() + data.diskBytesSpilled(),
            "gc_s": data.jvmGcTime() / 1000.0,
            "task_s": task_s,
        }


def node_metric(executions, node_names, metric):
    """Sum of ``metric`` over every plan node named in ``node_names``."""
    return sum(
        n["metrics"].get(metric, 0)
        for e in executions
        for n in e["nodes"]
        if n["name"] in node_names
    )


def stage_seconds(stage):
    return (stage["complete_ms"] - stage["submit_ms"]) / 1000.0
