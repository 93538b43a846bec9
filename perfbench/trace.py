"""Per-layer readings taken from outside ``lucene_spark``.

Two sources, both Spark's own:

* ``AppStatusStore`` (``sc.statusStore()``): job, stage and task counts
  and stage totals between two marks. Units as Spark stores them:
  ``executorCpuTime`` ns, ``executorRunTime`` ms, ``jvmGcTime`` ms,
  ``shuffleWriteBytes`` / ``diskBytesSpilled`` bytes. The SQL status
  store adds the Python worker times of every execution between the
  marks (formatted strings such as ``1.2 s`` or ``599 ms``), which covers
  the jobs a build runs internally.
* the executed plan of the DataFrame an action ran, walked through
  ``AdaptiveSparkPlanExec.executedPlan()`` and ``*QueryStageExec.plan()``.
  SQL metric units: ``python{Boot,Init,Total}Time`` ms, ``scanTime`` ms,
  ``shuffleWriteTime`` ns, byte and row counts as is.

All readings are returned in seconds, bytes or counts.
"""

from __future__ import annotations

import time

NS = 1e-9
MS = 1e-3


class StatusStore:
    """Stage totals between ``mark()`` and ``since(mark)``."""

    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()
        self._sql = spark._jsparkSession.sharedState()
        self._jvm = spark._jvm
        self._empty = spark.sparkContext._gateway.new_array(self._jvm.double, 0)
        self.overhead_s = 0.0  # wall time spent reading the store

    def _drain(self) -> None:
        # the status listener runs on the listener bus thread: wait until
        # it has seen every event of the actions that already returned
        self._sc.listenerBus().waitUntilEmpty()

    def _stages(self):
        store = self._sc.statusStore()
        return store.stageList(
            None, False, False, self._empty, self._jvm.java.util.ArrayList()
        )

    def _executions(self):
        return self._sql.statusStore().executionsList()

    def mark(self) -> tuple[int, int, int]:
        """Highest job, stage and SQL execution id seen so far."""
        t0 = time.perf_counter()
        self._drain()
        jobs = self._sc.statusStore().jobsList(None)  # newest first
        stages = self._stages()  # newest first
        execs = self._executions()  # oldest first
        out = (
            jobs.head().jobId() if jobs.nonEmpty() else -1,
            stages.head().stageId() if stages.nonEmpty() else -1,
            execs.last().executionId() if execs.nonEmpty() else -1,
        )
        self.overhead_s += time.perf_counter() - t0
        return out

    def since(self, mark: tuple[int, int, int]) -> dict:
        """Stage totals of every stage, plus the Python worker times of
        every SQL execution, started after ``mark``."""
        t0 = time.perf_counter()
        self._drain()
        jobs = _newest(self._sc.statusStore().jobsList(None), "jobId", mark[0])
        out = {
            "jobs": sum(1 for _ in jobs), "stages": 0, "tasks": 0, "task_cpu_s": 0.0,
            "task_run_s": 0.0, "gc_s": 0.0, "shuffle_write_bytes": 0,
            "spill_bytes": 0, "python_boot_init_s": 0.0, "python_exec_s": 0.0,
        }
        for s in _newest(self._stages(), "stageId", mark[1]):
            out["stages"] += 1
            out["tasks"] += s.numCompleteTasks() + s.numFailedTasks()
            out["task_cpu_s"] += s.executorCpuTime() * NS
            out["task_run_s"] += s.executorRunTime() * MS
            out["gc_s"] += s.jvmGcTime() * MS
            out["shuffle_write_bytes"] += s.shuffleWriteBytes()
            out["spill_bytes"] += s.diskBytesSpilled()
        sql = self._sql.statusStore()
        for e in _newest(self._executions().reverse(), "executionId", mark[2]):
            values = sql.executionMetrics(e.executionId())
            metrics = e.metrics().iterator()
            while metrics.hasNext():
                m = metrics.next()
                key = _SQL_PYTHON_TIMES.get(m.name())
                v = values.get(m.accumulatorId())
                if key and v.isDefined():
                    out[key] += _duration_s(v.get())
        self.overhead_s += time.perf_counter() - t0
        return out


def _newest(seq, id_attr: str, after: int):
    """Items of a newest-first Scala Seq whose id is above ``after``."""
    it = seq.iterator()
    while it.hasNext():
        item = it.next()
        if getattr(item, id_attr)() <= after:
            return
        yield item


# SQL status store display names of the Python worker timings
_SQL_PYTHON_TIMES = {
    "time to start Python workers": "python_boot_init_s",
    "time to initialize Python workers": "python_boot_init_s",
    "time to run Python workers": "python_exec_s",
}
_UNIT_S = {"ms": MS, "s": 1.0, "m": 60.0, "h": 3600.0}


def _duration_s(text: str) -> float:
    """Total of a formatted SQL timing metric, e.g.
    'total (min, med, max (stageId: taskId))\n1.2 s (528 ms, ...)'."""
    value, unit = text.split("\n")[-1].split()[:2]
    return float(value.replace(",", "")) * _UNIT_S[unit]


_SCAN_NODES = ("FileSourceScanExec", "BatchScanExec")


def _metric(node, name: str) -> int:
    opt = node.metrics().get(name)
    return int(opt.get().value()) if opt.isDefined() else 0


def _children(node) -> list:
    cls = node.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        return [node.executedPlan()]
    if cls.endswith("QueryStageExec"):
        return [node.plan()]
    if cls == "ReusedExchangeExec":
        return []  # its work is counted where the exchange first ran
    it = node.children().iterator()
    out = []
    while it.hasNext():
        out.append(it.next())
    return out


def _rows_in(node) -> int:
    """Rows flowing into ``node``: numOutputRows of the nearest
    descendant that counts them (a Filter or the Scan)."""
    for child in _children(node):
        if child.metrics().get("numOutputRows").isDefined():
            return _metric(child, "numOutputRows")
        n = _rows_in(child)
        if n:
            return n
    return 0


def plan_metrics(df) -> dict:
    """SQL metrics of the executed plan of ``df`` (after its action)."""
    out = {
        "scans": 0, "scan_bytes": 0, "scan_rows": 0, "scan_time_s": 0.0,
        "python_boot_s": 0.0, "python_init_s": 0.0, "python_total_s": 0.0,
        "arrow_bytes_to_python": 0, "arrow_bytes_from_python": 0,
        "python_rows_in": 0, "python_rows_out": 0,
        "shuffle_bytes": 0, "shuffle_write_s": 0.0, "broadcast_bytes": 0,
    }
    todo = [df._jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        cls = node.getClass().getSimpleName()
        if cls in _SCAN_NODES:
            out["scans"] += 1
            out["scan_bytes"] += _metric(node, "filesSize")
            out["scan_rows"] += _metric(node, "numOutputRows")
            out["scan_time_s"] += _metric(node, "scanTime") * MS
        elif node.metrics().get("pythonDataSent").isDefined():
            out["python_boot_s"] += _metric(node, "pythonBootTime") * MS
            out["python_init_s"] += _metric(node, "pythonInitTime") * MS
            out["python_total_s"] += _metric(node, "pythonTotalTime") * MS
            out["arrow_bytes_to_python"] += _metric(node, "pythonDataSent")
            out["arrow_bytes_from_python"] += _metric(node, "pythonDataReceived")
            out["python_rows_out"] += _metric(node, "pythonNumRowsReceived")
            out["python_rows_in"] += _rows_in(node)
        elif cls == "ShuffleExchangeExec":
            out["shuffle_bytes"] += _metric(node, "shuffleBytesWritten")
            out["shuffle_write_s"] += _metric(node, "shuffleWriteTime") * NS
        elif cls == "BroadcastExchangeExec":
            out["broadcast_bytes"] += _metric(node, "dataSize")
        todo.extend(_children(node))
    return out
