"""Read Spark's own status for the jobs one operation launched.

Stage metrics come from the driver's local status REST API, SQL plan
nodes from its SQL endpoint, and Catalyst's optimization and planning
times from a query execution listener, which sees the query executions
that actually ran (a write plans through a command of its own, not
through the DataFrame's).  All three are fed by the listener bus, so
every read first waits for the bus to drain; reads happen per operation,
right after it, so UI retention never drops a stage before it is
counted.
"""

from __future__ import annotations

import json
import urllib.parse
import urllib.request

PYTHON_NODES = (
    "ArrowEvalPython", "BatchEvalPython", "MapInArrow", "MapInPandas",
    "FlatMapGroupsInPandas", "FlatMapGroupsInArrow", "FlatMapCoGroupsInPandas",
    "AggregateInPandas", "WindowInPandas",
)
_MB = 1 << 20

# enough history for one run; raising retention changes no execution
RETENTION_CONF = {
    "spark.ui.retainedJobs": "100000",
    "spark.ui.retainedStages": "100000",
    "spark.sql.ui.retainedExecutions": "100000",
    "spark.ui.showConsoleProgress": "false",
}


PHASES = ("analysis", "optimization", "planning")


def _phase_ms(qe) -> dict[str, float]:
    """The phase times a QueryExecution's tracker holds so far."""
    phases = qe.tracker().phases()
    out = {}
    for name in PHASES:
        p = phases.get(name)  # a scala.Option
        out[name] = float(p.get().durationMs()) if p.isDefined() else 0.0
    return out


class _PhaseListener:
    """A QueryExecutionListener, called from the JVM through py4j: keeps
    the phase times of every query execution that ends."""

    def __init__(self):
        self.seen: list[dict[str, float]] = []

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802
        self.seen.append(_phase_ms(qe))

    def onFailure(self, func_name, qe, exception):  # noqa: N802
        self.seen.append(_phase_ms(qe))

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


class SparkStatus:
    def __init__(self, spark):
        from pyspark.java_gateway import ensure_callback_server_started

        self.sc = spark.sparkContext
        ensure_callback_server_started(self.sc._gateway)
        self._phases = _PhaseListener()
        spark._jsparkSession.listenerManager().register(self._phases)
        port = urllib.parse.urlparse(self.sc.uiWebUrl).port
        self.base = (
            f"http://localhost:{port}/api/v1/applications/"
            f"{self.sc.applicationId}"
        )
        self._sql_seen = 0  # SQL executions already read

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def drain(self) -> None:
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def start_op(self) -> None:
        """Forget the executions that ended before an operation starts."""
        self.drain()
        self._phases.seen.clear()

    def executed_phase_ms(self) -> dict[str, float]:
        """Optimization and planning time summed over the query
        executions that ended since :meth:`start_op`."""
        self.drain()
        return {name: sum(p[name] for p in self._phases.seen)
                for name in ("optimization", "planning")}

    def job_ids(self, group: str) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(group))

    def stage_totals(self, group: str) -> dict:
        """Summed stage metrics over every job of ``group``."""
        self.drain()
        jobs = self.job_ids(group)
        sids: set[int] = set()
        for j in jobs:
            sids.update(self._get(f"/jobs/{j}")["stageIds"])
        out = dict.fromkeys(
            ("stages", "tasks", "failed_tasks", "executor_run_s",
             "executor_cpu_s", "gc_s", "shuffle_read_mb", "shuffle_write_mb",
             "spill_mb", "input_mb", "output_mb"), 0.0)
        out["jobs"] = len(jobs)
        for sid in sids:
            for st in self._get(f"/stages/{sid}"):
                if st["status"] == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += st["numCompleteTasks"] + st["numFailedTasks"]
                out["failed_tasks"] += st["numFailedTasks"]
                out["executor_run_s"] += st["executorRunTime"] / 1e3
                out["executor_cpu_s"] += st["executorCpuTime"] / 1e9
                out["gc_s"] += st["jvmGcTime"] / 1e3
                out["shuffle_read_mb"] += (
                    st["shuffleRemoteBytesRead"] + st["shuffleLocalBytesRead"]
                ) / _MB
                out["shuffle_write_mb"] += st["shuffleWriteBytes"] / _MB
                out["spill_mb"] += st["diskBytesSpilled"] / _MB
                out["input_mb"] += st["inputBytes"] / _MB
                out["output_mb"] += st["outputBytes"] / _MB
        return out

    def plan_nodes(self, group: str) -> dict:
        """Exchange and Python-boundary node counts in the final plans of
        the SQL executions that ran ``group``'s jobs, among those not
        read before (call it once per operation, after the operation)."""
        self.drain()
        jobs = set(self.job_ids(group))
        out = {"exchanges": 0, "python_nodes": 0}
        new = self._get("/sql?details=true&planDescription=false"
                        f"&offset={self._sql_seen}&length=1000000")
        self._sql_seen += len(new)
        for ex in new:
            ran = set(ex.get("successJobIds", [])) | set(
                ex.get("failedJobIds", [])) | set(ex.get("runningJobIds", []))
            if not ran & jobs:
                continue
            for node in ex.get("nodes", []):
                name = node["nodeName"]
                out["exchanges"] += name.endswith("Exchange")
                out["python_nodes"] += name in PYTHON_NODES
        return out

    def cached_mb(self) -> float:
        self.drain()
        return sum(
            r.get("memoryUsed", 0) + r.get("diskUsed", 0)
            for r in self._get("/storage/rdd")
        ) / _MB


def analysis_ms(df) -> float:
    """Analysis time of ``df``'s own query execution: a DataFrame is
    analysed when it is built, so this reads the build's figure and
    forces nothing."""
    return _phase_ms(df._jdf.queryExecution())["analysis"]
