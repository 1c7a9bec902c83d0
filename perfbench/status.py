"""One adapter over Spark's status stores, for the benchmark.

Reads ``AppStatusStore`` (jobs, stages, task-metric quantiles) and
``SQLAppStatusStore`` (SQL executions, plan-graph nodes and their
metrics) through py4j, for the jobs of one job group and the SQL
executions started since a mark. Both stores are filled with
``spark.ui.enabled=false``.

The call shapes are release-specific; ``test_status.py`` pins the ones
used here against Spark 4.1.2, e.g.
``stageData(int, boolean, java.util.List, boolean, double[])``.

Spark keeps only the last ~1000 jobs, stages and executions, so callers
read after every query, outside the timed interval.
"""

from __future__ import annotations

import json
import re

# Task-metric quantiles asked of stageData: median and maximum. Spark
# takes the value at index min(q * n, n - 1) of the n sorted tasks, so
# with two tasks the "median" is the larger one.
QUANTILES = (0.5, 1.0)

# Plan-graph node names of the Python-worker operators (mapInPandas,
# pandas UDFs, grouped/cogrouped pandas, arrow UDTFs and batch UDFs).
PYTHON_NODE = re.compile(r"Python|InPandas|InArrow")

_UNITS = {
    "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
    "ms": 1, "s": 1000, "m": 60_000, "h": 3_600_000,
}
_TOTAL = re.compile(r"^([0-9][0-9.,]*)\s*(B|KiB|MiB|GiB|TiB|ms|s|m|h)?$")


def parse_metric(text: str) -> float:
    """A SQL metric value as SQLAppStatusStore formats it: a plain sum
    ("1,024"), or a size/timing block whose second line starts with the
    total ("total (min, med, max ...)\\n7.2 KiB (...)"). Sizes come back
    in bytes, timings in ms."""
    lines = text.strip().splitlines()
    head = lines[1] if len(lines) > 1 else lines[0]
    head = head.split(" (")[0].strip()
    m = _TOTAL.match(head)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2) or "", 1)


class StatusStores:
    """Views of one SparkSession's status stores. Each store object is
    serialised on the JVM side with Spark's own Jackson (the REST API's
    encoding), so one py4j call returns a whole stage or plan graph."""

    def __init__(self, spark):
        sc = spark.sparkContext
        jvm = sc._jvm
        self._sc = sc
        self._app = sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._tracker = sc.statusTracker()
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._json = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self._json.registerModule(getattr(scala_module, "MODULE$"))
        q = sc._gateway.new_array(jvm.double, len(QUANTILES))
        for i, v in enumerate(QUANTILES):
            q[i] = v
        self._quantiles = q
        self._empty = jvm.java.util.ArrayList()
        self._codegen = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
        self._compiles = jvm.org.apache.spark.metrics.source.CodegenMetrics

    def _load(self, obj):
        return json.loads(self._json.writeValueAsString(obj))

    # -- marks ---------------------------------------------------------

    def execution_mark(self) -> int:
        return int(self._sql.executionsCount())

    def codegen(self) -> tuple[int, float]:
        """(compiles so far, compile ms so far) in this JVM."""
        return (
            int(self._compiles.METRIC_COMPILATION_TIME().getCount()),
            self._codegen.compileTime() / 1e6,
        )

    def persisted_rdds(self) -> int:
        return len(self._sc._jsc.getPersistentRDDs())

    # -- jobs and stages -------------------------------------------------

    def jobs(self, group: str) -> list[dict]:
        """Jobs of one job group: stage ids and wall ms."""
        out = []
        for jid in self._tracker.getJobIdsForGroup(group):
            job = self._load(self._app.job(jid))
            wall = None
            if job.get("submissionTime") and job.get("completionTime"):
                wall = _epoch_ms(job["completionTime"]) - _epoch_ms(job["submissionTime"])
            out.append({"id": jid, "stages": job["stageIds"], "wall_ms": wall})
        return out

    def stages(self, stage_ids, summaries: bool) -> list[dict]:
        """Every attempt that ran of the given stages. With ``summaries``
        the task run-time and input-row quantiles come too."""
        out = []
        for sid in sorted(set(stage_ids)):
            try:
                attempts = self._load(
                    self._app.stageData(sid, False, self._empty, summaries, self._quantiles)
                )
            except Exception as exc:  # py4j wraps the JVM's NoSuchElementException
                if "NoSuchElementException" in str(exc):
                    continue  # a stage skipped before the store recorded it
                raise
            for sd in attempts:
                if sd["status"] == "SKIPPED":
                    continue
                row = {
                    "stage": sid,
                    "tasks": sd["numTasks"],
                    "failed_tasks": sd["numFailedTasks"],
                    "run_ms": sd["executorRunTime"],
                    "cpu_ns": sd["executorCpuTime"],
                    "gc_ms": sd["jvmGcTime"],
                    "shuffle_read_bytes": sd["shuffleReadBytes"],
                    "shuffle_write_bytes": sd["shuffleWriteBytes"],
                    "shuffle_write_ns": sd["shuffleWriteTime"],
                    "fetch_wait_ms": sd["shuffleFetchWaitTime"],
                    "spill_mem_bytes": sd["memoryBytesSpilled"],
                    "spill_disk_bytes": sd["diskBytesSpilled"],
                }
                dist = sd.get("taskMetricsDistributions")
                if summaries and dist:
                    rows = [
                        a + b
                        for a, b in zip(
                            dist["inputMetrics"]["recordsRead"],
                            dist["shuffleReadMetrics"]["readRecords"],
                        )
                    ]
                    row["task_ms_median"], row["task_ms_max"] = dist["executorRunTime"]
                    row["task_rows_max"] = rows[1]
                    row["task_rows_mean"] = (
                        sd["inputRecords"] + sd["shuffleReadRecords"]
                    ) / max(sd["numTasks"], 1)
                out.append(row)
        return out

    def cpu_ns(self, group: str) -> int:
        """Executor CPU time of every stage of one job group."""
        ids = [s for j in self.jobs(group) for s in j["stages"]]
        return sum(s["cpu_ns"] for s in self.stages(ids, summaries=False))

    # -- SQL executions --------------------------------------------------

    def executions(self, since: int) -> list[dict]:
        """SQL executions started after ``since`` (an execution_mark):
        each plan node's name and metric totals."""
        count = self.execution_mark() - since
        if count <= 0:
            return []
        out = []
        for ex in self._load(self._sql.executionsList(since, count)):
            eid = int(ex["executionId"])
            values = self._load(self._sql.executionMetrics(eid))
            nodes = [
                {
                    "name": node["name"],
                    "metrics": {
                        m["name"]: parse_metric(values[str(m["accumulatorId"])])
                        for m in node["metrics"]
                        if str(m["accumulatorId"]) in values
                    },
                }
                for node in self._load(self._sql.planGraph(eid).allNodes())
            ]
            out.append({"id": eid, "nodes": nodes})
        return out


def _epoch_ms(value) -> float:
    """A status-store date as Jackson writes it: epoch ms, or ISO text."""
    if isinstance(value, (int, float)):
        return float(value)
    from datetime import datetime

    return datetime.fromisoformat(value.replace("GMT", "+00:00")).timestamp() * 1e3


def catalyst_phases(df) -> dict[str, float]:
    """Analysis, optimization and planning ms of a DataFrame's own
    QueryExecution (``QueryExecution.tracker``); plans it if needed."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        p = phases.get(name)
        out[name] = float(p.get().durationMs()) if p.isDefined() else 0.0
    return out
