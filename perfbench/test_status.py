"""Pins the Spark 4.1.2 status-store call shapes that status.py uses.

    python3 -m pytest perfbench/test_status.py -q

A Spark upgrade that changes one of these signatures fails here, not as a
silently empty per-layer table.
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from status import StatusStores, catalyst_phases, parse_metric  # noqa: E402

# (class, method, parameter types) exactly as Java reflection prints them.
SHAPES = [
    ("org.apache.spark.status.AppStatusStore", "stageData",
     ["int", "boolean", "java.util.List", "boolean", "double[]"]),
    ("org.apache.spark.status.AppStatusStore", "stageList",
     ["java.util.List", "boolean", "boolean", "double[]", "java.util.List"]),
    ("org.apache.spark.status.AppStatusStore", "job", ["int"]),
    ("org.apache.spark.sql.execution.ui.SQLAppStatusStore", "executionsList", ["int", "int"]),
    ("org.apache.spark.sql.execution.ui.SQLAppStatusStore", "executionsCount", []),
    ("org.apache.spark.sql.execution.ui.SQLAppStatusStore", "executionMetrics", ["long"]),
    ("org.apache.spark.sql.execution.ui.SQLAppStatusStore", "planGraph", ["long"]),
]


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    session = (
        SparkSession.builder.master("local[2]")
        .appName("perfbench-status-test")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "2")
        .getOrCreate()
    )
    yield session
    session.stop()


def _signatures(jvm, cls, name):
    klass = jvm.java.lang.Class.forName(cls)
    return [
        [t.getTypeName() for t in m.getParameterTypes()]
        for m in klass.getMethods()
        if m.getName() == name
    ]


@pytest.mark.parametrize("cls,name,params", SHAPES)
def test_call_shapes(spark, cls, name, params):
    assert params in _signatures(spark.sparkContext._jvm, cls, name)


def test_reads_one_job_group(spark):
    import pandas as pd

    sc = spark.sparkContext
    stores = StatusStores(spark)
    mark = stores.execution_mark()
    compiles0, _ = stores.codegen()
    sc.setJobGroup("status-test", "status test")

    def double(batches):
        for b in batches:
            yield pd.DataFrame({"x": b["x"] * 2})

    df = (
        spark.range(1000).selectExpr("id % 7 AS k", "id AS x").groupBy("k").count()
        .selectExpr("count AS x").mapInPandas(double, "x long")
    )
    assert len(df.collect()) == 7
    sc.setJobGroup("status-test-done", "")

    jobs = stores.jobs("status-test")
    assert jobs and all(j["wall_ms"] is not None for j in jobs)
    stages = stores.stages([s for j in jobs for s in j["stages"]], summaries=True)
    assert stages and sum(s["tasks"] for s in stages) >= 2
    assert all(s["task_ms_max"] >= s["task_ms_median"] for s in stages)
    assert all(s["task_rows_max"] >= s["task_rows_mean"] for s in stages)
    assert sum(s["shuffle_write_bytes"] for s in stages) > 0
    assert stores.cpu_ns("status-test") > 0

    nodes = [n for e in stores.executions(mark) for n in e["nodes"]]
    py = [n for n in nodes if n["name"] == "MapInPandas"]
    assert py and py[0]["metrics"]["number of output rows"] == 7
    assert py[0]["metrics"]["data sent to Python workers"] > 0
    assert stores.codegen()[0] > compiles0
    assert set(catalyst_phases(df)) == {"analysis", "optimization", "planning"}
    assert stores.persisted_rdds() == 0


@pytest.mark.parametrize(
    "text,value",
    [
        ("1,024", 1024.0),
        ("total (min, med, max (stageId: taskId))\n7.0 KiB (1.0 KiB, 2.0 KiB, 4.0 KiB)", 7168.0),
        ("total (min, med, max (stageId: taskId))\n1.5 s (0 ms, 1 ms, 1.5 s (stage 1.0: task 2))", 1500.0),
        ("total (min, med, max)\n12 ms (1 ms, 4 ms, 7 ms)", 12.0),
    ],
)
def test_parse_metric(text, value):
    assert parse_metric(text) == value
