"""Physical-plan introspection helpers.

The 100 TB mandate is enforced here: tests assert that filters reach the
parquet scan (PushedFilters), small dims broadcast, hot paths stay in
whole-stage codegen, and no row-at-a-time Python UDF sneaks into a
relational plan. ``explain("formatted")`` output is the ground truth for
those; ``unpartitioned_windows`` walks the JVM plan tree instead.
"""

from __future__ import annotations

import io
from contextlib import redirect_stdout

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    # Ask the JVM for the explain string directly instead of capturing
    # df.explain()'s print via redirect_stdout: the redirect is
    # process-global (NOT thread-safe — concurrent captures interleave),
    # and the direct call is what lets tests sweep hundreds of plans on
    # a thread pool (tests/test_plans.py).
    try:
        jqe = df._jdf.queryExecution()
        mode = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
        return jqe.explainString(mode)
    except Exception:  # pragma: no cover - non-classic sessions
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        return buf.getvalue()


def has_pushed_filters(df: DataFrame) -> bool:
    plan = formatted_plan(df)
    for line in plan.splitlines():
        if "PushedFilters:" in line and "PushedFilters: []" not in line:
            return True
    return False


def pruned_columns(df: DataFrame) -> list[str]:
    """Columns actually read from parquet (ReadSchema), to assert column
    pruning."""
    plan = formatted_plan(df)
    cols: list[str] = []
    for line in plan.splitlines():
        if "ReadSchema:" in line:
            schema = line.split("ReadSchema:", 1)[1].strip()
            inner = schema[schema.find("<") + 1 : schema.rfind(">")]
            for part in inner.split(","):
                if ":" in part:
                    cols.append(part.split(":")[0].strip())
    return cols


def uses_broadcast_join(df: DataFrame) -> bool:
    plan = formatted_plan(df)
    return "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def has_python_udf(df: DataFrame) -> bool:
    plan = formatted_plan(df)
    return "BatchEvalPython" in plan or "ArrowEvalPython" in plan


def codegen_stage_count(df: DataFrame) -> int:
    """Count whole-stage-codegen subtrees. Uses explain('codegen') —
    under AQE the formatted plan hides codegen annotation until runtime."""
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("codegen")
    text = buf.getvalue()
    marker = "WholeStageCodegen subtrees"
    for line in text.splitlines():
        if marker in line:  # "Found <N> WholeStageCodegen subtrees."
            for tok in line.split():
                if tok.isdigit():
                    return int(tok)
    return text.count("*(")


def unpartitioned_windows(df: DataFrame) -> list[str]:
    """The window operators of ``df``'s physical plan (subqueries and
    adaptive stages included) that have no PARTITION BY, one line each.
    Such a window gathers its whole input into one task, which is
    data-sized unless the input is bounded. Walks the JVM plan tree: the
    formatted text puts ``SinglePartition`` on an ``Arguments:`` line
    away from the exchange it belongs to."""
    jvm = df.sparkSession._jvm
    window_base = jvm.java.lang.Class.forName(
        "org.apache.spark.sql.execution.window.WindowExecBase")
    found: list[str] = []
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        if node.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
            stack.append(node.inputPlan())
            continue
        if window_base.isInstance(node) and node.partitionSpec().isEmpty():
            found.append(node.simpleString(200))
        for seq in (node.children(), node.subqueries()):
            stack.extend(seq.apply(i) for i in range(seq.size()))
    return found
