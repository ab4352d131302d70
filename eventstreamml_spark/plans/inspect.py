"""Physical-plan inspection helpers — the engine's "did Catalyst do
what we designed for" toolkit (SURVEY §4).

The engine deliberately owns no optimizer: predicate pushdown, column
pruning, join strategy selection and whole-stage codegen are Catalyst's
job. These helpers make those properties *assertable* — used in tests
and perf work to catch regressions like a filter that stopped reaching
the parquet scan or a dimension join that stopped broadcasting.

All functions operate on the formatted/executed plan strings; nothing
here changes execution.
"""

from __future__ import annotations

import re
from collections import Counter

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "formatted"
    )


def executed_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def pushed_filters(df: DataFrame) -> list[str]:
    """Filters that reached the parquet scan (``PushedFilters: [...]``)."""
    plan = formatted_plan(df)
    out: list[str] = []
    for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", plan):
        body = m.group(1).strip()
        if body:
            out.extend(p.strip() for p in body.split(","))
    return out


def read_schema_columns(df: DataFrame) -> list[str]:
    """Columns the scan actually reads (``ReadSchema``) — column-pruning
    check: a 2-column projection must not read the whole table."""
    plan = formatted_plan(df)
    cols: list[str] = []
    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", plan):
        cols.extend(c.split(":")[0].strip() for c in m.group(1).split(",") if c.strip())
    return cols


def uses_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in formatted_plan(df) or "BroadcastNestedLoopJoin" in formatted_plan(df)


def shuffle_count(df: DataFrame) -> int:
    """Number of exchanges in the plan — the metric to minimize. Counts
    the formatted plan's numbered operator headers (each operator
    appears once there; the tree sketch above repeats them)."""
    return len(re.findall(r"\(\d+\) Exchange\b", formatted_plan(df)))


def codegen_stage_count(df: DataFrame) -> int:
    """WholeStageCodegen subtrees — wider/fewer interpreted boundaries
    is better. Under AQE codegen happens per query stage at runtime, so
    run an action on ``df`` first; this then reads the final adaptive
    plan. Falls back to explain's codegen mode (meaningful when AQE is
    off)."""
    n = len(set(re.findall(r"WholeStageCodegen \((\d+)\)", executed_plan(df))))
    if n:
        return n
    s = df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "codegen"
    )
    m = re.search(r"Found (\d+) WholeStageCodegen subtrees", s)
    return int(m.group(1)) if m else 0


#: HotSpot leaves any method with more bytecode than this to the
#: interpreter (``-XX:HugeMethodLimit``, default 8000).
JIT_METHOD_LIMIT = 8000


def _plan_without_aqe(df: DataFrame):
    """``df``'s physical plan, planned afresh with AQE off (under AQE
    the final plan and its codegen stages only exist at run time)."""
    spark = df.sparkSession
    key = "spark.sql.adaptive.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        qe = df.select("*")._jdf.queryExecution()
        qe.executedPlan()  # lazy: plan it now, while AQE is off
        return qe
    finally:
        spark.conf.set(key, prev)


def node_counts(df: DataFrame) -> Counter:
    """Physical operators of ``df`` planned with AQE off, counted by
    name (``Scan``, ``Exchange``, ``BroadcastHashJoin``, ...): one per
    numbered node of the formatted plan."""
    qe = _plan_without_aqe(df)
    plan = df._sc._jvm.PythonSQLUtils.explainString(qe, "formatted")  # type: ignore[attr-defined]
    return Counter(re.findall(r"^\(\d+\) (\w+)", plan, re.M))


def max_generated_method_bytes(df: DataFrame) -> int:
    """Bytecode size of the largest method among ``df``'s whole-stage
    codegen stages, compiled here from a plan taken with AQE off. Above
    ``JIT_METHOD_LIMIT`` that stage's per-row loop runs interpreted."""
    plan = _plan_without_aqe(df).executedPlan()
    stages = df._sc._jvm.org.apache.spark.sql.execution.debug.package.codegenStringSeq(plan)
    return max(
        (stages.apply(i)._3().maxMethodCodeSize() for i in range(stages.size())), default=0
    )
