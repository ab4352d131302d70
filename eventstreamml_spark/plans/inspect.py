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
