"""Physical-plan auditing.

Scale discipline is enforced here, not hoped for: tests assert that
filters reach the parquet scan (PushedFilters), projections prune
columns (ReadSchema), dimension joins broadcast, candidate-pair
operators never degenerate into cartesian products, and the hot path
stays inside WholeStageCodegen.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    """The formatted physical plan (what ``explain('formatted')`` prints)."""
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "formatted"
    )


def simple_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "simple"
    )


def pushed_filters(df: DataFrame) -> list[str]:
    """All PushedFilters entries across scans."""
    plan = formatted_plan(df)
    out: list[str] = []
    for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", plan):
        if m.group(1).strip():
            out.extend(s.strip() for s in m.group(1).split(","))
    return out


def read_schemas(df: DataFrame) -> list[str]:
    """ReadSchema struct strings per scan (column pruning evidence)."""
    plan = formatted_plan(df)
    return [m.group(1) for m in re.finditer(r"ReadSchema: (struct<[^>]*>)", plan)]


def has_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in simple_plan(df)


def has_cartesian(df: DataFrame) -> bool:
    plan = simple_plan(df)
    return "CartesianProduct" in plan


def has_broadcast_nested_loop(df: DataFrame) -> bool:
    return "BroadcastNestedLoopJoin" in simple_plan(df)


def has_window(df: DataFrame) -> bool:
    """True when the physical plan contains a Window operator (the
    one-partition-window smell check when the window is unpartitioned;
    bounded-input windows are fine and tests say so explicitly)."""
    return "Window" in simple_plan(df)


def shuffle_count(df: DataFrame) -> int:
    """Number of exchanges in the plan (each is a full shuffle)."""
    return simple_plan(df).count("Exchange hashpartitioning") + simple_plan(
        df
    ).count("Exchange rangepartitioning")


def codegen_stage_count(df: DataFrame) -> int:
    """Number of WholeStageCodegen spans in the EXECUTED plan.

    This is an ACTION (runs the query): under AQE the final plan — and
    its codegen stages — only exists after execution.
    """
    df.collect()  # count() would wrap a new plan; collect finalizes THIS one
    text = df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    return len(set(re.findall(r"\*\((\d+)\)", text)))
