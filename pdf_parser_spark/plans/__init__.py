"""Plan inspection helpers — assert the physical plan is the one we want.

Used by tests and bench to verify (SURVEY.md §4.3):
- filters/projections reach the parquet scan (PushedFilters / ReadSchema),
- no extra Exchange between the conv_id repartition and the window sort,
- small-side joins go broadcast.
"""
from __future__ import annotations

from pyspark.sql import DataFrame


def physical_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "formatted"
    )


def count_exchanges(df: DataFrame) -> int:
    """Exchange operators in the plan. The formatted plan names each
    operator twice (tree, then details), so only the numbered detail
    lines ``(n) …Exchange…`` are counted."""
    return sum(
        1 for line in physical_plan(df).splitlines()
        if line.startswith("(") and "Exchange" in line
    )


def has_pushed_filter(df: DataFrame, fragment: str) -> bool:
    plan = physical_plan(df)
    for line in plan.splitlines():
        if "PushedFilters" in line and fragment in line:
            return True
    return False


def is_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in physical_plan(df)
