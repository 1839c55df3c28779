"""Physical-plan inspection helpers.

The scale story lives in the physical plan: filters pushed to the scan,
small sides broadcast, top-k as TakeOrderedAndProject, window rank
limits partial before the exchange, IVF probes as partition filters.
These helpers make those properties assertable in tests so perf
regressions fail CI, not production.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def physical_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def assert_in_plan(df: DataFrame, *fragments: str) -> None:
    plan = physical_plan(df)
    missing = [f for f in fragments if f not in plan]
    if missing:
        raise AssertionError(
            f"plan missing {missing}; got:\n{plan[:4000]}"
        )


def assert_not_in_plan(df: DataFrame, *fragments: str) -> None:
    plan = physical_plan(df)
    present = [f for f in fragments if f in plan]
    if present:
        raise AssertionError(
            f"plan unexpectedly contains {present}; got:\n{plan[:4000]}"
        )


def scan_columns(df: DataFrame) -> list[str]:
    """Column names appearing in the parquet ReadSchema (pruning check)."""
    import re

    plan = physical_plan(df)
    cols: list[str] = []
    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", plan):
        for part in m.group(1).split(","):
            name = part.split(":")[0].strip()
            if name:
                cols.append(name)
    return cols
