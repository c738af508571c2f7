"""Physical-plan inspection helpers (SURVEY.md §4).

The engine's scale posture is enforced as *assertions on plans*, not
hopes: filters/projections must reach the parquet scan, dim joins must
broadcast, top-k must be TakeOrderedAndProject, aggregations must have
a map-side partial phase. tests/test_plans.py pins these so a refactor
that silently de-optimizes a plan fails CI.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def physical_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def formatted_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "formatted"
    )


def has_pushed_filters(df: DataFrame) -> bool:
    """True if the parquet scan received pushed predicates."""
    plan = formatted_plan(df)
    for line in plan.splitlines():
        if "PushedFilters" in line and "PushedFilters: []" not in line:
            return True
    return False


def read_schema_columns(df: DataFrame) -> list[str]:
    """Columns actually read from parquet (column-pruning check)."""
    plan = formatted_plan(df)
    cols: list[str] = []
    for line in plan.splitlines():
        if "ReadSchema" in line:
            inside = line.split("struct<", 1)[-1].rsplit(">", 1)[0]
            cols.extend(
                f.split(":")[0].strip() for f in inside.split(",") if ":" in f
            )
    return cols


def uses_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in physical_plan(df)


def uses_take_ordered(df: DataFrame) -> bool:
    return "TakeOrderedAndProject" in physical_plan(df)


def has_partial_aggregation(df: DataFrame) -> bool:
    """Hash aggregation with a map-side partial phase (two HashAggregate
    nodes around the exchange)."""
    return physical_plan(df).count("HashAggregate") >= 2


def count_shuffles(df: DataFrame) -> int:
    """Number of shuffle exchanges in the plan — the scale currency."""
    return physical_plan(df).count("Exchange hashpartitioning") + physical_plan(
        df
    ).count("Exchange rangepartitioning")
