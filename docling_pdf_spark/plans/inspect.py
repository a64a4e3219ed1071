"""Plan inspection helpers used by the plan regression tests and by
hand when tuning (SURVEY.md §4.2)."""

from __future__ import annotations

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    """explain('formatted') as a string (pre-execution; AQE initial)."""
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def plan_report(df: DataFrame) -> dict[str, bool | int | list[str]]:
    """Quick scorecard of the properties that matter at scale."""
    plan = formatted_plan(df)
    pushed = [
        ln.split("PushedFilters:", 1)[1].strip()
        for ln in plan.splitlines()
        if "PushedFilters:" in ln
    ]
    return {
        "pushed_filters": pushed,
        "has_pushdown": any(p not in ("[]", "") for p in pushed),
        "broadcast_joins": plan.count("BroadcastHashJoin"),
        "sortmerge_joins": plan.count("SortMergeJoin"),
        "exchanges": plan.count("Exchange"),
        "python_stages": sum(
            plan.count(m)
            for m in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas", "MapInArrow")
        ),
        "scans": plan.count("Scan parquet") + plan.count("FileScan"),
    }
