"""Physical-plan inspection helpers — the `.explain()` feedback loop
as assertable code: the executed plan as a string, and the
scale-survival invariant (SURVEY.md §4) that hot paths never fall
back to row-at-a-time Python. Used by tests and available to users
auditing their own compositions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def executed_plan(df: DataFrame) -> str:
    """The physical plan as a string (post-optimization, pre-AQE)."""
    return df._jdf.queryExecution().executedPlan().toString()


def assert_no_python_eval(df: DataFrame) -> None:
    """No row-at-a-time or Arrow Python eval in the plan (Pandas UDF
    nodes like MapInPandas are allowed only where declared)."""
    plan = executed_plan(df)
    for node in ("BatchEvalPython", "ArrowEvalPython"):
        if node in plan:
            raise AssertionError(f"{node} found in plan:\n{plan}")

