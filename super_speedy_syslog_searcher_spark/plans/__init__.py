"""Physical-plan inspection helpers (SURVEY.md §4).

The reference hand-implements pushdown/pruning (binary search to
--after, blockzero pattern freezing); Catalyst gives them to us — but
only if the plan is declared right.  These helpers make the plan
shape *testable*: the test suite asserts that dt-range predicates
reach the parquet scan and that broadcast joins stay broadcast.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def explain_str(df: DataFrame, mode: str = "formatted") -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), mode
    )


def has_pushed_filter(df: DataFrame, fragment: str) -> bool:
    """True if the parquet scan carries a pushed filter mentioning
    `fragment` (e.g. a column name) — predicate reached the source."""
    plan = explain_str(df)
    for line in plan.splitlines():
        if "PushedFilters" in line and fragment in line:
            return True
    return False


def has_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in explain_str(df)

