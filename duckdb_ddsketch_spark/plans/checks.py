"""Physical-plan assertions: executable documentation of the scale design.

These helpers parse ``explain`` output so tests can pin the properties that
matter at 100 TB — column pruning, filter pushdown, exchange (shuffle)
counts, partial aggregation, and the absence of row-at-a-time Python —
and fail loudly if a refactor regresses the plan.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame

__all__ = [
    "formatted_plan",
    "exchange_count",
    "scan_read_columns",
    "pushed_filters",
    "has_partial_aggregation",
    "python_eval_nodes",
    "assert_scan_pruned",
]


def formatted_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "formatted"
    )


def exchange_count(df: DataFrame) -> int:
    """Number of shuffle exchanges (excludes broadcast exchanges)."""
    plan = formatted_plan(df)
    return len(re.findall(r"\(\d+\) Exchange\b", plan))


def broadcast_exchange_count(df: DataFrame) -> int:
    plan = formatted_plan(df)
    return len(re.findall(r"\(\d+\) BroadcastExchange\b", plan))


def scan_read_columns(df: DataFrame, table_substr: str) -> list[str]:
    """Columns actually read by the parquet scan whose path contains
    ``table_substr`` (from the ReadSchema line)."""
    plan = formatted_plan(df)
    for block in plan.split("\n\n"):
        if "Scan parquet" in block and table_substr in block:
            m = re.search(r"ReadSchema: struct<([^>]*)>", block)
            if m:
                return [c.split(":")[0] for c in m.group(1).split(",") if c]
    return []


def pushed_filters(df: DataFrame, table_substr: str) -> str:
    plan = formatted_plan(df)
    for block in plan.split("\n\n"):
        if "Scan parquet" in block and table_substr in block:
            m = re.search(r"PushedFilters: \[([^\]]*)\]", block)
            if m:
                return m.group(1)
    return ""


def has_partial_aggregation(df: DataFrame) -> bool:
    """True when at least one hash aggregate runs partial_* functions
    (map-side combine before the shuffle)."""
    return "partial_" in formatted_plan(df)


def python_eval_nodes(df: DataFrame) -> list[str]:
    """Python execution nodes in the plan, by their PySpark 4.1 names.
    ``ArrowEvalPython`` / ``ArrowAggregatePython`` (a grouped-agg pandas or
    Arrow UDAF) / ``ArrowWindowPython`` / ``MapInArrow`` / ``MapInPandas``
    / ``FlatMapGroupsInPandas`` are the vectorized (acceptable) forms;
    ``BatchEvalPython`` is row-at-a-time and must never appear."""
    plan = formatted_plan(df)
    return re.findall(
        r"(BatchEvalPython|ArrowEvalPython|ArrowAggregatePython|"
        r"ArrowWindowPython|MapInPandas|MapInArrow|FlatMapGroupsInPandas)",
        plan,
    )


def assert_scan_pruned(df: DataFrame, table_substr: str, expected_cols: set[str]):
    cols = set(scan_read_columns(df, table_substr))
    assert cols == expected_cols, (
        f"scan of {table_substr} reads {sorted(cols)}, expected {sorted(expected_cols)}"
    )
