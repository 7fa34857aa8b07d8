"""Physical-plan inspection utilities.

The scale contract (SCALE.md) makes claims about plan shape — filters
reach the scan, small dims broadcast, fact-fact joins sort-merge, no
redundant exchanges.  These helpers turn those claims into assertions so
tests/test_plan_invariants.py keeps them true as queries evolve.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def executed_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def scan_pushed_filters(df: DataFrame) -> list[str]:
    """DataFilters / PushedFilters entries of every parquet scan node."""
    out = []
    for line in executed_plan(df).splitlines():
        m = re.search(r"(?:Data|Pushed)Filters: \[(.*?)\]", line)
        if m and m.group(1):
            out.append(m.group(1))
    return out


def count_nodes(df: DataFrame, node: str) -> int:
    return len(re.findall(rf"\b{re.escape(node)}\b", executed_plan(df)))


def join_strategies(df: DataFrame) -> list[str]:
    """Join operator names in execution order."""
    return re.findall(
        r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|BroadcastNestedLoopJoin|CartesianProduct)",
        executed_plan(df),
    )


def num_exchanges(df: DataFrame) -> int:
    """Shuffle exchanges in the plan (BroadcastExchange excluded — it is a
    broadcast, not a shuffle)."""
    plan = executed_plan(df)
    return len(re.findall(r"\bExchange\b", plan)) - len(
        re.findall(r"\bBroadcastExchange\b", plan)
    )


def assert_filter_pushed(df: DataFrame, fragment: str) -> None:
    pushed = scan_pushed_filters(df)
    assert any(fragment in p for p in pushed), (
        f"expected a scan filter containing {fragment!r}; scans have: {pushed}"
    )


def assert_join_strategy(df: DataFrame, *expected: str) -> None:
    got = join_strategies(df)
    assert list(expected) == got, f"expected joins {list(expected)}, plan has {got}"


def assert_max_exchanges(df: DataFrame, n: int) -> None:
    got = num_exchanges(df)
    assert got <= n, f"plan has {got} shuffle exchanges, expected <= {n}"
