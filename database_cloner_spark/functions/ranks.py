"""Count-table order statistics: exact ranks over an aggregated table.

Every exact median, quantile, ECDF and rank-sum key builds the same
thing: a per-group VALUE-COUNT table, a cumulative weight over it, and
a rank pick. The contract, stated once here:

- the input is an already-aggregated `(keys, value, weight)` table, so
  the count aggregate sits below every window (the heavy pass is a
  two-phase groupBy whose exchange is bounded by value cardinality,
  never a total-order sort of raw rows — the low-cardinality window
  guard in tests/test_plans.py enforces this);
- ranks are exact integer conditions on the running weight, such as
  `cum >= (n + 1) div 2` or `2 * cum >= tot`;
- a pick returns an existing value and never interpolates, so a picked
  double passes through both engines bit-identically;
- NULL ordering is the caller's choice (pass `F.asc_nulls_last(...)`
  as `order` when the oracle sorts NULLs last).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, Window, WindowSpec
from pyspark.sql import functions as F


def cumulative(keys: Sequence[str], order: str | Column) -> WindowSpec:
    """Rows from the group's first value up to the current one."""
    frame = (Window.unboundedPreceding, Window.currentRow)
    return Window.partitionBy(*keys).orderBy(order).rowsBetween(*frame)


def whole(keys: Sequence[str]) -> WindowSpec:
    """The whole group, unordered."""
    return Window.partitionBy(*keys)


def running(
    weight: str | Column, keys: Sequence[str], order: str | Column
) -> tuple[Column, Column]:
    """(cumulative weight up to the current value, group total)."""
    total = F.sum(weight).over(whole(keys))
    return F.sum(weight).over(cumulative(keys, order)), total


def pick(value: Column, reached: Column, keys: Sequence[str]) -> Column:
    """The smallest value of the group at which `reached` holds."""
    return F.min(F.when(reached, value)).over(whole(keys))
