"""Order statistics over groups: exact rank picks over an aggregated
table, and per-group top-k over rows.

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

Latest-per-key, argmax, per-group sample and per-probe top-k filters
go through `top`: a row_number within the group, kept where
`rank <= k`. Its contract:

- the caller's `order` is TOTAL within each group (end it on a unique
  column), so the kept rows are the same on every engine and run;
- `k` is a Python int, and the filter is `rank <= k` on it: that
  literal form is what lets Catalyst plan a partial WindowGroupLimit
  (a per-task top-k heap) below the exchange and a final one after
  it, so the shuffle carries at most k rows per group per task. A
  column-valued k plans a full per-group sort instead.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window, WindowSpec
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


def top(
    df: DataFrame,
    keys: Sequence[str | Column],
    order: Sequence[str | Column],
    k: int = 1,
    rank: str | None = None,
) -> DataFrame:
    """The rows ranked 1..k within each `keys` group under `order`.
    The rank column is dropped unless `rank` names it."""
    name = rank or "__rank"
    while rank is None and name in df.columns:
        name += "_"
    w = Window.partitionBy(*keys).orderBy(*order)
    ranked = df.withColumn(name, F.row_number().over(w))
    ranked = ranked.filter(F.col(name) <= k)
    return ranked if rank else ranked.drop(name)
