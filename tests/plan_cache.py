"""Process-wide physical-plan cache for the plan-shape suites.

test_plans.py (cartesian sweep, low-card window sweep, per-key guards)
and test_shuffle_budget.py each need every registered key's executed
plan string; building ~190 plans costs ~70-85s per sweep, and three
independent sweeps dominated the pre-commit gate. Plans are pure
functions of (key, sf_dir) within one SparkSession, so one memoized
build serves every suite in the process.
"""

from __future__ import annotations

from database_cloner_spark.registry import all_queries

_CACHE: dict[tuple[int, str, str], str] = {}


def plan_of(spark, name: str, sf_dir: str) -> str:
    key = (id(spark), name, sf_dir)
    if key not in _CACHE:
        df = all_queries()[name](spark, sf_dir)
        _CACHE[key] = df._jdf.queryExecution().executedPlan().toString()
    return _CACHE[key]


def exchange_counts(plan: str) -> tuple[int, int, int]:
    """(hash, range, single) Exchange counts of a physical-plan string —
    the triple tests/shuffle_budgets.json budgets per key."""
    return (
        plan.count("Exchange hashpartitioning"),
        plan.count("Exchange rangepartitioning"),
        plan.count("Exchange SinglePartition"),
    )
