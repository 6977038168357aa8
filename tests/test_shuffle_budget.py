"""Shuffle-budget lockstep (r8 VERDICT item 5).

tests/shuffle_budgets.json holds, per registered key, an upper bound on
each Exchange flavor visible in the sf0.001 physical plan
(`[hash, range, single]`). This suite keeps budgets and code in
lockstep BOTH ways:

- every registered key must have a budget, and every budget a key
  (a new operator cannot land unbudgeted; a deleted one cannot leave
  a stale entry);
- every key's BUILT plan must fit inside its budgeted counts — the
  "document one shuffle, plan three" regression fails here, next to the
  diff that caused it, not in a 100x scale-up.

Budgets are ≤ bounds: a plan that IMPROVES passes silently (tighten the
entry when noticed); only growth is an error.
"""

from __future__ import annotations

import json
import os

from database_cloner_spark.registry import all_queries
from tests.plan_cache import exchange_counts, plan_of

SF_DIR = "/root/testdata/sf0.001"
REGENERATE = "python scripts/gen_shuffle_budget.py --key <key> ..."

_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "shuffle_budgets.json")
with open(_PATH) as f:
    _BUDGETS = {k: tuple(v) for k, v in json.load(f).items()}


def test_inventory_lockstep_with_registry():
    registered = set(all_queries())
    budgeted = set(_BUDGETS)
    missing = registered - budgeted
    stale = budgeted - registered
    assert not missing, (
        f"keys with no shuffle budget: {sorted(missing)}; add them with {REGENERATE}"
    )
    assert not stale, f"shuffle budgets for unregistered keys: {sorted(stale)}"


def test_plans_fit_shuffle_budgets(spark):
    """Single sweep (build/explain only, no execution): each key's plan
    must not exceed its budgeted Exchange counts."""
    offenders = {}
    for name in all_queries():
        got = exchange_counts(plan_of(spark, name, SF_DIR))
        budget = _BUDGETS.get(name)
        if budget is None:
            continue  # the lockstep test reports this separately
        if any(g > b for g, b in zip(got, budget)):
            offenders[name] = {
                "plan (hash, range, single)": got,
                "budget": budget,
            }
    assert not offenders, (
        f"plans exceeding their shuffle budgets in tests/shuffle_budgets.json "
        f"(fix the plan, or consciously raise the budget with {REGENERATE}): "
        f"{offenders}"
    )
