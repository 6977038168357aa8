"""Regenerate tests/shuffle_budgets.json, the per-key shuffle budgets.

Builds each registered key's physical plan at sf0.001 (explain only, no
execution) and writes its Exchange counts as `{"q_key": [hash, range,
single]}`, keys sorted, one key per line. tests/test_shuffle_budget.py
enforces the file:

    python scripts/gen_shuffle_budget.py [--key q_foo ...]

`--key` rewrites only the named entries and keeps every other budget;
without it every entry is rewritten from the current plans.

Budgets are UPPER BOUNDS on Exchange operators visible in the sf0.001
plan: a refactor may lower a count freely (tighten the entry when you
notice), but a plan that grows past its budgeted shuffle count fails
the lockstep test and must either be fixed or have its entry
consciously raised in the same commit — the "document one shuffle,
plan three" failure mode the budgets exist to kill.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from database_cloner_spark.registry import all_queries  # noqa: E402
from database_cloner_spark.session import get_spark  # noqa: E402
from tests.plan_cache import exchange_counts, plan_of  # noqa: E402

SF = "/root/testdata/sf0.001"
BUDGETS = os.path.join(REPO, "tests", "shuffle_budgets.json")


def main(argv: list[str]) -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--key", nargs="+", default=[], help="rewrite only these keys")
    only = set(ap.parse_args(argv).key)
    budgets = {}
    if only:
        with open(BUDGETS) as f:
            budgets = json.load(f)
    queries = all_queries()
    if only - set(queries):
        ap.error(f"unregistered keys: {sorted(only - set(queries))}")
    spark = get_spark("shuffle-budget-gen", cpus="8")
    for name in queries:
        if not only or name in only:
            budgets[name] = list(exchange_counts(plan_of(spark, name, SF)))
    lines = [f"  {json.dumps(k)}: {json.dumps(v)}" for k, v in sorted(budgets.items())]
    with open(BUDGETS, "w") as f:
        f.write("{\n" + ",\n".join(lines) + "\n}\n")


if __name__ == "__main__":
    main(sys.argv[1:])
