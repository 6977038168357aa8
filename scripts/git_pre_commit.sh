#!/usr/bin/env bash
# Versioned git pre-commit hook (installed to .git/hooks/pre-commit by
# scripts/install_hooks.sh; re-run that after a fresh clone).
#
# Rule adopted after round 7, where q_text_bm25 landed ONLY in the
# end-of-round snapshot commit without the (deterministic, ~50s) plan
# suite ever running, shipping a red test_no_cartesian_products_anywhere
# into the round: A REGISTRY-TOUCHING COMMIT CANNOT LAND WITH
# test_plans.py OR test_oracle_parity.py RED.
#
# Scope: fires only when the STAGED diff touches query/operator code —
# database_cloner_spark/{queries,functions,llm,streaming,sources}/,
# registry.py, session.py or __spark_entry__.py (plan + parity gates,
# ~5 min at sf0.001; every key loads through sources/ and runs in the
# session.py factory's conf) — or
# the clone pipeline, database_cloner_spark/pipeline/ or the CDC batch
# writer streaming/cdc.py (the clone, incremental and write-path suites,
# ~2 min). A diff to the stateful stream operators, streaming/ops.py, or
# to queries/windows.py, whose sessionizer their batch twins use, also
# runs tests/test_streaming.py -k stateful (8 tests, ~1 min). Plain doc/test/bench commits pay nothing. `git commit --no-verify` bypasses for WIP snapshots ONLY —
# never for a commit that adds or edits a registered key.
set -euo pipefail
cd "$(git rev-parse --show-toplevel)"

# capture first, then grep: `git diff | grep -q` under pipefail can
# report 141 (SIGPIPE) when grep exits at the first match, silently
# skipping the gate this hook exists to enforce
# ONE pair of base patterns: QUERY (query/operator code) and PIPELINE
# (the clone pipeline); STATEFUL lies inside QUERY. TRIGGER (what makes a gate fire) and GATED
# (everything the refusal below must also cover — trigger paths plus
# tests/) both derive from them so the scopes cannot drift apart when a
# path is added.
QUERY='database_cloner_spark/(queries|functions|llm|streaming|sources)/|database_cloner_spark/(registry|session)\.py|__spark_entry__\.py'
PIPELINE='database_cloner_spark/pipeline/|database_cloner_spark/streaming/cdc\.py'
STATEFUL='database_cloner_spark/streaming/ops\.py|database_cloner_spark/queries/windows\.py'
TRIGGER="^($QUERY|$PIPELINE)"
GATED="^($QUERY|$PIPELINE|tests/)"
CHANGED="$(git diff --cached --name-only)"
if grep -qE "$TRIGGER" <<<"$CHANGED"; then
  # The gate runs pytest against the WORKING TREE, so a partially
  # staged gated file would validate code that is not being committed
  # (an unstaged fix can green-light a broken staged snapshot, and
  # vice versa — r8 ADVICE). Rather than stash-juggle, refuse: gated
  # paths must be fully staged when the gate fires. UNTRACKED gated
  # files count too: pytest would validate them while the commit
  # lacks them entirely (the import-breaks-after-commit hole).
  UNSTAGED="$( { git diff --name-only; \
                 git ls-files --others --exclude-standard; } \
               | grep -E "$GATED" || true)"
  if [ -n "$UNSTAGED" ]; then
    echo "[pre-commit] REFUSING: gated files have unstaged changes, so the"
    echo "plan+parity gate would validate a tree that differs from this commit:"
    echo "$UNSTAGED"
    echo "Stage them (git add) or stash them, then retry."
    exit 1
  fi
  if grep -qE "^($QUERY)" <<<"$CHANGED"; then
    echo "[pre-commit] staged diff touches query/operator code -> running plan + parity + shuffle-budget + ledger gates (sf0.001, ~5 min)"
    python -m pytest tests/test_plans.py tests/test_oracle_parity.py tests/test_shuffle_budget.py tests/test_ledger.py -q
  fi
  if grep -qE "^($PIPELINE)" <<<"$CHANGED"; then
    echo "[pre-commit] staged diff touches the clone pipeline -> running the clone + incremental + write-path suites (~2 min)"
    python -m pytest tests/test_clone_pipeline.py tests/test_incremental.py tests/test_clone_sync_writes.py -q
  fi
  if grep -qE "^($STATEFUL)" <<<"$CHANGED"; then
    echo "[pre-commit] staged diff touches the stateful stream operators or their sessionizer -> running tests/test_streaming.py -k stateful (8 tests, ~1 min)"
    python -m pytest tests/test_streaming.py -k stateful -q
  fi
fi
