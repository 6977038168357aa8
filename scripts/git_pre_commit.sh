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
# Scope: fires only when the STAGED diff touches a path of the gate
# table in scripts/gates.sh (query/operator code, the clone pipeline,
# the stateful stream operators, the sources of the text guards) and
# runs the suites that table names.
# Other doc, test and bench commits pay nothing. `git commit --no-verify`
# bypasses for WIP snapshots ONLY — never for a commit that adds or
# edits a registered key.
set -euo pipefail
cd "$(git rev-parse --show-toplevel)"
source scripts/gates.sh

CHANGED="$(git diff --cached --name-only)"
if grep -qE "^($QUERY|$PIPELINE|$SOURCE_TEXT)" <<<"$CHANGED"; then
  # The gate runs pytest against the WORKING TREE, so a partially
  # staged gated file would validate code that is not being committed
  # (an unstaged fix can green-light a broken staged snapshot, and
  # vice versa — r8 ADVICE). Rather than stash-juggle, refuse: gated
  # paths (the gate table's paths plus tests/) must be fully staged
  # when the gate fires. UNTRACKED gated files count too: pytest would
  # validate them while the commit lacks them entirely (the
  # import-breaks-after-commit hole).
  UNSTAGED="$( { git diff --name-only; \
                 git ls-files --others --exclude-standard; } \
               | grep -E "^($QUERY|$PIPELINE|$SOURCE_TEXT|tests/)" || true)"
  if [ -n "$UNSTAGED" ]; then
    echo "[pre-commit] REFUSING: gated files have unstaged changes, so the"
    echo "plan+parity gate would validate a tree that differs from this commit:"
    echo "$UNSTAGED"
    echo "Stage them (git add) or stash them, then retry."
    exit 1
  fi
  run_gates "$CHANGED" "[pre-commit]"
fi
