#!/usr/bin/env bash
# Pre-commit bar for ANY registry change (new/edited query key or
# oracle). Rule adopted after round 5, where a
# never-executed key (q_bloom_probe) landed in the final snapshot commit
# and broke CORRECTNESS, the driver bench (rc 1), and 6 test files'
# collection in one stroke: NO KEY LANDS UNEXECUTED.
#
# Usage: scripts/precommit_check.sh [key ...]
#   With keys: driver_sim runs exactly those keys (plain SparkSession +
#   DuckDB oracle side-by-side — what the real driver does).
#   Without keys: registry lockstep and table-usage tests only (for commits
#   that do not add or change keys).
set -euo pipefail
cd "$(dirname "$0")/.."

# The end-to-end streaming CDC check (scripts/streaming_check.py — real
# readStream micro-batches over the sf0.01 events feed, checksummed
# against the batch twin, ~40s) runs BY DEFAULT since round 8: behind
# the old opt-in --streaming flag it could silently rot between rounds
# (r7 verdict #7). --no-streaming skips it for tight inner loops that
# touch no streaming code; --streaming is accepted as a no-op.
STREAMING=1
if [ "${1:-}" = "--streaming" ]; then
  shift
elif [ "${1:-}" = "--no-streaming" ]; then
  STREAMING=0
  shift
fi

if [ "$#" -gt 0 ]; then
  python scripts/driver_sim.py /root/testdata/sf0.01 "$@"
fi
if [ "$STREAMING" = "1" ]; then
  python scripts/streaming_check.py /root/testdata/sf0.01
fi
python -m pytest tests/test_survey_registry.py \
  tests/test_table_usage.py::test_every_key_reads_known_tables -q

# r7 lesson (q_text_bm25): a key that lands without the deterministic
# plan/parity suites can ship a red test into the snapshot. If the
# working tree touches query/operator code, run the plan, parity and
# shuffle-budget gates here too (the installed git pre-commit hook
# enforces the same bar at commit time — scripts/install_hooks.sh);
# the budget suite reuses the plan suite's cached plans. The ledger
# suite (no Spark, ~2 s) rides along because builder edits change
# content signatures.
# QUERY, PIPELINE and STATEFUL are the base patterns
# scripts/git_pre_commit.sh uses; keep the two scripts' copies equal.
QUERY='database_cloner_spark/(queries|functions|llm|streaming|sources)/|database_cloner_spark/(registry|session)\.py|__spark_entry__\.py'
PIPELINE='database_cloner_spark/pipeline/|database_cloner_spark/streaming/cdc\.py'
STATEFUL='database_cloner_spark/streaming/ops\.py|database_cloner_spark/queries/windows\.py'
# capture-then-grep: a `git | grep -q` pipeline under pipefail can
# exit 141 on SIGPIPE and silently skip the gate
CHANGED="$(git diff HEAD --name-only)"
if grep -qE "^($QUERY)" <<<"$CHANGED"; then
  echo "[precommit_check] query/operator diff detected -> plan + parity + shuffle-budget + ledger gates (sf0.001)"
  python -m pytest tests/test_plans.py tests/test_oracle_parity.py tests/test_shuffle_budget.py tests/test_ledger.py -q
fi
# A pipeline-only diff changes no key, but it can break the clone,
# its metadata tables, reports and probes, the re-sync, or the write
# paths' job counts (the CDC batch writer in streaming/cdc.py among
# them): run the clone, incremental and write-path suites.
if grep -qE "^($PIPELINE)" <<<"$CHANGED"; then
  echo "[precommit_check] clone-pipeline diff detected -> clone + incremental + write-path suites"
  python -m pytest tests/test_clone_pipeline.py tests/test_incremental.py tests/test_clone_sync_writes.py -q
fi
# The stateful stream operators (streaming/ops.py) and the sessionizer
# their batch twins use (queries/windows.py): run the stream-equals-
# batch and kill-and-restart suites, none of which the gates above run.
if grep -qE "^($STATEFUL)" <<<"$CHANGED"; then
  echo "[precommit_check] stateful-operator diff detected -> stateful stream suites (8 tests)"
  python -m pytest tests/test_streaming.py -k stateful -q
fi
