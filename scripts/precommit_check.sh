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
# plan/parity suites can ship a red test into the snapshot. The working
# tree's diff runs the gate table's suites here too (scripts/gates.sh;
# the installed git pre-commit hook enforces the same bar at commit
# time — scripts/install_hooks.sh).
source scripts/gates.sh
run_gates "$(git diff HEAD --name-only)" "[precommit_check]"
