# The pre-commit gate table, sourced by scripts/git_pre_commit.sh (the
# installed git hook) and scripts/precommit_check.sh: which changed
# paths fire which test suites.
#
# - QUERY: query/operator code. Every key loads through sources/ and
#   runs in the session.py factory's conf, so those fire it too.
# - PIPELINE: the clone pipeline and the CDC batch writer
#   (streaming/cdc.py).
# - STATEFUL (inside QUERY): the stateful stream operators
#   (streaming/ops.py) and queries/windows.py, whose sessionizer their
#   batch twins use.
# - SOURCE_TEXT: everything the source-text guards of
#   tests/test_survey_registry.py read (the registry against SURVEY.md
#   and README.md, rounding, options, non-test callers).
QUERY='database_cloner_spark/(queries|functions|llm|streaming|sources)/|database_cloner_spark/(registry|session)\.py|__spark_entry__\.py'
PIPELINE='database_cloner_spark/pipeline/|database_cloner_spark/streaming/cdc\.py'
STATEFUL='database_cloner_spark/streaming/ops\.py|database_cloner_spark/queries/windows\.py'
SOURCE_TEXT='database_cloner_spark/|scripts/|bench\.py|__spark_entry__\.py|README\.md|SURVEY\.md'

# run_gates CHANGED TAG: run the suites the newline-separated paths in
# CHANGED fire, each announced on a line starting with TAG. Callers
# capture the path list first and grep it here: a `git diff | grep -q`
# pipeline under pipefail can exit 141 on SIGPIPE and silently skip a
# gate.
run_gates() {
  local changed="$1" tag="$2"
  if grep -qE "^($QUERY)" <<<"$changed"; then
    # builder edits change content signatures, so the (no-Spark, ~2 s)
    # ledger suite rides along; the budget suite reuses the plan
    # suite's cached plans; the rounding rule's cross-engine suite
    # (functions/rational.py, ~18 s) guards every ratio key's hash
    echo "$tag query/operator diff -> plan + parity + shuffle-budget + ledger + rational-rounding gates (sf0.001, ~5 min)"
    python -m pytest tests/test_plans.py tests/test_oracle_parity.py tests/test_shuffle_budget.py tests/test_ledger.py tests/test_rational_rounding.py -q
  fi
  if grep -qE "^($PIPELINE)" <<<"$changed"; then
    # a pipeline-only diff changes no key, but it can break the clone,
    # its metadata tables, reports and probes, the re-sync, or the
    # write paths' job counts
    echo "$tag clone-pipeline diff -> clone + incremental + write-path suites (~2 min)"
    python -m pytest tests/test_clone_pipeline.py tests/test_incremental.py tests/test_clone_sync_writes.py -q
  fi
  if grep -qE "^($STATEFUL)" <<<"$changed"; then
    # the stream-equals-batch and kill-and-restart suites, none of
    # which the gates above run
    echo "$tag stateful-operator diff -> tests/test_streaming.py -k stateful (8 tests, ~1 min)"
    python -m pytest tests/test_streaming.py -k stateful -q
  fi
  if grep -qE "^($SOURCE_TEXT)" <<<"$changed"; then
    # text scans and registry lockstep, no Spark session
    echo "$tag source-text diff -> tests/test_survey_registry.py (~5 s)"
    python -m pytest tests/test_survey_registry.py -q
  fi
}
