"""Shared text-preparation column builders (pure JVM expressions)."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Whitespace class for tokenization, written OUT explicitly instead of
# `\s`: Java regex \s is [ \t\n\x0B\f\r] but RE2 (DuckDB) \s omits \x0B,
# so the shorthand silently diverges between engine and oracle on
# vertical-tab bytes (present in real crawls). Same literal text works
# in both dialects. WS_CHARS is the same set as raw characters, for
# charset-based (non-regex) functions.
WS_CLASS = "[ \\t\\n\\r\\f\\x0B]"
WS_CHARS = " \t\n\r\f\x0b"


def tokens(text: Column) -> Column:
    """Whitespace tokenization: trim whitespace (ALL of WS_CHARS, not
    just spaces — F.trim strips 0x20 only, so a trailing newline would
    otherwise yield a phantom empty token) then split on whitespace
    RUNS. Degenerate contract: the empty/whitespace-only document
    tokenizes to [''] (size 1), matching DuckDB's split of ''.

    btrim (charset trim), not an anchored regexp_replace: same
    semantics, but the regex form cost ~+0.2s on q_dedup_minhash at
    sf0.1 (measured) while btrim is a plain two-pointer scan.

    Oracle mirror (_TOKS_SQL in queries/llm_ops.py):
    string_split_regex(trim(text, <WS_CHARS via chr()>), 'WS+')
    — adversarial-input parity pinned by tests/test_adversarial_docs.py."""
    return F.split(F.btrim(text, F.lit(WS_CHARS)), f"{WS_CLASS}+")


def n_tokens(text: Column) -> Column:
    """Token COUNT under the standard tokenizer, total on NULL text
    (NULL -> 0; empty/whitespace-only keeps the [''] -> 1 convention).
    Oracle mirror: oracle_fragments.n_tokens_sql()."""
    return F.coalesce(F.size(tokens(text)), F.lit(0)).cast("long")


# Words per shingle; the DuckDB oracles' shingle CTE reads it too.
SHINGLE_N = 3


def shingles_of_tokens(toks: Column, n: int = SHINGLE_N) -> Column:
    """Distinct n-word shingles from an ALREADY-MATERIALIZED token-array
    column. `toks` must be a plain column reference, not the split
    expression itself: an expression inlined into the transform lambda
    is re-evaluated at every shingle position (measured 7x slower —
    Catalyst does not common-subexpression-eliminate inside HOF
    lambdas). Callers project tokens in a prior select.

    Safe for SHORT inputs: with fewer than n tokens the raw
    sequence(1, size-(n-1)) would be sequence(1, 0), which Spark
    evaluates as the DESCENDING range [1, 0], and slice(toks, 0, n)
    then throws INVALID_PARAMETER_VALUE.START — so the whole transform
    is gated behind size(toks) >= n and short docs yield an empty
    shingle set instead of a runtime crash (ADVICE r1)."""
    return F.when(
        F.size(toks) >= n,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - (n - 1)),
                lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))


def normalized(text: Column) -> Column:
    """Exact-dedup normalization: lowercase, charset-trim, collapse
    whitespace runs to single spaces. Same WS_CHARS/WS_CLASS literals
    as tokens() — the earlier `F.trim` + Java `\\s+` pair diverged from
    the oracle on vertical-tab bytes (Java \\s includes \\x0B, RE2 \\s
    does not) and left non-space edge whitespace as a leading/trailing
    space artifact. Oracle mirror: oracle_fragments.normalized_sql()."""
    return F.regexp_replace(
        F.lower(F.btrim(text, F.lit(WS_CHARS))), f"{WS_CLASS}+", " "
    )
