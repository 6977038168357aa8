"""Z-order (Morton) interleaving — multi-dimensional data layout for
file skipping.

The 100 TB problem a single sort key cannot solve: parquet/Delta file
skipping works off per-file min/max stats, and sorting by column A
makes every file span the FULL range of column B — a filter on B prunes
nothing. Interleaving the bits of A and B into one Morton code and
sorting by THAT bounds every file to a small rectangle in (A, B) space,
so range filters on EITHER dimension prune files (the technique behind
Delta/Databricks OPTIMIZE ZORDER and ClickHouse/DuckDB morton
encodings — all public; Morton 1966).

Spark-first: the code is a pure JVM-side bit expression (shift / and /
or over longs — whole-stage-codegen friendly, no UDF); a writer lays
files out with `repartitionByRange(z)` + `sortWithinPartitions(z)`, one
range shuffle that buys min/max-prunable files on every interleaved
dimension. q_sort_zorder sorts by the code and checks every value
against the DuckDB oracle.
"""

from __future__ import annotations

from functools import reduce
from operator import add

from pyspark.sql import Column
from pyspark.sql import functions as F

Z_BITS = 8  # low bits of each input that the code interleaves


def z_value(a: Column, b: Column) -> Column:
    """Morton code of the low Z_BITS bits of each input: a's bit i lands
    at position 2i, b's at 2i+1. Inputs are long-cast; callers quantize
    wider domains (rank, bucket, day-number) down to Z_BITS bits first —
    & masking keeps only the low bits, so out-of-range values wrap
    rather than error (layout, not semantics)."""
    a, b = a.cast("long"), b.cast("long")
    terms = [
        F.shiftleft(F.shiftright(a, i).bitwiseAND(F.lit(1)), 2 * i)
        for i in range(Z_BITS)
    ] + [
        F.shiftleft(F.shiftright(b, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        for i in range(Z_BITS)
    ]
    return reduce(add, terms)


def z_value_sql(a: str, b: str) -> str:
    """The identical Morton code as ANSI SQL (shift/mask/multiply —
    runs on DuckDB verbatim), so the oracle computes the same longs."""
    terms = [f"((({a} >> {i}) & 1) * {1 << (2 * i)})" for i in range(Z_BITS)] + [
        f"((({b} >> {i}) & 1) * {1 << (2 * i + 1)})" for i in range(Z_BITS)
    ]
    return "(" + " + ".join(terms) + ")"
