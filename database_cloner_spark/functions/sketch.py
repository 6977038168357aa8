"""Count-Min Sketch as pure DataFrame ops — heavy-hitter frequency
estimation in fixed memory.

The 100 TB problem: "how often does each of these keys occur?" over a
stream/table too large to hold exact per-key counts for the full key
universe. The CMS answer is a d×w counter matrix (d hash rows, w
counters each) that is (a) FIXED SIZE regardless of cardinality,
(b) mergeable across partitions/days by cell-wise addition — the same
reason `bit_or` makes the Bloom filter (functions/bloom.py) a one-pass
aggregate makes `sum` work here — and (c) one-sided: an estimate NEVER
undercounts, and overcounts by at most (e/w)·N with probability 1−e^−d
(Cormode & Muthukrishnan 2005, public).

Spark-first construction, every step JVM-side:
- build: explode each key to its d (row, column) cells via salted
  `xxhash64(key, j)` — the same independent-family trick as the Bloom
  filter — and count per cell. The shuffle carries d·N 16-byte rows,
  partially combined map-side; the result is ≤ d·w cells.
- the materialized sketch is ONE row: map<int,long> keyed by
  j·w + pos (a d·w=10k-entry map is ~160 KB — broadcast-trivial).
- estimate: map-side `least` over the d probed cells of a broadcast
  map. `try_element_at` + coalesce(0): an absent cell means "never
  incremented", i.e. count 0 (and ANSI mode throws on plain
  element_at misses).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

CMS_W = 2048  # counters per hash row, w
CMS_D = 5  # hash rows, d


def _cell(key: Column, j: int) -> Column:
    """Flattened cell index j·w + pos for hash row j."""
    return F.lit(j * CMS_W) + F.pmod(F.xxhash64(key, F.lit(j)), F.lit(CMS_W))


def build_cms(keys: DataFrame, key_col: str) -> DataFrame:
    """Aggregate keys[key_col] (NULLs ignored) into a single-row sketch:
    (cms: map<long,long>) of flattened cell → count, zero cells omitted."""
    cells = keys.filter(F.col(key_col).isNotNull()).select(
        F.explode(
            F.array(*[_cell(F.col(key_col), j) for j in range(CMS_D)])
        ).alias("cell")
    )
    return (
        cells.groupBy("cell")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .agg(
            F.map_from_entries(
                F.array_sort(F.collect_list(F.struct("cell", "cnt")))
            ).alias("cms")
        )
    )


def cms_estimate(key: Column, cms: Column) -> Column:
    """Point estimate for `key`: min over the d probed cells. NULL keys
    estimate 0 (never inserted)."""
    probes = [
        F.coalesce(
            F.try_element_at(cms, _cell(key, j).cast("long")),
            F.lit(0).cast("long"),
        )
        for j in range(CMS_D)
    ]
    return F.when(key.isNull(), F.lit(0).cast("long")).otherwise(F.least(*probes))
