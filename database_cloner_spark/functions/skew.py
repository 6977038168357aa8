"""Skew mitigation: salting for hot keys.

AQE's skew-join splitting (on by default in session.py) handles most
runtime skew, but two shapes still need explicit salting at 100 TB:

- aggregation where one key holds a large fraction of all rows (AQE
  splits skewed JOIN partitions, not skewed AGG partitions);
- joins against a side too big to broadcast where a handful of keys
  dominate (salt the skewed side, explode the other).

Both helpers are pure DataFrame rewrites — results are exactly equal to
the unsalted form (asserted in tests/test_skew.py), they just bound the
per-task key volume to ~1/n_salts.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _content_salt(df: DataFrame, n_salts: int) -> Column:
    """Salt derived from STABLE row content, never from
    monotonically_increasing_id(): mid-ids depend on partition layout, so
    if a shuffle-map task is recomputed after a partial fetch, rows would
    re-salt into different reducers and be double-counted or lost. A
    content hash assigns every row the same salt on every recomputation
    (the determinism-under-retry rule sampling.py follows). Identical
    rows share a salt — harmless for aggregation (their partials merge
    anyway) and bounded for joins by payload diversity."""
    return F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]), F.lit(n_salts))


def salted_agg(
    df: DataFrame,
    keys: Sequence[str],
    aggs: Sequence[Column],
    n_salts: int = 16,
) -> DataFrame:
    """Two-phase aggregation with an explicit salt: rows are first
    aggregated on (keys..., salt) — n_salts partial states per hot key,
    spread across tasks — then the partials are combined on the true
    keys. Only works for decomposable aggregates; the caller passes the
    PARTIAL aggregate expressions and this function re-aggregates each
    aliased partial column with sum() in phase 2 (count/sum; min/max
    would re-aggregate with min/max — extend as needed).

    Spark's own hash aggregate is already two-phase per PARTITION; the
    salt additionally splits a single hot key's final-phase state across
    n_salts reducers, removing the one-reducer bottleneck.

    MEASURED caveat (scripts/measure_skew.py, round 7): for plain
    decomposable aggregates the map-side partial already collapses a
    50%-hot key to one row per map task, so the final reducer merges
    n_map_tasks partials regardless of skew — unsalted straggler 219ms
    vs 246ms salted on the 4M-row fixture. Reach for this helper only
    when the partial state itself is the bottleneck (buffer-heavy
    aggregates, or inputs already one-row-per-key so partials can't
    reduce); otherwise the extra shuffle is pure cost.
    """
    salt = _content_salt(df, n_salts)
    partial = (
        df.withColumn("__salt", salt)
        .groupBy(*keys, "__salt")
        .agg(*aggs)
    )
    partial_cols = [c for c in partial.columns if c not in (*keys, "__salt")]
    return partial.groupBy(*keys).agg(
        *[F.sum(c).alias(c) for c in partial_cols]
    )


def salted_join(
    skewed: DataFrame, other: DataFrame, on: str, n_salts: int = 16
) -> DataFrame:
    """Inner equi-join where `skewed` has hot values of `on` and `other` is
    too big to broadcast: append a random salt to the skewed side's key
    and replicate `other` n_salts times (explode), so one hot key's rows
    land in n_salts different shuffle partitions instead of one.
    Replication multiplies the small side's shuffle volume by n_salts —
    use only when AQE's skew splitting isn't available (e.g. the join is
    followed by an aggregation that must see the skewed key whole).
    Result is exactly the unsalted join (column set preserved).

    MEASURED (scripts/measure_skew.py, round 7, 50%-hot 4M-row fixture):
    straggler task 1245ms -> 392ms (3.2x), wall 1.74s -> 1.00s; and AQE
    skew split genuinely does NOT fire on the join->agg-on-the-same-key
    shape (straggler stayed ~1.0s with it enabled), confirming the
    condition above by measurement, not prose."""
    salt = _content_salt(skewed, n_salts)
    left = skewed.withColumn("__salt", salt.cast("int"))
    right = other.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    )
    out = left.join(right, [on, "__salt"])
    return out.drop("__salt")
