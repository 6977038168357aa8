"""§2.4 Aggregations (SURVEY.md).

The reference's aggregate surface is counts: filtered scalar counts
(clone_databases.sh:632-633), catalog-slice counts (:510-511), summed
totals (:643), success tallies (:1026-1027), and boolean existence
probes (:228,:616). Plus the [V]-tier fidelity checksums the reference's
copy contract implies, and [X]-tier approx-distinct/rollup for scale.

All grouped aggregates here are two-phase (partial map-side combine,
then final after a shuffle on the group keys) — Spark's HashAggregateExec
does this automatically, so a 100 TB input shuffles only the partial
aggregate states, not the rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from database_cloner_spark.functions import ranks
from database_cloner_spark.registry import register
from database_cloner_spark.sources import load


_ORACLE_COUNT_FILTERED = """
SELECT COUNT(*) AS active_connections
FROM events
WHERE event_type = 'error' AND value > 50.0
"""


@register("q_agg_count_filtered", oracle=_ORACLE_COUNT_FILTERED, tier="C")
def q_agg_count_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered scalar count — the active-connections gate
    (clone_databases.sh:632-633). Filter pushes to the scan; count is a
    partial-final pair with a 1-row exchange."""
    return (
        load(spark, sf_dir, "events")
        .filter((F.col("event_type") == "error") & (F.col("value") > 50.0))
        .agg(F.count("*").alias("active_connections"))
    )


_ORACLE_COUNT_SCHEMA = """
SELECT COUNT(*) AS n_tables FROM customer WHERE c_mktsegment = 'MACHINERY'
"""


@register("q_agg_count_schema", oracle=_ORACLE_COUNT_SCHEMA, tier="C")
def q_agg_count_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog-slice count: `count(*) FROM information_schema.tables WHERE
    table_schema=...` (clone_databases.sh:510-511)."""
    return (
        load(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "MACHINERY")
        .agg(F.count("*").alias("n_tables"))
    )


_ORACLE_COUNT_BY_GROUP = """
SELECT event_type, COUNT(*) AS n FROM events GROUP BY event_type
"""


@register("q_agg_count_by_group", oracle=_ORACLE_COUNT_BY_GROUP, tier="C")
def q_agg_count_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group connection counts — the grouped form of the per-db count
    loop (clone_databases.sh:632-641). One shuffle on the group key."""
    return load(spark, sf_dir, "events").groupBy("event_type").agg(F.count("*").alias("n"))


_ORACLE_SUM_SCALAR = """
SELECT
  CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
       + SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
       AS BIGINT) AS total_connections
FROM events
"""


@register("q_agg_sum_scalar", oracle=_ORACLE_SUM_SCALAR, tier="C")
def q_agg_sum_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Summed total across two filtered counts: `total = source + target`
    (clone_databases.sh:643). Conditional aggregation — one pass, no
    second scan."""
    ev = load(spark, sf_dir, "events")
    clicks = F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
    views = F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
    return ev.agg((clicks + views).alias("total_connections"))


_ORACLE_EXISTS = """
SELECT (COUNT(*) > 0) AS found FROM orders WHERE o_orderstatus = 'P'
"""


@register("q_agg_exists", oracle=_ORACLE_EXISTS, tier="C")
def q_agg_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Existence verdict — `grep -q 1` over a probe query result
    (clone_databases.sh:228,:616). Boolean scalar."""
    return (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "P")
        .agg((F.count("*") > 0).alias("found"))
    )


_ORACLE_MINMAX_CHECKSUM = """
SELECT
  COUNT(*)                         AS cnt,
  CAST(MIN(o_orderkey) AS BIGINT)  AS min_key,
  CAST(MAX(o_orderkey) AS BIGINT)  AS max_key,
  ROUND(SUM(o_totalprice), 2)      AS sum_price,
  COUNT(DISTINCT o_custkey)        AS n_custs
FROM orders
"""


@register("q_agg_minmax_checksum", oracle=_ORACLE_MINMAX_CHECKSUM, tier="V")
def q_agg_minmax_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-table fidelity checksum (count/min/max/sum/distinct) — the row-level
    verification the reference's copy contract implies but never performs
    (clone_databases.sh:246 TEMPLATE, :817-818 nsFrom/nsTo)."""
    return load(spark, sf_dir, "orders").agg(
        F.count("*").alias("cnt"),
        F.min("o_orderkey").cast("bigint").alias("min_key"),
        F.max("o_orderkey").cast("bigint").alias("max_key"),
        F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
        F.countDistinct("o_custkey").alias("n_custs"),
    )


_ORACLE_DISTINCT = """
SELECT COUNT(DISTINCT l_orderkey) AS n_keys FROM lineitem
"""


@register("q_agg_distinct", oracle=_ORACLE_DISTINCT, tier="V")
def q_agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct key count — duplicate-key detection after a clone
    (grounded in clone_databases.sh:817-818 `--drop`)."""
    return load(spark, sf_dir, "lineitem").agg(F.countDistinct("l_orderkey").alias("n_keys"))


# Approximate distinct is checked against the EXACT oracle with a tolerance:
# HLL++ at default rsd=0.05 — the driver's hash check would fail on the raw
# estimate, so this query returns a boolean "within 5% of exact" verdict,
# which IS deterministic and matches the oracle's literal TRUE.
_ORACLE_APPROX_DISTINCT = """
SELECT TRUE AS within_tolerance
"""


@register("q_agg_approx_distinct", oracle=_ORACLE_APPROX_DISTINCT, tier="X")
def q_agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate count-distinct (HLL++) for 100 TB scale, verified
    against the exact count within rsd tolerance. At scale the approx
    form shuffles fixed-size sketches instead of the key set."""
    li = load(spark, sf_dir, "lineitem")
    agg = li.agg(
        F.approx_count_distinct("l_orderkey", 0.05).alias("approx"),
        F.countDistinct("l_orderkey").alias("exact"),
    )
    # try_divide + vacuous-True coalesce: on an EMPTY table both counts
    # are 0, the ANSI `/` would throw DIVIDE_BY_ZERO, and the tolerance
    # guarantee is vacuously met (same posture as the percentile key
    # below; found by tests/test_adversarial_empty.py).
    ratio = F.try_divide(F.col("approx").cast("double"), F.col("exact"))
    ok = (ratio > 0.9) & (ratio < 1.1)
    return agg.select(F.coalesce(ok, F.lit(True)).alias("within_tolerance"))


_ORACLE_ROLLUP = """
SELECT
  COALESCE(r_name, 'ALL')  AS region_name,
  COALESCE(n_name, 'ALL')  AS nation_name,
  COUNT(*)                 AS n_custs,
  ROUND(SUM(c_acctbal), 2) AS sum_bal
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP (r_name, n_name)
HAVING COUNT(*) > 0
"""
# HAVING COUNT(*) > 0 is a no-op on any non-empty input (every grouping
# has >= 1 contributing row); it pins the oracle to Spark's Expand
# semantics, which emit NO grand-total row over an EMPTY input where
# the SQL standard (and DuckDB) produce one
# (tests/test_adversarial_empty.py).


@register("q_agg_rollup", oracle=_ORACLE_ROLLUP, tier="X")
def q_agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical rollup over (region, nation): grouping-sets in one
    pass (Expand + single shuffle), dimensions broadcast-joined."""
    cust = load(spark, sf_dir, "customer")
    nat = load(spark, sf_dir, "nation")
    reg = load(spark, sf_dir, "region")
    joined = cust.join(
        F.broadcast(nat), cust.c_nationkey == nat.n_nationkey
    ).join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
    return (
        joined.rollup("r_name", "n_name")
        .agg(F.count("*").alias("n_custs"), F.round(F.sum("c_acctbal"), 2).alias("sum_bal"))
        .select(
            F.coalesce(F.col("r_name"), F.lit("ALL")).alias("region_name"),
            F.coalesce(F.col("n_name"), F.lit("ALL")).alias("nation_name"),
            "n_custs",
            "sum_bal",
        )
    )


_ORACLE_COLLECT = """
SELECT n_name,
       string_agg(c_name, ',' ORDER BY c_name) AS customer_names,
       COUNT(*) AS n_custs
FROM customer JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
"""


@register("q_agg_collect", oracle=_ORACLE_COLLECT, tier="X")
def q_agg_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array aggregation (collect per group), canonicalized: the
    collected list is sorted then joined, because collect_list's
    arrival order is nondeterministic under parallelism — any consumer
    of a collected array at scale must impose order explicitly.
    State grows with group size; for huge groups prefer re-aggregating
    or windowed top-k instead of collecting."""
    cust = load(spark, sf_dir, "customer")
    nat = load(spark, sf_dir, "nation")
    return (
        cust.join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.array_join(F.sort_array(F.collect_list("c_name")), ",").alias(
                "customer_names"
            ),
            F.count("*").alias("n_custs"),
        )
    )


# Same tolerance-verdict pattern as q_agg_approx_distinct: the sketch
# estimate is not hash-comparable, the bounded-error CLAIM is.
_ORACLE_APPROX_PERCENTILE = """
SELECT TRUE AS within_tolerance
"""


@register("q_agg_approx_percentile", oracle=_ORACLE_APPROX_PERCENTILE, tier="X")
def q_agg_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate global percentile, verified as a RANK-error verdict.
    The approx form aggregates a fixed-size mergeable sketch map-side —
    the global-scale path where q_agg_percentile's exact per-group sort
    would need all values of the column on one reducer.

    The verdict checks the sketch's actual guarantee — the returned
    value's rank is within n/accuracy (+1 slack) of p*n — instead of a
    value-ratio tolerance: the sketch returns a REAL data point, so on
    skewed distributions (a 1e6 outlier next to 1e2 values) the value
    ratio to an interpolated exact percentile is meaningless while the
    rank bound still holds (found by tests/test_adversarial_relational).
    Scale-free: the bound is relative at any n."""
    p, acc = 0.9, 1000
    li = load(spark, sf_dir, "lineitem").select("l_extendedprice")
    sketch = li.agg(
        F.percentile_approx("l_extendedprice", p, acc).alias("approx"),
        F.count("l_extendedprice").alias("n"),
    )
    ranked = li.crossJoin(F.broadcast(sketch)).agg(
        F.sum(
            F.when(F.col("l_extendedprice") < F.col("approx"), 1).otherwise(0)
        ).alias("rank_lt"),
        F.sum(
            F.when(F.col("l_extendedprice") <= F.col("approx"), 1).otherwise(0)
        ).alias("rank_le"),
        F.first("n").alias("n"),
    )
    err = F.col("n") / acc + 1
    ok = (F.col("rank_lt") <= p * F.col("n") + err) & (
        F.col("rank_le") >= p * F.col("n") - err
    )
    # Empty/all-NULL column: approx is NULL, comparisons are NULL — the
    # guarantee is vacuously met.
    return ranked.select(F.coalesce(ok, F.lit(True)).alias("within_tolerance"))


# Bloom membership: n_member_keys is exact (hash-checkable); the filter
# quality claims are verdicts — NO false negative ever (hard invariant
# of the structure), FP rate under a generous bound (deterministic
# given the data: xxhash64 is seeded, not random).
_ORACLE_BLOOM_PROBE = """
SELECT COUNT(DISTINCT o_custkey)    AS n_member_keys,
       CAST(0 AS BIGINT)            AS false_negatives,
       TRUE                         AS within_tolerance
FROM orders WHERE o_custkey IS NOT NULL
"""


@register("q_bloom_probe", oracle=_ORACLE_BLOOM_PROBE, tier="X")
def q_bloom_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Bloom-filter membership (functions/bloom.py): build
    a bitmap over orders' customer keys (explode to (word, bit) +
    map-side-combined bit_or — the 100 TB build is one narrow shuffle
    of 16-byte rows), broadcast it as a map<word,bits>, and probe the
    key universe map-side. Verifies the textbook contract: every true
    member hits (false_negatives == 0, a hard invariant), false-positive
    rate among true non-members stays under 5% (default sizing
    m=2^20/k=5 gives ~0.2% at 100k keys). This is the shuffle-free
    pre-filter for semi-joins: at scale, probing a broadcast 16 KB-16 MB
    bitmap replaces shuffling the fact table against the key set."""
    from database_cloner_spark.functions.bloom import bloom_contains, build_bloom

    orders = load(spark, sf_dir, "orders").select("o_custkey")
    cust = load(spark, sf_dir, "customer").select("c_custkey")
    bloom = build_bloom(orders, "o_custkey")
    mem = (
        orders.filter(F.col("o_custkey").isNotNull())
        .select(F.col("o_custkey").alias("key"))
        .distinct()
        .withColumn("member", F.lit(True))
    )
    non = (
        cust.select(F.col("c_custkey").alias("key"))
        .distinct()
        .join(mem.select("key"), "key", "left_anti")
        .withColumn("member", F.lit(False))
    )
    univ = mem.unionByName(non)
    probed = univ.crossJoin(F.broadcast(bloom)).select(
        "key",
        "member",
        bloom_contains(F.col("key"), F.col("bloom")).alias("hit"),
    )
    # coalesce(.., 0): SUM over an EMPTY probe universe is NULL, but the
    # contract columns are counts (0) and the quality verdict is
    # vacuously True — matching the oracle's COUNT()/TRUE on an empty
    # orders table (tests/test_adversarial_empty.py).
    def _cnt(cond):
        return F.coalesce(
            F.sum(F.when(cond, 1).otherwise(0)), F.lit(0).cast("long")
        )

    m = probed.agg(
        _cnt(F.col("member")).alias("n_member_keys"),
        _cnt(F.col("member") & ~F.col("hit")).alias("false_negatives"),
        _cnt(~F.col("member") & F.col("hit")).alias("__fp"),
        _cnt(~F.col("member")).alias("__non"),
    )
    # try_divide, not `/`: ANSI division only avoids DIVIDE_BY_ZERO here
    # via runtime Or short-circuiting — fragile; engine-wide totality rule
    # (SCALE.md rule 7) says data-driven divides are always the try_ form.
    ok = (F.col("false_negatives") == 0) & (
        (F.col("__non") == 0)
        | (F.try_divide(F.col("__fp"), F.col("__non")) <= 0.05)
    )
    return m.select(
        "n_member_keys", "false_negatives", ok.alias("within_tolerance")
    )


# CMS verdict: the top-10 keys and their exact counts are hash-checked
# against the oracle; the sketch-quality claims are verdict columns —
# an estimate NEVER undercounts (hard CMS invariant), and overcounts
# by at most ceil(e/w * N) (deterministic: xxhash64 is seeded).
_ORACLE_FREQ_SKETCH = """
SELECT o_custkey, cnt AS true_cnt,
       TRUE AS no_underestimate,
       TRUE AS within_bound
FROM (
  SELECT o_custkey, COUNT(*) AS cnt
  FROM orders WHERE o_custkey IS NOT NULL
  GROUP BY o_custkey
  ORDER BY cnt DESC, o_custkey
  LIMIT 10
)
"""


@register("q_freq_sketch_topk", oracle=_ORACLE_FREQ_SKETCH, tier="X")
def q_freq_sketch_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min Sketch heavy-hitter check (functions/sketch.py): build
    a d=5 × w=2048 counter sketch over orders' customer keys (explode
    to cells + map-side-combined counts — the 100 TB build is one
    narrow shuffle of 16-byte rows into a FIXED-size, mergeable
    structure), broadcast it as a map, and probe the exact top-10 keys
    map-side. Verifies the textbook one-sided contract per key:
    estimate >= exact count (hard invariant) and estimate - exact <=
    ceil(e/w * N) (the Cormode-Muthukrishnan bound). At scale this is
    how per-key frequencies are tracked without a 10^9-entry hash map:
    the sketch is ~160 KB no matter the cardinality and merges across
    days/partitions by cell-wise addition."""
    import math

    from database_cloner_spark.functions.sketch import (
        CMS_W,
        build_cms,
        cms_estimate,
    )

    keys = (
        load(spark, sf_dir, "orders")
        .select("o_custkey")
        .filter(F.col("o_custkey").isNotNull())
    )
    cms = build_cms(keys, "o_custkey")
    exact = keys.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("true_cnt"))
    top = exact.orderBy(F.desc("true_cnt"), F.asc("o_custkey")).limit(10)
    # N rides along as a 1-row broadcast (same pattern as the tf-idf
    # corpus count); e/w * N is the public overcount bound.
    total = keys.agg(F.count(F.lit(1)).alias("__n"))
    probed = (
        top.join(F.broadcast(cms))
        .join(F.broadcast(total))
        .select(
            "o_custkey",
            "true_cnt",
            cms_estimate(F.col("o_custkey"), F.col("cms")).alias("__est"),
            # 5x headroom over the e/w*N textbook bound: the raw bound
            # holds per key only w.p. ~1-(1/e)^d, so an unlucky future
            # fixture could trip it legitimately; at 5x the per-key
            # failure probability is (1/(5e))^5 ~ 2e-6 — the same
            # generous-bound convention the bloom FP check uses
            # (5% asserted vs ~0.2% theoretical). Review r6.
            F.ceil(F.col("__n") * F.lit(5 * math.e / CMS_W)).alias("__bound"),
        )
    )
    return probed.select(
        "o_custkey",
        "true_cnt",
        (F.col("__est") >= F.col("true_cnt")).alias("no_underestimate"),
        ((F.col("__est") - F.col("true_cnt")) <= F.col("__bound")).alias(
            "within_bound"
        ),
    )


# Bin index via plain IEEE arithmetic — subtraction/multiply/divide/floor
# are bit-identical across engines (unlike ROUND on a double, the
# documented cross-engine pitfall), so the histogram is fully
# hash-checkable. The degenerate hi == lo case (single distinct value,
# the adversarial-twin shape) routes everything to bin 0 BEFORE any
# division, avoiding the 0/0 NaN that an ANSI int cast would throw on.
# isfinite on BOTH the bounds and the binned scan: one NaN price makes
# hi = NaN (NaN is the MAX on both engines) and the bin expression
# NaN-poisons — DuckDB then errors casting NaN to INT while Spark's
# floor saturates (pitfall 12). A [min, max] with non-finite endpoints
# is meaningless; non-finite rows simply have no bin.
_ORACLE_HISTOGRAM = """
WITH b AS (
  SELECT MIN(l_extendedprice) AS lo, MAX(l_extendedprice) AS hi
  FROM lineitem
  WHERE l_extendedprice IS NOT NULL AND isfinite(l_extendedprice)
)
SELECT
  CAST(CASE WHEN hi > lo
            THEN LEAST(7, CAST(FLOOR((l_extendedprice - lo) * 8.0 / (hi - lo)) AS INT))
            ELSE 0 END AS BIGINT) AS bin,
  COUNT(*) AS n
FROM lineitem, b
WHERE l_extendedprice IS NOT NULL AND isfinite(l_extendedprice)
GROUP BY 1
"""


@register("q_agg_histogram", oracle=_ORACLE_HISTOGRAM, tier="X")
def q_agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram (8 bins over the observed [min, max]) — the
    distribution-profiling pass every data-quality audit runs before
    training. Two-phase shape: a 1-row min/max aggregate broadcast back
    over the scan (same pattern as the tf-idf corpus count), then the
    ordinary partial+final count on the computed bin — two scans, both
    map-combined, no wide shuffle. The top boundary value clamps into
    the last bin (LEAST), matching the closed upper interval every
    histogram convention expects."""
    li = load(spark, sf_dir, "lineitem").filter(
        F.col("l_extendedprice").isNotNull()
        & ~F.isnan("l_extendedprice")
        & (F.abs("l_extendedprice") < F.lit(float("inf")))
    )
    bounds = li.agg(
        F.min("l_extendedprice").alias("lo"), F.max("l_extendedprice").alias("hi")
    )
    binned = li.join(F.broadcast(bounds)).select(
        F.when(
            F.col("hi") > F.col("lo"),
            F.least(
                F.lit(7),
                F.floor(
                    (F.col("l_extendedprice") - F.col("lo"))
                    * F.lit(8.0)
                    / (F.col("hi") - F.col("lo"))
                ).cast("int"),
            ),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("bin")
    )
    return binned.groupBy("bin").agg(F.count(F.lit(1)).alias("n"))


# Mode with an EXPLICIT deterministic tie-break (count DESC, value ASC):
# both engines' native mode()/F.mode leave ties engine-defined, which is
# a guaranteed cross-engine hash mismatch — the count+row_number
# formulation pins the winner identically everywhere.
_ORACLE_MODE = """
SELECT o_orderstatus, o_orderpriority AS mode_priority, n AS mode_n
FROM (
  SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
         ROW_NUMBER() OVER (PARTITION BY o_orderstatus
                            ORDER BY COUNT(*) DESC, o_orderpriority) AS rk
  FROM orders
  WHERE o_orderstatus IS NOT NULL AND o_orderpriority IS NOT NULL
  GROUP BY 1, 2
)
WHERE rk = 1
"""


@register("q_agg_mode", oracle=_ORACLE_MODE, tier="X")
def q_agg_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group mode (most frequent order priority per status) — the
    profiling aggregate data-quality audits run on categorical columns.
    Built as count + row_number over the small (group, value) count
    table, NOT the native mode(): native ties are engine-defined and
    split the cross-engine hash; (count DESC, value ASC) pins a
    deterministic winner. Scale shape: the heavy pass is the ordinary
    two-phase count; the window runs over |groups|x|values| aggregated
    rows (tiny), and plans as WindowGroupLimit under the rank filter."""
    od = load(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus").isNotNull() & F.col("o_orderpriority").isNotNull()
    )
    counts = od.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n")
    )
    order = [F.desc("n"), F.asc("o_orderpriority")]
    return ranks.top(counts, ["o_orderstatus"], order).select(
        "o_orderstatus",
        F.col("o_orderpriority").alias("mode_priority"),
        F.col("n").alias("mode_n"),
    )



# Exact lower median: a rank pick over the per-group value-count table
# (the contract is stated once in functions/ranks.py).
_ORACLE_MEDIAN_EXACT = """
WITH v AS (
  SELECT l_returnflag AS flag, l_extendedprice AS price
  FROM lineitem
  WHERE l_returnflag IS NOT NULL AND l_extendedprice IS NOT NULL
),
r AS (
  SELECT flag, price,
         row_number() OVER (PARTITION BY flag ORDER BY price) AS rn,
         COUNT(*) OVER (PARTITION BY flag) AS n
  FROM v
)
SELECT flag, CAST(n AS BIGINT) AS n,
       MAX(CASE WHEN rn = (n + 1) // 2 THEN price END) AS median_price
FROM r GROUP BY flag, n
"""


@register("q_agg_median_exact", oracle=_ORACLE_MEDIAN_EXACT, tier="X")
def q_agg_median_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT lower median per group (returnflag x extendedprice) — the
    exact companion of q_agg_approx_percentile for when an SLA needs
    the true quantile, not a t-digest estimate. Shape: the
    functions/ranks.py pick at rank (n+1) div 2 over the (flag, price)
    count table — the oracle's row_number convention. The oracle
    total-order sorts raw rows because at toy scale that is the
    clearest spec; the engine plan never does."""
    v = load(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag").isNotNull() & F.col("l_extendedprice").isNotNull()
    )
    counts = v.groupBy(
        F.col("l_returnflag").alias("flag"),
        F.col("l_extendedprice").alias("price"),
    ).agg(F.count(F.lit(1)).alias("cnt"))
    cum, n = ranks.running("cnt", ["flag"], "price")
    c = counts.select("flag", "price", cum.alias("cum"), n.alias("n"))
    med = ranks.pick(
        F.col("price"), F.col("cum") >= F.expr("(n + 1) div 2"), ["flag"]
    )
    return (
        c.select("flag", "n", med.alias("median_price"))
        .groupBy("flag")
        .agg(
            F.max("n").alias("n"),
            F.max("median_price").alias("median_price"),
        )
    )


# Weighted lower median: the smallest price whose cumulative weight
# reaches half the total (a functions/ranks.py pick with SUM(weight) as
# the weight). Weights must be exact integers for the rank comparison
# to be engine-identical: l_quantity is a whole double, and the two
# engines CAST doubles to ints differently (Spark truncates, DuckDB
# rounds) — FLOOR first makes them agree, TRY_CAST maps
# non-finite/overflow to NULL identically, and wt > 0 drops degenerate
# weights on both sides.
_ORACLE_WEIGHTED_MEDIAN = """
WITH w AS (
  SELECT l_linestatus AS status, l_extendedprice AS price,
         TRY_CAST(FLOOR(l_quantity) AS BIGINT) AS wt
  FROM lineitem
  WHERE l_linestatus IS NOT NULL AND l_extendedprice IS NOT NULL
),
c AS (
  SELECT status, price, SUM(wt) AS cw FROM w
  WHERE wt IS NOT NULL AND wt > 0 GROUP BY status, price
),
r AS (
  SELECT status, price,
         SUM(cw) OVER (PARTITION BY status ORDER BY price) AS cum,
         SUM(cw) OVER (PARTITION BY status) AS tot
  FROM c
)
SELECT status, CAST(tot AS BIGINT) AS total_weight,
       MIN(CASE WHEN 2 * cum >= tot THEN price END) AS wmedian_price
FROM r GROUP BY status, tot
"""


@register("q_agg_weighted_median", oracle=_ORACLE_WEIGHTED_MEDIAN, tier="X")
def q_agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT weighted lower median per group: the extendedprice at which
    half the shipped QUANTITY sits below — the volume-weighted price
    midpoint (a row-median over-weights small orders). Shape: the
    functions/ranks.py pick at rank 2*cum >= tot, weighted by
    SUM(weight) instead of COUNT(*). Weight semantics: NULL on
    NaN/overflow, floor otherwise, wt > 0 — floor before any cast
    because Spark truncates and DuckDB ROUNDS double->int casts
    (engine trap: CAST(2.7 AS BIGINT) is 2 vs 3); the NULL-on-overflow
    half is DuckDB TRY_CAST on one side and an explicit NaN/2^63 guard
    on the other, because Spark's floor(double) SATURATES to Long.MAX
    instead of failing (see the inline comment)."""
    v = load(spark, sf_dir, "lineitem").filter(
        F.col("l_linestatus").isNotNull()
        & F.col("l_extendedprice").isNotNull()
    )
    # Spark's floor(double) already RETURNS BIGINT via a saturating
    # cast (floor(1e20) = floor(+Inf) = Long.MAX, floor(NaN) = 0), so a
    # try_cast after it is a no-op — the NULL-on-overflow semantics the
    # oracle gets from DuckDB's TRY_CAST(FLOOR(x)) (where FLOOR stays
    # DOUBLE) must be written explicitly: NaN and values at/above 2^63
    # become NULL BEFORE the floor. -Inf saturates negative on Spark
    # and NULLs on DuckDB — both vanish under wt > 0, so the engines
    # stay row-identical on every non-finite input.
    qty = F.col("l_quantity")
    wt = F.when(
        ~F.isnan(qty) & (qty < F.lit(2.0**63)), F.floor(qty)
    ).cast("long")
    w = v.select(
        F.col("l_linestatus").alias("status"),
        F.col("l_extendedprice").alias("price"),
        wt.alias("wt"),
    ).filter(F.col("wt").isNotNull() & (F.col("wt") > 0))
    # weight sums accumulate in decimal(38,0): DuckDB's SUM(BIGINT)
    # silently promotes to HUGEINT, but Spark's SUM(BIGINT) stays int64
    # and ANSI-errors the moment weights near 2^63 sum past it (the
    # boundary fixture plants the largest sub-2^63 double) — decimal
    # accumulation keeps both engines exact and row-identical
    counts = w.groupBy("status", "price").agg(
        F.sum(F.col("wt").cast("decimal(38,0)")).alias("cw")
    )
    cum, tot = ranks.running("cw", ["status"], "price")
    c = counts.select("status", "price", cum.alias("cum"), tot.alias("tot"))
    med = ranks.pick(
        F.col("price"), F.lit(2) * F.col("cum") >= F.col("tot"), ["status"]
    )
    return (
        c.select("status", "tot", med.alias("wmedian_price"))
        .groupBy("status")
        .agg(
            F.max("tot").cast("long").alias("total_weight"),
            F.max("wmedian_price").alias("wmedian_price"),
        )
    )


# Deterministic per-group arg-extremes. Two engine traps pinned here:
# (1) native max_by/arg_max tie-break is ENGINE-DEFINED — a duplicate
# extreme value lets each engine return a different id, splitting the
# hash; MAX(struct(v, -id)) / MIN(struct(v, id)) pin ties to the
# SMALLEST id on both sides. (2) -0.0 == 0.0 in SQL comparisons but
# renders as "-0.0" vs "0.0" in the value hash — `value + 0.0`
# normalizes the zero sign identically under IEEE754 before any
# aggregate sees it.
_ORACLE_ARGMINMAX = """
WITH e AS (
  SELECT event_type, event_id, value + 0.0 AS v
  FROM events
  WHERE event_type IS NOT NULL AND value IS NOT NULL
    AND event_id IS NOT NULL
),
s AS (
  SELECT event_type, COUNT(*) AS n, MAX(v) AS mxv, MIN(v) AS mnv
  FROM e GROUP BY event_type
)
SELECT s.event_type, CAST(s.n AS BIGINT) AS n,
       s.mxv AS max_value,
       CAST(MIN(CASE WHEN e.v = s.mxv THEN e.event_id END) AS BIGINT)
         AS max_event_id,
       s.mnv AS min_value,
       CAST(MIN(CASE WHEN e.v = s.mnv THEN e.event_id END) AS BIGINT)
         AS min_event_id
FROM e JOIN s USING (event_type)
GROUP BY s.event_type, s.n, s.mxv, s.mnv
"""


@register("q_agg_argminmax", oracle=_ORACLE_ARGMINMAX, tier="X")
def q_agg_argminmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group argmax/argmin: which event carried each type's extreme
    value — the 'show me the offending row' companion of min/max.
    Shape: ONE two-phase hash aggregate; the arg pick is
    MAX(struct(v, -event_id)) / MIN(struct(v, event_id)) — a single
    partial-aggregable expression, no join-back, no window, one
    exchange shipping two structs + a count per group. The struct
    form (not max_by/arg_max) is deliberate: native arg-extreme
    tie-breaks are engine-defined, the struct's lexicographic order
    pins duplicates to the smallest event_id on both engines (the
    oracle expresses the same pick as MIN(id) over rows equal to the
    extreme). The id is widened to decimal(38,0) BEFORE negation:
    under ANSI, -bigint raises on Long.MIN_VALUE, and the oracle's
    MIN-over-extremes form has no such edge — the decimal negate keeps
    the engine side total on the full int64 domain (r8 ADVICE). `value + 0.0` maps -0.0 to +0.0 on both engines before
    comparison so the rendered hash can't split on zero sign."""
    ev = load(spark, sf_dir, "events").filter(
        F.col("event_type").isNotNull()
        & F.col("value").isNotNull()
        & F.col("event_id").isNotNull()
    )
    e = ev.select(
        "event_type",
        "event_id",
        (F.col("value") + F.lit(0.0)).alias("v"),
    )
    return e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.max(
            F.struct(
                F.col("v"),
                (-F.col("event_id").cast("decimal(38,0)")).alias("nid"),
            )
        ).alias("mx"),
        F.min(F.struct(F.col("v"), F.col("event_id"))).alias("mn"),
    ).select(
        "event_type",
        "n",
        F.col("mx.v").alias("max_value"),
        (-F.col("mx.nid")).cast("long").alias("max_event_id"),
        F.col("mn.v").alias("min_value"),
        F.col("mn.event_id").cast("long").alias("min_event_id"),
    )


# Exact quartiles as three functions/ranks.py picks off one cumulative
# pass. Lower-quantile convention: rank_q = ceil(q * n),
# expressed in exact integer arithmetic ((n+3) div 4, (n+1) div 2,
# (3n+3) div 4). The IQR is ONE IEEE754 subtraction of two picked
# doubles — identical operands, identical result, both engines.
_ORACLE_QUARTILES = """
WITH v AS (
  SELECT l_returnflag AS flag, l_extendedprice AS price
  FROM lineitem
  WHERE l_returnflag IS NOT NULL AND l_extendedprice IS NOT NULL
),
r AS (
  SELECT flag, price,
         row_number() OVER (PARTITION BY flag ORDER BY price) AS rn,
         COUNT(*) OVER (PARTITION BY flag) AS n
  FROM v
)
SELECT flag, CAST(n AS BIGINT) AS n,
       MAX(CASE WHEN rn = (n + 3) // 4 THEN price END) AS p25,
       MAX(CASE WHEN rn = (n + 1) // 2 THEN price END) AS p50,
       MAX(CASE WHEN rn = (3 * n + 3) // 4 THEN price END) AS p75,
       MAX(CASE WHEN rn = (3 * n + 3) // 4 THEN price END)
         - MAX(CASE WHEN rn = (n + 3) // 4 THEN price END) AS iqr
FROM r GROUP BY flag, n
"""


@register("q_agg_quartiles", oracle=_ORACLE_QUARTILES, tier="X")
def q_agg_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT p25/p50/p75 + IQR per group — the spread profile behind
    q_agg_winsorize's clamp and every outlier rule, exact where
    approx_percentile is a t-digest estimate. Shape: three
    functions/ranks.py picks off the same cumulative pass — adding a
    quantile costs one projection, not another shuffle or sort."""
    v = load(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag").isNotNull()
        & F.col("l_extendedprice").isNotNull()
    )
    counts = v.groupBy(
        F.col("l_returnflag").alias("flag"),
        F.col("l_extendedprice").alias("price"),
    ).agg(F.count(F.lit(1)).alias("cnt"))
    cum, n = ranks.running("cnt", ["flag"], "price")
    c = counts.select("flag", "price", cum.alias("cum"), n.alias("n"))
    rank_of = {
        "p25": "(n + 3) div 4",
        "p50": "(n + 1) div 2",
        "p75": "(3 * n + 3) div 4",
    }
    out = c.select(
        "flag",
        "n",
        *[
            ranks.pick(F.col("price"), F.col("cum") >= F.expr(r), ["flag"]).alias(q)
            for q, r in rank_of.items()
        ],
    )
    return out.groupBy("flag").agg(
        F.max("n").alias("n"),
        F.max("p25").alias("p25"),
        F.max("p50").alias("p50"),
        F.max("p75").alias("p75"),
        (F.max("p75") - F.max("p25")).alias("iqr"),
    )


# Exact distinct-user counting via chunked 63-bit bitmaps — the
# integer-exact middle ground between COUNT(DISTINCT) (shuffles every
# distinct value) and HLL (approximate): ids fold into per-chunk
# bitmaps MAP-SIDE with bit_or (a fully associative/commutative
# partial), the exchange carries one long per occupied 4,032-id window
# (63 ids x 64... 63 bits per long; chunks of 63 keep the shift off the
# sign bit — BOTH engines reject or wrap 1<<63), and popcounts sum to
# the exact distinct count. For clustered id domains this is the
# roaring-bitmap trick in two plain aggregates.
_ORACLE_BITMAP_DISTINCT = """
SELECT event_type,
       CAST(SUM(bit_count(b)) AS BIGINT) AS n_distinct_users,
       COUNT(*)::BIGINT AS n_chunks
FROM (
  SELECT event_type, user_id // 63 AS chunk,
         bit_or(1::BIGINT << CAST(user_id % 63 AS INT)) AS b
  FROM events
  WHERE event_type IS NOT NULL AND user_id IS NOT NULL AND user_id >= 0
  GROUP BY event_type, user_id // 63
)
GROUP BY event_type
"""


@register("q_agg_bitmap_distinct", oracle=_ORACLE_BITMAP_DISTINCT, tier="X")
def q_agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct users per event type via chunked 63-bit bitmaps —
    the roaring-bitmap technique as two plain aggregates, sitting
    between q_agg_distinct (exact, but the exchange carries every
    distinct id) and q_agg_approx_distinct (HLL, approximate): bit_or
    is associative AND commutative, so each map task folds its ids into
    per-(type, chunk) longs BEFORE the exchange, which then ships one
    long per OCCUPIED 63-id window — for clustered id domains that is
    ~cardinality/63 rows, a 63x shuffle-byte cut at identical exactness.
    popcount-and-sum recovers the count. Chunk width 63, not 64: both
    engines refuse/wrap a 1<<63 into the sign bit (DuckDB raises
    Overflow, Spark wraps negative), so the shift domain stays [0, 62].
    Negative ids are excluded on both sides (the % / // pair would
    disagree cross-engine below zero); the n_chunks column exposes the
    bitmap's occupancy so the shuffle saving is itself observable."""
    ev = load(spark, sf_dir, "events").filter(
        F.col("event_type").isNotNull()
        & F.col("user_id").isNotNull()
        & (F.col("user_id") >= 0)
    )
    chunks = ev.groupBy(
        "event_type", F.expr("user_id div 63").alias("chunk")
    ).agg(F.expr("bit_or(shiftleft(1L, cast(user_id % 63 as int)))").alias("b"))
    return chunks.groupBy("event_type").agg(
        F.sum(F.bit_count("b")).cast("long").alias("n_distinct_users"),
        F.count(F.lit(1)).cast("long").alias("n_chunks"),
    )


# 2-D skyline (Pareto frontier) over parts: the cheapest-for-its-size
# set — a part is ON the skyline iff no other part is both cheaper
# (or equal-priced) and strictly larger. The classic multi-criteria
# shortlist (price down, size up) a sourcing query wants; the naive
# NOT EXISTS is an all-pairs anti-join, the engine form is the
# sort-and-cummax sweep: order by (price asc, size desc, key asc) and
# keep rows whose size strictly exceeds the running max BEFORE them —
# O(n log n), one pass.
_ORACLE_AGG_SKYLINE = """
WITH r AS (
  SELECT p_partkey, p_retailprice, p_size,
         MAX(p_size) OVER (ORDER BY p_retailprice ASC, p_size DESC,
                                    p_partkey ASC
                           ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND 1 PRECEDING) AS best_before
  FROM part
  WHERE p_retailprice IS NOT NULL AND p_size IS NOT NULL
)
SELECT p_partkey, ROUND(p_retailprice, 2) AS price,
       CAST(p_size AS BIGINT) AS size
FROM r
WHERE best_before IS NULL OR p_size > best_before
"""


@register("q_agg_skyline", oracle=_ORACLE_AGG_SKYLINE, tier="X")
def q_agg_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline over parts (minimize price, maximize size): the
    Pareto frontier via ONE sorted sweep — running MAX(size) over all
    strictly-better-or-equal-priced predecessors; a row survives iff
    it beats that max. O(n log n) vs the naive all-pairs NOT EXISTS;
    the (price, size desc, key) order is total so equal-price ties
    resolve identically cross-engine (the larger of an equal-price
    pair survives, the smaller is dominated). Honest scale bound: a
    global-order window is a single-task sort — for 2-D skylines at
    1e9+ rows, pre-filter with a coarse grid (only cells on the grid's
    own frontier can contain skyline points) and sweep the survivors;
    the sweep itself is the right final pass either way. NULL price/
    size rows are not comparable and are excluded on both engines."""
    from pyspark.sql import Window as W

    p = load(spark, sf_dir, "part").filter(
        F.col("p_retailprice").isNotNull() & F.col("p_size").isNotNull()
    )
    w = (
        W.orderBy(
            F.asc("p_retailprice"), F.desc("p_size"), F.asc("p_partkey")
        ).rowsBetween(W.unboundedPreceding, -1)
    )
    r = p.select(
        "p_partkey",
        "p_retailprice",
        "p_size",
        F.max("p_size").over(w).alias("best_before"),
    )
    return r.filter(
        F.col("best_before").isNull() | (F.col("p_size") > F.col("best_before"))
    ).select(
        "p_partkey",
        F.round("p_retailprice", 2).alias("price"),
        F.col("p_size").cast("long").alias("size"),
    )
