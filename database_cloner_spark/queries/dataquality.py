"""§2.13 Data-quality operators (SURVEY.md).

The reference's clone contract is "the copy equals the source", and it
verifies that contract with row counts and success tallies
(clone_databases.sh:643, :1025-1030). These operators are the
first-class version of that verification: a one-pass column profile
(what a DBA runs on source AND clone to diff them), a
constraint-violation audit (orphaned foreign keys, duplicate primary
keys, domain violations — the checks that tell you a clone, or an
ingest into the training corpus, silently corrupted something), a
join-key skew diagnostic (the planning input for every shuffle
strategy in this package), a per-stream freshness monitor (the
ingestion-lag gate), a Benford first-digit audit (the fabricated-data
detector), and a Tukey IQR fence audit (the outlier census behind
winsorize clamps).

All are single-output-table operators whose only data-sized work is
scan + two-phase aggregation; everything after the partial/final agg
pair is driver-sized.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from database_cloner_spark.functions import ranks
from database_cloner_spark.registry import register
from database_cloner_spark.sources import load


# Profiled columns of `orders` and how each min/max renders as a string
# (BIGINT and VARCHAR cast identically on both engines; TIMESTAMP goes
# through the same explicit second-resolution format the join keys use
# — a raw CAST(ts AS VARCHAR) may differ in fractional-second rendering
# between engines).
_PROFILE_COLS = [
    ("o_orderkey", "bigint"),
    ("o_custkey", "bigint"),
    ("o_orderstatus", "varchar"),
    ("o_orderpriority", "varchar"),
    ("o_orderdate", "timestamp"),
]


def _profile_oracle() -> str:
    parts = []
    for c, kind in _PROFILE_COLS:
        if kind == "timestamp":
            mn = f"strftime(MIN({c}), '%Y-%m-%d %H:%M:%S')"
            mx = f"strftime(MAX({c}), '%Y-%m-%d %H:%M:%S')"
        else:
            mn = f"CAST(MIN({c}) AS VARCHAR)"
            mx = f"CAST(MAX({c}) AS VARCHAR)"
        parts.append(
            f"SELECT '{c}' AS col_name, COUNT(*)::BIGINT AS n_rows,\n"
            f"       SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END)::BIGINT"
            f" AS n_null,\n"
            f"       COUNT(DISTINCT {c})::BIGINT AS n_distinct,\n"
            f"       {mn} AS min_s, {mx} AS max_s\n"
            f"FROM orders"
        )
    return "\nUNION ALL\n".join(parts)


_ORACLE_DQ_PROFILE = _profile_oracle()


@register("q_dq_profile", oracle=_ORACLE_DQ_PROFILE, tier="X")
def q_dq_profile(
    spark: SparkSession, sf_dir: str, approx_distinct: bool = False
) -> DataFrame:
    """One-pass column profile of `orders` — per column: row count, null
    count, distinct count, min/max (rendered as strings). This is the
    source-vs-clone diffing report behind the reference's fidelity
    counts (clone_databases.sh:643): profile both sides, diff the rows.
    Shape: ONE scan; Spark plans the multi-column COUNT(DISTINCT) via
    Expand (k=5 replicas of each row, one per distinct column) feeding a
    two-phase aggregate — the expansion happens map-side BEFORE the
    exchange, so the shuffle carries only partial states keyed by
    (gid, value), never 5x the raw rows. Expand is still a 5x blow-up
    of the SCAN volume, so at 100 TB pass approx_distinct=True: the
    distincts become approx_count_distinct (HLL partials — NO Expand,
    one plain two-phase agg, shuffle carries 5 constant-size sketches;
    the default rsd is 5%). The registered/oracled form stays exact
    because the profile's job is equality diffing and the oracle gate
    needs exact; the HLL mode is parity-tested against it within HLL
    tolerance and plan-checked Expand-free
    (tests/test_scale_modes.py). The 1-row-per-column reshape after the
    agg is driver-sized (inline over a 5-element array)."""
    o = load(spark, sf_dir, "orders")
    n_distinct = F.approx_count_distinct if approx_distinct else F.count_distinct
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c, kind in _PROFILE_COLS:
        col = F.col(c)
        if kind == "timestamp":
            mn = F.date_format(F.min(col), "yyyy-MM-dd HH:mm:ss")
            mx = F.date_format(F.max(col), "yyyy-MM-dd HH:mm:ss")
        else:
            mn = F.min(col).cast("string")
            mx = F.max(col).cast("string")
        aggs += [
            F.sum(F.when(col.isNull(), 1).otherwise(0)).alias(f"null_{c}"),
            n_distinct(col).alias(f"dist_{c}"),
            mn.alias(f"min_{c}"),
            mx.alias(f"max_{c}"),
        ]
    wide = o.agg(*aggs)
    rows = F.array(
        *[
            F.struct(
                F.lit(c).alias("col_name"),
                F.col(f"null_{c}").alias("n_null"),
                F.col(f"dist_{c}").alias("n_distinct"),
                F.col(f"min_{c}").alias("min_s"),
                F.col(f"max_{c}").alias("max_s"),
            )
            for c, _ in _PROFILE_COLS
        ]
    )
    return wide.select("n_rows", F.inline(rows)).select(
        "col_name", "n_rows", "n_null", "n_distinct", "min_s", "max_s"
    )


_ORACLE_DQ_CONSTRAINTS = """
SELECT 'customer_dup_custkey' AS check_name,
       (SELECT COUNT(*) - COUNT(DISTINCT c_custkey) FROM customer)::BIGINT
         AS n_violations
UNION ALL
SELECT 'lineitem_bad_qty',
       (SELECT COUNT(*) FROM lineitem
        WHERE l_quantity IS NULL OR l_quantity <= 0)::BIGINT
UNION ALL
SELECT 'lineitem_orphan_orderkey',
       (SELECT COUNT(*) FROM lineitem
        WHERE l_orderkey IS NOT NULL
          AND l_orderkey NOT IN (SELECT o_orderkey FROM orders
                                 WHERE o_orderkey IS NOT NULL))::BIGINT
UNION ALL
SELECT 'orders_null_custkey',
       (SELECT COUNT(*) FROM orders WHERE o_custkey IS NULL)::BIGINT
UNION ALL
SELECT 'orders_orphan_custkey',
       (SELECT COUNT(*) FROM orders
        WHERE o_custkey IS NOT NULL
          AND o_custkey NOT IN (SELECT c_custkey FROM customer
                                WHERE c_custkey IS NOT NULL))::BIGINT
"""


@register("q_dq_constraints", oracle=_ORACLE_DQ_CONSTRAINTS, tier="X")
def q_dq_constraints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Constraint-violation audit — the post-clone validation suite the
    reference's count checks (clone_databases.sh:1025-1030) gesture at,
    as one queryable table: primary-key duplicates, foreign-key orphans
    (lineitem→orders, orders→customer), NULL keys, and a domain check
    (non-positive quantity). One row per check with its violation
    count, so a clone/ingest gate is `WHERE n_violations > 0`.
    Shape per check: PK duplicates are COUNT(*) - COUNT(DISTINCT) in a
    single two-phase agg (no self-join); orphan checks are LEFT ANTI
    equi-joins on the key (shuffle-partitioned both sides, AQE handles
    key skew) feeding a 1-row count; NULL/domain checks are map-side
    filtered counts with the predicate pushed to the scan. The five
    1-row frames union driver-sized. NOT NULL guards on the anti-join
    probes mirror SQL NOT IN semantics exactly (a NULL probe key is not
    an orphan on either engine)."""
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")

    def one(name: str, df: DataFrame) -> DataFrame:
        return df.select(
            F.lit(name).alias("check_name"),
            F.col("n").cast("long").alias("n_violations"),
        )

    dup = cust.agg(
        (F.count(F.lit(1)) - F.count_distinct(F.col("c_custkey"))).alias("n")
    )
    bad_qty = li.filter(
        F.col("l_quantity").isNull() | (F.col("l_quantity") <= 0)
    ).agg(F.count(F.lit(1)).alias("n"))
    li_orphan = (
        li.filter(F.col("l_orderkey").isNotNull())
        .join(
            orders.select("o_orderkey").filter(F.col("o_orderkey").isNotNull()),
            li["l_orderkey"] == F.col("o_orderkey"),
            "left_anti",
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    null_cust = orders.filter(F.col("o_custkey").isNull()).agg(
        F.count(F.lit(1)).alias("n")
    )
    o_orphan = (
        orders.filter(F.col("o_custkey").isNotNull())
        .join(
            cust.select("c_custkey").filter(F.col("c_custkey").isNotNull()),
            orders["o_custkey"] == F.col("c_custkey"),
            "left_anti",
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        one("customer_dup_custkey", dup)
        .unionAll(one("lineitem_bad_qty", bad_qty))
        .unionAll(one("lineitem_orphan_orderkey", li_orphan))
        .unionAll(one("orders_null_custkey", null_cust))
        .unionAll(one("orders_orphan_custkey", o_orphan))
    )


# Candidate distribution keys of `lineitem`, in output order. The skew
# report is the planning input for every partitioned operation in this
# package: which key can a shuffle/bucketing/salting strategy trust?
_SKEW_COLS = ["l_orderkey", "l_partkey", "l_suppkey"]


def _skew_oracle() -> str:
    parts = []
    for c in _SKEW_COLS:
        parts.append(
            f"""
(WITH c_{c} AS (
  SELECT {c} AS k, COUNT(*) AS c FROM lineitem
  WHERE {c} IS NOT NULL GROUP BY {c}
),
s_{c} AS (
  SELECT SUM(c) AS nr, COUNT(*) AS nd, MAX(c) AS mc FROM c_{c}
),
h_{c} AS (
  SELECT MIN(k) AS hk FROM c_{c}, s_{c} WHERE c_{c}.c = s_{c}.mc
)
SELECT '{c}' AS col_name,
       CAST(nr AS BIGINT) AS n_rows,
       CAST(nd AS BIGINT) AS n_distinct,
       CAST(mc AS BIGINT) AS max_cnt,
       CAST(hk AS BIGINT) AS hot_key,
       CAST(mc * 1000000 // nr AS BIGINT) AS top1_ppm
FROM s_{c}, h_{c})"""
        )
    return "\nUNION ALL\n".join(parts)


_ORACLE_DQ_SKEW = _skew_oracle()


@register("q_dq_skew", oracle=_ORACLE_DQ_SKEW, tier="X")
def q_dq_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnostic over `lineitem`'s candidate distribution
    keys: per key column, total non-null rows, distinct keys, the
    hottest key and its row count, and the hot key's row share in ppm.
    This is the report that decides every strategy choice the rest of
    the package plan-guards — broadcast vs shuffle, salting
    (functions/skew.py), bucketing: a top1_ppm near 1e6/|keys| is
    uniform; orders of magnitude above it predicts the straggler task.
    Shape per column: ONE two-phase groupBy(key).count() (map-side
    partials, exchange volume bounded by key cardinality) + a 1-row
    global agg where MAX(struct(cnt, -key)) picks the hot key without a
    second pass or a join — the struct max is a single partial-aggregable
    expression, and -key breaks count ties toward the SMALLEST key on
    both engines (the oracle's MIN(k) WHERE c = max form; the key is
    widened to decimal(38,0) before negation — ANSI -bigint raises on
    Long.MIN_VALUE, which the oracle form never hits — r8 ADVICE). The share is
    integer-exact floor(ppm) — `div` and `//` agree bit-for-bit, no
    doubles anywhere. Three column passes scan column-pruned parquet;
    the 3-row union is driver-sized."""
    li = load(spark, sf_dir, "lineitem")
    outs = []
    for c in _SKEW_COLS:
        counts = (
            li.filter(F.col(c).isNotNull())
            .groupBy(F.col(c).alias("k"))
            .agg(F.count(F.lit(1)).alias("c"))
        )
        stats = counts.agg(
            F.sum("c").alias("nr"),
            F.count(F.lit(1)).alias("nd"),
            F.max(
                F.struct(
                    F.col("c"),
                    (-F.col("k").cast("decimal(38,0)")).alias("negk"),
                )
            ).alias("m"),
        )
        outs.append(
            stats.select(
                F.lit(c).alias("col_name"),
                F.col("nr").cast("long").alias("n_rows"),
                F.col("nd").cast("long").alias("n_distinct"),
                F.col("m.c").cast("long").alias("max_cnt"),
                (-F.col("m.negk")).cast("long").alias("hot_key"),
                F.expr("(m.c * 1000000L) div nr").cast("long").alias(
                    "top1_ppm"
                ),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionAll(o)
    return out


# Freshness / staleness monitor: per event type, how far behind the
# newest data in the table is this stream? Lag is computed in EXACT
# integer hours from epoch microseconds (floor division agrees
# bit-for-bit across engines); timestamps render at second resolution
# through the same explicit format the profile uses.
_ORACLE_DQ_FRESHNESS = """
WITH t AS (
  SELECT event_type, COUNT(*) AS n, MIN(ts) AS mn, MAX(ts) AS mx
  FROM events
  WHERE event_type IS NOT NULL AND ts IS NOT NULL
  GROUP BY event_type
)
SELECT event_type, CAST(n AS BIGINT) AS n_events,
       strftime(mn, '%Y-%m-%d %H:%M:%S') AS first_s,
       strftime(mx, '%Y-%m-%d %H:%M:%S') AS last_s,
       CAST((MAX(epoch_us(mx)) OVER () - epoch_us(mx)) // 3600000000
            AS BIGINT) AS lag_hours
FROM t
"""


@register("q_dq_freshness", oracle=_ORACLE_DQ_FRESHNESS, tier="X")
def q_dq_freshness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stream freshness audit over `events`: event count, first/last
    timestamp, and staleness in whole hours behind the newest event in
    the table — the ingestion-lag monitor that catches a silently
    stalled upstream topic before it skews every downstream count.
    Shape: ONE two-phase aggregate (count/min/max partials combine
    map-side; the exchange ships |event_types| states), then the global
    high-water mark is a window over that AGGREGATED handful of rows —
    never a second scan, never a 1-row crossJoin back onto raw data.
    lag_hours = (max_all_us - max_type_us) div 3600000000 in exact
    int64 epoch microseconds: floor division, bit-identical on both
    engines, no interval/double arithmetic anywhere."""
    from pyspark.sql import Window as W

    ev = load(spark, sf_dir, "events").filter(
        F.col("event_type").isNotNull() & F.col("ts").isNotNull()
    )
    t = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("ts").alias("mn"),
        F.max("ts").alias("mx"),
    )
    marked = t.select(
        "event_type",
        F.col("n").cast("long").alias("n_events"),
        F.date_format("mn", "yyyy-MM-dd HH:mm:ss").alias("first_s"),
        F.date_format("mx", "yyyy-MM-dd HH:mm:ss").alias("last_s"),
        F.unix_micros(F.col("mx")).alias("mx_us"),
    ).withColumn(
        "gmax_us",
        F.max("mx_us").over(W.partitionBy(F.lit(1))),
    )
    return marked.select(
        "event_type",
        "n_events",
        "first_s",
        "last_s",
        F.expr("(gmax_us - mx_us) div 3600000000").cast("long").alias(
            "lag_hours"
        ),
    )


# Benford's-law first-digit audit. The first significant digit is
# extracted in EXACT arithmetic: price -> integer cents (round(x*100)
# — 2-decimal money doubles land ~1e-13 from the integer, never near a
# .5 tie) -> leading character of the INTEGER's string rendering
# (int->string is identical across engines; double->string is not, and
# log10-based digit extraction would hang engine-identity on libm).
# Expected shares are floor(log10(1+1/d)*1e6) computed ONCE in Python
# and embedded as the same literals on both sides — no runtime log.
_BENFORD_PPM = {
    1: 301029, 2: 176091, 3: 124938, 4: 96910, 5: 79181,
    6: 66946, 7: 57991, 8: 51152, 9: 45757,
}

_BENFORD_CASE_SQL = "CASE digit " + " ".join(
    f"WHEN '{d}' THEN {ppm}" for d, ppm in _BENFORD_PPM.items()
) + " END"

_ORACLE_DQ_BENFORD = f"""
WITH cents AS (
  SELECT CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS c
  FROM orders
  WHERE o_totalprice IS NOT NULL
    AND o_totalprice > 0 AND o_totalprice < 9.0e16
),
d AS (
  SELECT SUBSTRING(CAST(c AS VARCHAR), 1, 1) AS digit, COUNT(*) AS n
  FROM cents GROUP BY digit
)
SELECT digit, CAST(n AS BIGINT) AS n,
       CAST(n * 1000000 // SUM(n) OVER () AS BIGINT) AS obs_ppm,
       CAST({_BENFORD_CASE_SQL} AS BIGINT) AS benford_ppm,
       CAST(n * 1000000 // SUM(n) OVER ()
            - {_BENFORD_CASE_SQL} AS BIGINT) AS diff_ppm
FROM d
"""


@register("q_dq_benford", oracle=_ORACLE_DQ_BENFORD, tier="X")
def q_dq_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit of order totals — the classic
    fabricated-data detector: organically-grown monetary amounts follow
    log10(1+1/d); synthetic or tampered ones rarely do. One row per
    leading digit with observed vs expected share (ppm) and the gap.
    Shape: ONE two-phase count keyed by the 9-value digit (exchange
    ships <= 9 partial states); the share window rides that aggregated
    9-row table. Digit extraction stays in exact arithmetic — integer
    cents via round(x*100), then the leading character of the INTEGER's
    string form (int->string renders identically across engines, unlike
    double->string or libm log10). Benford expectations are Python-
    computed literals embedded in BOTH plans, so no runtime log call
    can diverge."""
    o = load(spark, sf_dir, "orders").filter(
        F.col("o_totalprice").isNotNull()
        & (F.col("o_totalprice") > 0)
        # cents must fit int64: past 9e16 both engines' casts
        # hard-error — bound the domain so one absurd row degrades
        # instead of killing the audit (identical filter in the oracle)
        & (F.col("o_totalprice") < 9.0e16)
    )
    d = o.select(
        F.substring(
            F.round(F.col("o_totalprice") * 100, 0)
            .cast("long")
            .cast("string"),
            1,
            1,
        ).alias("digit")
    ).groupBy("digit").agg(F.count(F.lit(1)).alias("n"))
    expected = F.coalesce(
        *[
            F.when(F.col("digit") == str(dd), F.lit(ppm))
            for dd, ppm in _BENFORD_PPM.items()
        ],
        F.lit(None),
    ).cast("long")
    return d.select(
        "digit",
        F.col("n").cast("long").alias("n"),
        F.expr(
            "(n * 1000000L) div sum(n) over (partition by 1)"
        ).cast("long").alias("obs_ppm"),
        expected.alias("benford_ppm"),
        (
            F.expr("(n * 1000000L) div sum(n) over (partition by 1)")
            - expected
        ).cast("long").alias("diff_ppm"),
    )


# IQR fence audit: Tukey outlier counts per group, entirely on the
# (group, value) count table — the quartile picks, the fences, and the
# outlier counts all ride the same cumulative pass, so the raw table is
# scanned ONCE and nothing data-sized happens after the count shuffle.
# Fences are two IEEE ops (1.5*IQR, then +/-) on exactly-picked doubles
# — identical operands, identical results, both engines.
_ORACLE_DQ_OUTLIERS = """
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
),
q AS (
  SELECT flag, CAST(n AS BIGINT) AS n,
         MAX(CASE WHEN rn = (n + 3) // 4 THEN price END) AS p25,
         MAX(CASE WHEN rn = (3 * n + 3) // 4 THEN price END) AS p75
  FROM r GROUP BY flag, n
),
f AS (
  SELECT flag, n, p25, p75,
         p25 - 1.5 * (p75 - p25) AS fence_lo,
         p75 + 1.5 * (p75 - p25) AS fence_hi
  FROM q
)
SELECT f.flag, f.n, f.p25, f.p75, f.fence_lo, f.fence_hi,
       CAST(SUM(CASE WHEN v.price < f.fence_lo THEN 1 ELSE 0 END)
            AS BIGINT) AS n_below,
       CAST(SUM(CASE WHEN v.price > f.fence_hi THEN 1 ELSE 0 END)
            AS BIGINT) AS n_above
FROM v JOIN f USING (flag)
GROUP BY f.flag, f.n, f.p25, f.p75, f.fence_lo, f.fence_hi
"""


@register("q_dq_outlier_fences", oracle=_ORACLE_DQ_OUTLIERS, tier="X")
def q_dq_outlier_fences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey IQR fence audit per group: exact quartiles, the 1.5*IQR
    fences, and how many rows sit outside them — the outlier census a
    pipeline reads before choosing a winsorize clamp (q_agg_winsorize
    applies one; this reports what it would touch). Shape: quartile
    picks (functions/ranks.py), fences AND outlier tallies all ride one
    (flag, price) count table — the oracle re-joins the raw rows
    against the fences as the readable spec, the engine never does
    (conditional sums of cnt over the count table ARE the row
    tallies). Fences are two IEEE ops on exactly-picked doubles:
    identical operands, identical doubles, both engines; rows EQUAL to
    a fence are inliers on both sides (strict < / >)."""
    v = load(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag").isNotNull()
        & F.col("l_extendedprice").isNotNull()
    )
    counts = v.groupBy(
        F.col("l_returnflag").alias("flag"),
        F.col("l_extendedprice").alias("price"),
    ).agg(F.count(F.lit(1)).alias("cnt"))
    cum, n = ranks.running("cnt", ["flag"], "price")
    c = counts.select("flag", "price", "cnt", cum.alias("cum"), n.alias("n"))
    price = F.col("price")
    p25 = ranks.pick(price, F.col("cum") >= F.expr("(n + 3) div 4"), ["flag"])
    p75 = ranks.pick(
        price, F.col("cum") >= F.expr("(3 * n + 3) div 4"), ["flag"]
    )
    with_q = c.select(
        "flag", "price", "cnt", "n", p25.alias("p25"), p75.alias("p75")
    )
    iqr = F.col("p75") - F.col("p25")
    fence_lo = F.col("p25") - F.lit(1.5) * iqr
    fence_hi = F.col("p75") + F.lit(1.5) * iqr
    flagged = with_q.select(
        "flag",
        "n",
        "p25",
        "p75",
        fence_lo.alias("fence_lo"),
        fence_hi.alias("fence_hi"),
        F.when(F.col("price") < fence_lo, F.col("cnt")).otherwise(
            F.lit(0)
        ).alias("below_cnt"),
        F.when(F.col("price") > fence_hi, F.col("cnt")).otherwise(
            F.lit(0)
        ).alias("above_cnt"),
    )
    return flagged.groupBy(
        "flag", "n", "p25", "p75", "fence_lo", "fence_hi"
    ).agg(
        F.sum("below_cnt").cast("long").alias("n_below"),
        F.sum("above_cnt").cast("long").alias("n_above"),
    ).select(
        "flag", F.col("n").cast("long").alias("n"), "p25", "p75",
        "fence_lo", "fence_hi", "n_below", "n_above",
    )


# Candidate-key uniqueness census: per declared key, how many rows,
# how many distinct keys, how many keys collide, the worst
# multiplicity, and the duplicate-row share in exact floor(ppm). The
# clone-fidelity reading: a clone (or a re-ingest) that duplicated rows
# shows dup_rows_ppm > 0 here before any downstream join fans out.
_UNIQ_KEYS = [
    ("orders.o_orderkey", "orders", ("o_orderkey",)),
    ("lineitem.(l_orderkey,l_linenumber)", "lineitem",
     ("l_orderkey", "l_linenumber")),
    ("events.event_id", "events", ("event_id",)),
    ("documents.doc_id", "documents", ("doc_id",)),
]


def _uniq_oracle() -> str:
    parts = []
    for label, table, cols in _UNIQ_KEYS:
        nn = " AND ".join(f"{c} IS NOT NULL" for c in cols)
        keys = ", ".join(cols)
        parts.append(f"""
SELECT '{label}' AS key_name,
       CAST(COALESCE(SUM(m), 0) AS BIGINT) AS n_rows,
       COUNT(*)::BIGINT AS n_keys,
       CAST(COALESCE(SUM(CASE WHEN m > 1 THEN 1 ELSE 0 END), 0) AS BIGINT)
         AS dup_keys,
       CAST(COALESCE(MAX(m), 0) AS BIGINT) AS max_mult,
       CAST(CASE WHEN COALESCE(SUM(m), 0) > 0
                 THEN ((SUM(m) - COUNT(*)) * 1000000) // SUM(m)
                 ELSE 0 END AS BIGINT) AS dup_rows_ppm
FROM (SELECT {keys}, COUNT(*)::BIGINT AS m
      FROM {table} WHERE {nn} GROUP BY {keys})""")
    return "\nUNION ALL\n".join(parts)


_ORACLE_DQ_UNIQUENESS = _uniq_oracle()


@register("q_dq_uniqueness", oracle=_ORACLE_DQ_UNIQUENESS, tier="X")
def q_dq_uniqueness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate-key uniqueness census over the namespace's declared
    keys (single-column ids plus lineitem's composite order/line key) —
    the duplicate-primary-key audit a clone verification runs before
    trusting any downstream join cardinality. Shape per key: ONE
    two-phase groupBy(key).count() (map-side partials; the exchange
    carries one row per distinct key) + a single-row fold of that count
    table into 5 counters; the 4-row union is driver-sized. NULL key
    parts are excluded (a NULL never equals anything, so it cannot
    collide); dup_rows_ppm is exact floor ppm on exactly-summed
    bigints, zero-guarded for empty tables on both engines."""
    outs = []
    for label, table, cols in _UNIQ_KEYS:
        t = load(spark, sf_dir, table)
        nn = None
        for c in cols:
            cond = F.col(c).isNotNull()
            nn = cond if nn is None else (nn & cond)
        m = t.filter(nn).groupBy(*cols).agg(F.count(F.lit(1)).alias("m"))
        agg = m.agg(
            F.coalesce(F.sum("m"), F.lit(0)).alias("nr"),
            F.count(F.lit(1)).alias("nk"),
            F.sum(F.when(F.col("m") > 1, 1).otherwise(0)).alias("dk"),
            F.coalesce(F.max("m"), F.lit(0)).alias("mm"),
        )
        outs.append(
            agg.select(
                F.lit(label).alias("key_name"),
                F.col("nr").cast("long").alias("n_rows"),
                F.col("nk").cast("long").alias("n_keys"),
                F.coalesce(F.col("dk"), F.lit(0)).cast("long").alias("dup_keys"),
                F.col("mm").cast("long").alias("max_mult"),
                F.when(
                    F.col("nr") > 0,
                    F.expr("((nr - nk) * 1000000L) div nr"),
                ).otherwise(F.lit(0)).cast("long").alias("dup_rows_ppm"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionAll(o)
    return out


# Referential-integrity audit: per declared foreign key, how many child
# rows point at a missing parent, and how many distinct parents are
# missing. The clone-fidelity reading: a partially-failed clone (child
# table copied, parent truncated) or an ingest race shows orphans here
# before any inner join silently drops the rows.
_FK_EDGES = [
    ("lineitem.l_orderkey->orders", "lineitem", "l_orderkey",
     "orders", "o_orderkey"),
    ("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey",
     "supplier", "s_suppkey"),
    ("orders.o_custkey->customer", "orders", "o_custkey",
     "customer", "c_custkey"),
    ("nation.n_regionkey->region", "nation", "n_regionkey",
     "region", "r_regionkey"),
]


def _fk_oracle() -> str:
    parts = []
    for label, child, fk, parent, pk in _FK_EDGES:
        parts.append(f"""
SELECT '{label}' AS fk_name,
       CAST(COALESCE(SUM(m), 0) AS BIGINT) AS n_child_rows,
       CAST(COALESCE(SUM(CASE WHEN orphan THEN m ELSE 0 END), 0)
            AS BIGINT) AS n_orphan_rows,
       CAST(COALESCE(SUM(CASE WHEN orphan THEN 1 ELSE 0 END), 0) AS BIGINT)
         AS missing_parents,
       CAST(CASE WHEN COALESCE(SUM(m), 0) > 0
                 THEN (COALESCE(SUM(CASE WHEN orphan THEN m ELSE 0 END), 0)
                       * 1000000) // SUM(m)
                 ELSE 0 END AS BIGINT) AS orphan_ppm
FROM (SELECT k.{fk}, k.m,
             NOT EXISTS (SELECT 1 FROM {parent} p
                         WHERE p.{pk} = k.{fk}) AS orphan
      FROM (SELECT {fk}, COUNT(*)::BIGINT AS m
            FROM {child} WHERE {fk} IS NOT NULL GROUP BY {fk}) k)""")
    return "\nUNION ALL\n".join(parts)


_ORACLE_DQ_REFERENTIAL = _fk_oracle()


@register("q_dq_referential", oracle=_ORACLE_DQ_REFERENTIAL, tier="X")
def q_dq_referential(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit over the namespace's foreign keys
    (fact->fact and fact->dimension edges) — the orphaned-row census a
    clone verification runs so a truncated parent table is caught
    BEFORE inner joins silently drop the children. Shape per FK: the
    child side first collapses to a two-phase groupBy(fk).count()
    (the exchange carries one row per DISTINCT child key, never child
    rows), then a LEFT ANTI join against the parent key column marks
    missing parents — distinct-key-sized on both sides, with AQE free
    to broadcast the smaller side at runtime — and a single-row fold
    produces the counters. NULL FKs are excluded (SQL semantics: a
    NULL FK is not a reference); orphan_ppm is exact floor ppm,
    zero-guarded for empty children. The 4-row union is driver-sized."""
    outs = []
    for label, child, fk, parent, pk in _FK_EDGES:
        k = (
            load(spark, sf_dir, child)
            .filter(F.col(fk).isNotNull())
            .groupBy(fk)
            .agg(F.count(F.lit(1)).alias("m"))
        )
        par = load(spark, sf_dir, parent).select(F.col(pk).alias(fk)).distinct()
        orphans = k.join(par, fk, "left_anti")
        totals = k.agg(
            F.coalesce(F.sum("m"), F.lit(0)).alias("ncr")
        )
        oagg = orphans.agg(
            F.coalesce(F.sum("m"), F.lit(0)).alias("orows"),
            F.count(F.lit(1)).alias("oparents"),
        )
        outs.append(
            totals.crossJoin(F.broadcast(oagg)).select(
                F.lit(label).alias("fk_name"),
                F.col("ncr").cast("long").alias("n_child_rows"),
                F.col("orows").cast("long").alias("n_orphan_rows"),
                F.col("oparents").cast("long").alias("missing_parents"),
                F.when(
                    F.col("ncr") > 0,
                    F.expr("(orows * 1000000L) div ncr"),
                ).otherwise(F.lit(0)).cast("long").alias("orphan_ppm"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionAll(o)
    return out


# Column-completeness census over events: per column, null rate plus a
# type-appropriate degeneracy rate (blank-after-trim for strings, exact
# zero for numerics, n/a for timestamps). The profile a training-data
# ingest reads before trusting a feed: a null-rate step change or a
# blank/zero flood is the upstream-schema-drift alarm.
_COMPLETENESS_COLS = [
    ("event_id", "numeric"),
    ("ts", "timestamp"),
    ("user_id", "numeric"),
    ("event_type", "string"),
    ("value", "numeric"),
    ("props", "string"),
]


def _completeness_oracle() -> str:
    parts = []
    for col, kind in _COMPLETENESS_COLS:
        # COALESCE(.., 0) on every countable sum: on an EMPTY events
        # table DuckDB's un-coalesced SUM is NULL while the engine side
        # emits coalesce(.., 0L) = 0 — only the timestamp degeneracy
        # branch stays NULL (n/a by type, both engines).
        if kind == "string":
            degen = (
                f"COALESCE(SUM(CASE WHEN trim({col}) = '' "
                "THEN 1 ELSE 0 END), 0)"
            )
        elif kind == "numeric":
            degen = f"COALESCE(SUM(CASE WHEN {col} = 0 THEN 1 ELSE 0 END), 0)"
        else:
            degen = "NULL"
        parts.append(f"""
SELECT '{col}' AS col_name,
       COUNT(*)::BIGINT AS n_rows,
       CAST(COALESCE(SUM(CASE WHEN {col} IS NULL THEN 1 ELSE 0 END), 0)
            AS BIGINT) AS n_null,
       CAST(CASE WHEN COUNT(*) > 0
                 THEN (SUM(CASE WHEN {col} IS NULL THEN 1 ELSE 0 END)
                       * 1000000) // COUNT(*)
                 ELSE 0 END AS BIGINT) AS null_ppm,
       CAST({degen} AS BIGINT) AS n_degenerate
FROM events""")
    return "\nUNION ALL\n".join(parts)


_ORACLE_DQ_COMPLETENESS = _completeness_oracle()


@register("q_dq_completeness", oracle=_ORACLE_DQ_COMPLETENESS, tier="X")
def q_dq_completeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-completeness census over the event stream: per column,
    the null rate (exact floor ppm) and a type-appropriate degeneracy
    count — blank-after-trim for strings, exact zero for numerics,
    NULL (n/a) for timestamps. The feed-health profile an ingest gate
    reads before accepting a batch; complements q_dq_profile (value
    ranges) and q_dq_constraints (domain rules) with presence/shape.

    Shape: ALL columns audit in ONE scan — a single global aggregate
    computes every counter as a conditional sum (map-side partials,
    one single-partition exchange carrying ~13 longs), and the per-
    column rows are driver-sized projections of that one row; the
    6-row union never touches data. Zero joins, zero hash exchanges."""
    ev = load(spark, sf_dir, "events")
    aggs = [F.count(F.lit(1)).alias("nr")]
    for col, kind in _COMPLETENESS_COLS:
        aggs.append(
            F.sum(F.when(F.col(col).isNull(), 1).otherwise(0)).alias(f"nn_{col}")
        )
        if kind == "string":
            aggs.append(
                F.sum(
                    F.when(F.trim(F.col(col)) == "", 1).otherwise(0)
                ).alias(f"dg_{col}")
            )
        elif kind == "numeric":
            aggs.append(
                F.sum(F.when(F.col(col) == 0, 1).otherwise(0)).alias(f"dg_{col}")
            )
    one = ev.agg(*aggs)
    # stack(), not a 6-way union of selects: each union branch re-plans
    # the whole aggregate subtree (measured: 6 FileScans), while stack
    # pivots the ONE agg row into 6 rows in a plain projection —
    # genuinely one scan, one SinglePartition exchange.
    branches = []
    for col, kind in _COMPLETENESS_COLS:
        degen = (
            f"CAST(coalesce(dg_{col}, 0L) AS BIGINT)"
            if kind != "timestamp"
            else "CAST(NULL AS BIGINT)"
        )
        branches.append(
            f"'{col}', CAST(nr AS BIGINT), "
            f"CAST(coalesce(nn_{col}, 0L) AS BIGINT), "
            f"CAST(CASE WHEN nr > 0 THEN (coalesce(nn_{col}, 0L) * 1000000L) div nr "
            f"ELSE 0L END AS BIGINT), {degen}"
        )
    return one.select(
        F.expr(
            f"stack({len(_COMPLETENESS_COLS)}, {', '.join(branches)}) AS "
            "(col_name, n_rows, n_null, null_ppm, n_degenerate)"
        )
    )


# Full-row duplicate census: per table, how many physical rows are
# byte-identical copies of another row — the double-ingest / re-run
# detector (an at-least-once loader that replayed a batch shows up
# here before any key-based check fires, because surrogate keys make
# q_dq_uniqueness blind to replays of keyless staging tables). Row
# identity is the COMPLETE column tuple under grouping (null-safe)
# equality — identical on both engines.
_DUP_ROWS_TABLES = [
    ("orders", ["o_orderkey", "o_custkey", "o_orderstatus",
                "o_totalprice", "o_orderdate", "o_orderpriority"]),
    ("customer", ["c_custkey", "c_name", "c_nationkey",
                  "c_acctbal", "c_mktsegment"]),
    ("supplier", ["s_suppkey", "s_name", "s_nationkey", "s_acctbal"]),
]


def _dup_rows_oracle() -> str:
    parts = []
    for tbl, cols in _DUP_ROWS_TABLES:
        tup = ", ".join(cols)
        parts.append(f"""
SELECT '{tbl}' AS table_name,
       COUNT(*)::BIGINT AS n_rows,
       COUNT(DISTINCT ({tup}))::BIGINT AS n_distinct_rows,
       (COUNT(*) - COUNT(DISTINCT ({tup})))::BIGINT AS n_dup_rows,
       CAST(CASE WHEN COUNT(*) > 0
                 THEN ((COUNT(*) - COUNT(DISTINCT ({tup}))) * 1000000)
                      // COUNT(*)
                 ELSE 0 END AS BIGINT) AS dup_ppm
FROM {tbl}""")
    return "\nUNION ALL\n".join(parts)


_ORACLE_DQ_DUP_ROWS = _dup_rows_oracle()


@register("q_dq_dup_rows", oracle=_ORACLE_DQ_DUP_ROWS, tier="X")
def q_dq_dup_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-row duplicate census over the relational namespace
    (orders/customer/supplier): physical row count, distinct full-row
    count, duplicate surplus, exact floor-ppm duplicate rate. Shape
    per table: ONE scan into a single COUNT(DISTINCT struct(*)) — one
    distinct column, so NO Expand (unlike q_dq_profile's 5-way): the
    partial aggregate dedups full rows map-side and the exchange
    carries one row per DISTINCT tuple, the same narrowing every exact
    dedup here relies on. The 3-row union is driver-sized. At 100 TB
    swap the struct for xxhash64(struct) first (8-byte partials,
    collision-audited) — the q_dedup_exact key discipline."""
    outs = []
    for tbl, cols in _DUP_ROWS_TABLES:
        t = load(spark, sf_dir, tbl)
        row = F.struct(*[F.col(c) for c in cols])
        outs.append(
            t.agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.count_distinct(row).cast("long").alias("n_distinct_rows"),
            ).select(
                F.lit(tbl).alias("table_name"),
                "n_rows",
                "n_distinct_rows",
                (F.col("n_rows") - F.col("n_distinct_rows"))
                .cast("long")
                .alias("n_dup_rows"),
                F.when(
                    F.col("n_rows") > 0,
                    F.expr(
                        "((n_rows - n_distinct_rows) * 1000000L)"
                        " div n_rows"
                    ),
                ).otherwise(F.lit(0)).cast("long").alias("dup_ppm"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionAll(o)
    return out


# Header-vs-lines reconciliation: orders.o_totalprice against the
# lineitem-derived total SUM(extendedprice * (1-discount) * (1+tax)).
# The cross-TABLE consistency check a clone/ingest verification runs
# after the per-table fingerprints pass: two individually-perfect
# copies can still disagree with each other (partial re-ingest, a
# header recomputed after lines changed). This fixture's generator
# does NOT maintain the TPC-H identity, which is exactly the realistic
# reading: the key is a DRIFT census (how many, how far), not an
# assertion. All comparisons in integer cents, floored per ROW (one
# double product per line — no summed-double rounding anywhere).
_ORACLE_DQ_RECONCILE = """
WITH li AS (
  SELECT l_orderkey,
         SUM(CASE WHEN NOT isnan(COALESCE(l_extendedprice, 0.0))
                     AND abs(COALESCE(l_extendedprice, 0.0)) <= 1e15
                THEN CAST(FLOOR(COALESCE(l_extendedprice, 0.0)
                                * (1 - COALESCE(l_discount, 0.0))
                                * (1 + COALESCE(l_tax, 0.0)) * 100) AS BIGINT)
                ELSE 0 END) AS derived_cents
  FROM lineitem GROUP BY l_orderkey
),
j AS (
  SELECT o.o_orderstatus AS status,
         CASE WHEN NOT isnan(COALESCE(o.o_totalprice, 0.0))
                   AND abs(COALESCE(o.o_totalprice, 0.0)) <= 1e15
              THEN CAST(FLOOR(o.o_totalprice * 100) AS BIGINT)
         END AS header_cents,
         li.derived_cents
  FROM orders o LEFT JOIN li ON o.o_orderkey = li.l_orderkey
)
SELECT status,
       COUNT(*)::BIGINT AS n_orders,
       CAST(COALESCE(SUM(CASE WHEN derived_cents IS NULL
                               THEN 1 ELSE 0 END), 0) AS BIGINT)
         AS n_no_lines,
       CAST(COALESCE(SUM(CASE WHEN derived_cents IS NOT NULL
                               AND abs(header_cents - derived_cents) <= 1
                               THEN 1 ELSE 0 END), 0) AS BIGINT)
         AS n_reconciled,
       CAST(COALESCE(MAX(CASE WHEN derived_cents IS NOT NULL
                               THEN abs(header_cents - derived_cents) END), 0)
            AS BIGINT) AS max_abs_delta_cents,
       CAST(COALESCE(SUM(CASE WHEN derived_cents IS NOT NULL
                               THEN abs(header_cents - derived_cents) END), 0)
            AS BIGINT) AS total_abs_delta_cents
FROM j GROUP BY status
"""


@register("q_dq_reconcile", oracle=_ORACLE_DQ_RECONCILE, tier="X")
def q_dq_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table header-vs-lines reconciliation: per order status,
    how many orders' o_totalprice agrees (within one cent) with the
    lineitem-derived total, how many have no lines at all, and the
    worst/summed drift in cents. Shape: lineitem collapses two-phase
    to an orderkey-cents table (exchange carries one row per order,
    never line rows); the header join is key-partitioned on both
    sides (AQE may broadcast the smaller at runtime); the census fold
    is |status|-sized. Integer cents floored per ROW — the one double
    product each line contributes is computed identically on both
    engines, so no summed-double ever meets a rounding boundary."""
    li = (
        load(spark, sf_dir, "lineitem")
        .select(
            "l_orderkey",
            # same floor-saturation guard as q_events_pareto (Spark
            # floor(double) returns a SATURATING long on non-finite)
            F.expr(
                "CASE WHEN NOT isnan(coalesce(l_extendedprice, 0.0))"
                " AND abs(coalesce(l_extendedprice, 0.0)) <= 1e15"
                " THEN floor(coalesce(l_extendedprice, 0.0)"
                " * (1 - coalesce(l_discount, 0.0))"
                " * (1 + coalesce(l_tax, 0.0)) * 100)"
                " ELSE 0L END"
            ).alias("line_cents"),
        )
        .groupBy("l_orderkey")
        .agg(F.sum("line_cents").alias("derived_cents"))
    )
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_orderstatus").alias("status"),
        F.expr(
            "CASE WHEN NOT isnan(coalesce(o_totalprice, 0.0))"
            " AND abs(coalesce(o_totalprice, 0.0)) <= 1e15"
            " THEN floor(o_totalprice * 100) END"
        ).alias("header_cents"),
    )
    j = o.join(li, o.o_orderkey == li.l_orderkey, "left").select(
        "status", "header_cents", "derived_cents"
    )
    delta = F.abs(F.col("header_cents") - F.col("derived_cents"))
    has = F.col("derived_cents").isNotNull()
    return j.groupBy("status").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.coalesce(F.sum(F.when(~has, 1).otherwise(0)), F.lit(0))
        .cast("long")
        .alias("n_no_lines"),
        F.coalesce(
            F.sum(F.when(has & (delta <= 1), 1).otherwise(0)), F.lit(0)
        ).cast("long").alias("n_reconciled"),
        F.coalesce(F.max(F.when(has, delta)), F.lit(0))
        .cast("long")
        .alias("max_abs_delta_cents"),
        F.coalesce(F.sum(F.when(has, delta)), F.lit(0))
        .cast("long")
        .alias("total_abs_delta_cents"),
    )
