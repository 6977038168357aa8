"""Reproducible sampling, splitting, pivoting, and decorrelation.

Training-data-pipeline tier ([X], north star): a 100 TB corpus pipeline
needs *deterministic* sampling — `df.sample()` draws differently per
retry/repartition, which silently changes the training set. Every
operator here derives its randomness from a multiplicative hash of a
stable key, so the same row lands in the same split on any cluster, any
partitioning, any retry. Reference grounding for the shape of the need:
the reference's only "sampling" is the work-list subset it clones
(clone_databases.sh:1025) — deterministic by construction; we preserve
that property at scale.

Hash choice: Knuth multiplicative hash `((key % 1000000007) * 2654435761)
% 1000000007` in plain int64 arithmetic — identical in Spark and DuckDB,
so these ops are fully oracle-checkable (unlike xxhash64, which DuckDB
lacks). The inner `% MOD` is load-bearing: it bounds the multiplicand so
the product stays under 2^63 for EVERY int64 key — the naive
`key * KNUTH` overflows past key ~3.5e9 (Spark ANSI mode and DuckDB both
raise on bigint overflow), and by modular congruence the reduced form
yields the exact same bucket. Agreement across engines, including
negative keys (dividend-sign `%` in both), is pinned in
tests/test_sampling.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from database_cloner_spark.functions import ranks
from database_cloner_spark.functions.rational import ratio, ratio_sql
from database_cloner_spark.registry import register
from database_cloner_spark.sources import load

_KNUTH = 2654435761
_MOD = 1000000007


def _split_hash(key):
    """Deterministic per-row draw, stable under retries, repartitioning,
    and cluster size — unlike rand()/df.sample(). The inner % bounds the
    multiplicand so the product never overflows int64 (see module doc)."""
    return ((F.col(key) % F.lit(_MOD)) * F.lit(_KNUTH)) % F.lit(_MOD)


_ORACLE_SPLIT = f"""
WITH assigned AS (
  SELECT lang, n_chars,
         CASE WHEN ((doc_id % {_MOD}) * {_KNUTH}) % {_MOD} % 10 < 8 THEN 'train'
              WHEN ((doc_id % {_MOD}) * {_KNUTH}) % {_MOD} % 10 = 8 THEN 'val'
              ELSE 'test' END AS split
  FROM documents
)
SELECT split, lang, COUNT(*) AS n_docs,
       {ratio_sql("CAST(SUM(n_chars) AS BIGINT)", "COUNT(*)", 2)} AS avg_chars
FROM assigned GROUP BY split, lang
"""


@register("q_sample_split", oracle=_ORACLE_SPLIT, tier="X")
def q_sample_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """80/10/10 train/val/test split by hash of doc_id — the canonical
    reproducible dataset split. Pure map-side projection (no shuffle to
    assign); the per-split stats are one hash-agg. A row's split never
    changes when the corpus is re-partitioned or rows are added."""
    docs = load(spark, sf_dir, "documents")
    bucket = _split_hash("doc_id") % 10
    return (
        docs.withColumn(
            "split",
            F.when(bucket < 8, "train").when(bucket == 8, "val").otherwise("test"),
        )
        .groupBy("split", "lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("__chars"),
        )
        .select(
            "split",
            "lang",
            "n_docs",
            # integer-exact rounding (functions/rational) — ROUND-tie class
            ratio(F.col("__chars"), F.col("n_docs"), 2).alias("avg_chars"),
        )
    )


_ORACLE_STRATIFIED = f"""
SELECT doc_id, lang
FROM documents
WHERE ((doc_id % {_MOD}) * {_KNUTH}) % {_MOD} % 100 <
      CASE WHEN lang = 'en' THEN 5 ELSE 50 END
"""


@register("q_sample_stratified", oracle=_ORACLE_STRATIFIED, tier="X")
def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified downsampling with per-stratum rates (rebalance a
    corpus dominated by one language: keep 5% of 'en', 50% of the rest).
    Deterministic analogue of `df.sampleBy` — a pure filter, pushable to
    the scan, zero shuffle; rates live in a CASE expression (or a
    broadcast-joined rate table for many strata)."""
    docs = load(spark, sf_dir, "documents")
    rate = F.when(F.col("lang") == "en", 5).otherwise(50)
    return docs.filter(_split_hash("doc_id") % 100 < rate).select("doc_id", "lang")


_ORACLE_SHUFFLE = f"""
SELECT doc_id, ((doc_id % {_MOD}) * {_KNUTH}) % {_MOD} AS shuffle_key
FROM documents
ORDER BY shuffle_key
"""


@register("q_shuffle_deterministic", oracle=_ORACLE_SHUFFLE, tier="X")
def q_shuffle_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible global shuffle for training-order randomization:
    total order by hash(key). Spark plans this as a range-partitioned
    sort (sampled range boundaries, then per-partition sort) — fully
    distributed, no single-reducer bottleneck, and the order is
    identical on every run/cluster, unlike ORDER BY rand()."""
    docs = load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", _split_hash("doc_id").alias("shuffle_key")
    ).orderBy("shuffle_key")


_ORACLE_PIVOT = """
SELECT user_id,
       COUNT(*) FILTER (WHERE event_type = 'click')    AS click,
       COUNT(*) FILTER (WHERE event_type = 'error')    AS error,
       COUNT(*) FILTER (WHERE event_type = 'purchase') AS purchase,
       COUNT(*) FILTER (WHERE event_type = 'signup')   AS signup,
       COUNT(*) FILTER (WHERE event_type = 'view')     AS view
FROM events GROUP BY user_id
"""

_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


@register("q_pivot_events", oracle=_ORACLE_PIVOT, tier="X")
def q_pivot_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event-type pivot (feature matrix for the events table).
    Pivot values passed explicitly: without them Spark runs an extra
    distinct-collect job on the driver to discover columns — at 100 TB
    that is a full scan before the real one. One hash-agg, map-side
    partials, no second pass."""
    ev = load(spark, sf_dir, "events")
    out = (
        ev.groupBy("user_id")
        .pivot("event_type", _EVENT_TYPES)
        .count()
        .na.fill(0, _EVENT_TYPES)
    )
    return out


_ORACLE_CUBE = """
SELECT l_returnflag, l_linestatus,
       GROUPING(l_returnflag, l_linestatus) AS gid,
       COUNT(*) AS n_rows,
       ROUND(SUM(l_quantity), 2) AS sum_qty
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
HAVING COUNT(*) > 0
"""
# HAVING: same empty-input pin as q_agg_rollup's oracle (Spark's Expand
# emits no groupings over an empty input; no-op otherwise).


@register("q_agg_cube", oracle=_ORACLE_CUBE, tier="X")
def q_agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (returnflag, linestatus) with grouping_id to tell a
    real NULL group from a subtotal row. Companion of q_agg_rollup;
    Spark expands the cube map-side (Expand operator) then one
    hash-agg — partials still combine before the shuffle."""
    li = load(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.grouping_id().alias("gid"),
        F.count("*").alias("n_rows"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
    )


_ORACLE_GROUPING_SETS = """
SELECT l_returnflag, l_linestatus,
       GROUPING(l_returnflag, l_linestatus) AS gid,
       COUNT(*) AS n_rows,
       ROUND(SUM(l_extendedprice), 2) AS sum_price
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
HAVING COUNT(*) > 0
"""
# HAVING: same empty-input pin as q_agg_rollup's oracle.


@register("q_agg_grouping_sets", oracle=_ORACLE_GROUPING_SETS, tier="X")
def q_agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS — the general form rollup/cube specialize
    (here: detail + per-flag subtotal + grand total, i.e. the ROLLUP
    sets written out by hand). Same Expand-then-one-hash-agg physical
    shape as cube: each input row fans out to its matching sets
    map-side, partials combine before the single shuffle — no
    multi-pass union of separate aggregations."""
    li = load(spark, sf_dir, "lineitem")
    return li.groupingSets(
        [["l_returnflag", "l_linestatus"], ["l_returnflag"], []],
        "l_returnflag",
        "l_linestatus",
    ).agg(
        F.grouping_id().alias("gid"),
        F.count("*").alias("n_rows"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
    )


_ORACLE_CORR_SUBQUERY = """
SELECT l.l_partkey AS partkey,
       COUNT(*) AS n_small,
       ROUND(SUM(l.l_extendedprice), 2) AS small_revenue
FROM lineitem l
WHERE l.l_quantity < (
  SELECT 0.5 * AVG(l2.l_quantity) FROM lineitem l2
  WHERE l2.l_partkey = l.l_partkey
)
GROUP BY l.l_partkey
"""


@register("q_corr_subquery", oracle=_ORACLE_CORR_SUBQUERY, tier="X")
def q_corr_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery (TPC-H Q17 shape): lineitems with
    quantity below half their part's average. Expressed decorrelated —
    per-part avg as a grouped agg joined back on partkey — which is
    exactly the plan Catalyst rewrites the correlated form into; writing
    it decorrelated keeps the self-join explicit (one shuffle on
    l_partkey reused by both the agg and the join side under AQE)."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    avgs = li.groupBy("l_partkey").agg(
        (F.avg("l_quantity") * 0.5).alias("half_avg_qty")
    )
    return (
        li.join(avgs, "l_partkey")
        .filter(F.col("l_quantity") < F.col("half_avg_qty"))
        .groupBy(F.col("l_partkey").alias("partkey"))
        .agg(
            F.count("*").alias("n_small"),
            F.round(F.sum("l_extendedprice"), 2).alias("small_revenue"),
        )
    )


_ORACLE_MIXTURE = f"""
WITH counts AS (
  SELECT source, COUNT(*) AS n_src FROM documents GROUP BY source
),
m AS (SELECT MIN(n_src) AS n_min FROM counts)
SELECT d.doc_id, d.source
FROM documents d JOIN counts c USING (source) CROSS JOIN m
WHERE ((d.doc_id % {_MOD}) * {_KNUTH}) % {_MOD} % 1000000
      < sqrt(m.n_min::DOUBLE / c.n_src) * 1000000.0
"""


def mixture_sample(docs: DataFrame) -> DataFrame:
    """Per-source temperature-based mixture resampling (the data-mixing step of
    pre-training: downweight dominant sources toward a sqrt-flattened
    distribution). Per-source acceptance rate = sqrt(n_min / n_src), so
    the rarest source is kept whole and a source k times larger keeps
    sqrt(1/k) of its docs.

    Two passes over the corpus: one hash-agg for per-source counts,
    then the per-source rate table (rows = #sources, tiny) is BROADCAST
    back and the accept test is a map-side filter on the deterministic
    Knuth draw — no corpus shuffle at any point. sqrt is IEEE-754
    correctly rounded, so Spark and DuckDB agree bit-for-bit (the
    engine rule banning transcendentals allows sqrt for exactly this
    reason)."""
    counts = docs.groupBy("source").agg(F.count("*").alias("n_src"))
    n_min = counts.agg(F.min("n_src").alias("n_min"))
    rates = counts.crossJoin(F.broadcast(n_min)).select(
        "source",
        (F.sqrt(F.col("n_min").cast("double") / F.col("n_src")) * 1000000.0).alias(
            "__cut"
        ),
    )
    return (
        docs.join(F.broadcast(rates), "source")
        .filter(_split_hash("doc_id") % 1000000 < F.col("__cut"))
        .select("doc_id", "source")
    )


@register("q_sample_mixture", oracle=_ORACLE_MIXTURE, tier="X")
def q_sample_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sqrt-temperature mixture resampling over documents.source (see
    mixture_sample)."""
    return mixture_sample(load(spark, sf_dir, "documents"))


_ORACLE_SALTED = """
SELECT event_type, COUNT(*) AS n, ROUND(SUM(value), 2) AS total_value
FROM events GROUP BY event_type
"""


@register("q_agg_salted", oracle=_ORACLE_SALTED, tier="X")
def q_agg_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-proof aggregation on a LOW-cardinality hot key (event_type:
    5 values over the whole corpus — exactly the shape where one
    reducer would own 20% of 100 TB). Two-phase with an explicit
    content-derived salt: partials on (key, salt) spread each hot key
    over 16 reducers, then 16 constant-size partials combine per key.
    The oracle is the PLAIN group-by — salting must be output-invisible."""
    from database_cloner_spark.functions.skew import salted_agg

    ev = load(spark, sf_dir, "events").select("event_type", "value")
    out = salted_agg(
        ev,
        keys=["event_type"],
        aggs=[
            F.count("*").alias("n"),
            F.sum("value").alias("total_value"),
        ],
        n_salts=16,
    )
    return out.select(
        "event_type",
        F.col("n"),
        F.round("total_value", 2).alias("total_value"),
    )


_ORACLE_JOIN_SALTED = """
WITH type_stats AS (
  SELECT event_type, COUNT(*) AS n_type,
         ROUND(SUM(value), 2) AS type_value
  FROM events GROUP BY event_type
)
SELECT e.event_id, e.event_type, t.n_type, t.type_value
FROM events e JOIN type_stats t USING (event_type)
"""


@register("q_join_salted", oracle=_ORACLE_JOIN_SALTED, tier="X")
def q_join_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-proof equi-join on a LOW-cardinality hot key (event_type: 5
    values — each key owns ~20% of the fact table, so an unsalted
    shuffle join lands a fifth of 100 TB on one reducer). salted_join
    (functions/skew.py) appends a content-derived salt to the skewed
    side's key and explodes the other side n_salts ways, bounding any
    reducer to ~1/16 of a hot key. At this fixture scale AQE would just
    broadcast the 5-row side — the registered query pins the MECHANISM
    (the q_agg_salted companion for joins, used when the other side is
    too big to broadcast and AQE skew-split can't apply); the oracle is
    the PLAIN join — salting must be output-invisible."""
    from database_cloner_spark.functions.skew import salted_join

    ev = load(spark, sf_dir, "events").select("event_id", "event_type", "value")
    stats = ev.groupBy("event_type").agg(
        F.count("*").alias("n_type"),
        F.round(F.sum("value"), 2).alias("type_value"),
    )
    out = salted_join(
        ev.select("event_id", "event_type"), stats, "event_type", n_salts=16
    )
    return out.select("event_id", "event_type", "n_type", "type_value")


_ORACLE_PERGROUP = f"""
WITH ranked AS (
  SELECT doc_id, lang,
         ROW_NUMBER() OVER (
           PARTITION BY lang
           ORDER BY ((doc_id % {_MOD}) * {_KNUTH}) % {_MOD}, doc_id
         ) AS rn
  FROM documents
)
SELECT doc_id, lang FROM ranked WHERE rn <= 20
"""


@register("q_sample_pergroup", oracle=_ORACLE_PERGROUP, tier="X")
def q_sample_pergroup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size per-group sample (20 docs per language, the
    'build me an eval slice per stratum' op): row_number over the
    deterministic hash order, so membership never changes across
    runs/clusters/retries — unlike per-group reservoir sampling.
    Plans as WindowGroupLimit: the rank filter prunes inside each
    partial window, no full per-group sort materializes."""
    docs = load(spark, sf_dir, "documents")
    order = [_split_hash("doc_id"), F.col("doc_id")]
    return ranks.top(docs, ["lang"], order, 20).select("doc_id", "lang")


_ES_SEED = 7
_ES_K = 50

# Efraimidis–Spirakis key in SQL: u = (knuth_hash(doc_id + seed) + 0.5)/MOD
# is a deterministic uniform in (0,1); ln(u)/w is the ES priority
# (maximizing it == maximizing u^(1/w)). Both engines evaluate the same
# IEEE-754 double expression; the only transcendental is ln, whose
# cross-engine agreement has ~1e16 relative margin against the key gaps
# at the rank-k boundary (adjacent priorities differ in the 3rd-6th
# digit on every fixture — pinned in tests/test_sampling.py).
# ((id % MOD + MOD + seed) % MOD) replays the engine's
# pmod-before-seed-add (es_sample): overflow-free for every int64 key
# and positive for negative keys; same value as the old direct form
# wherever that one was defined.
_ORACLE_SAMPLE_WEIGHTED = f"""
SELECT doc_id FROM (
  SELECT doc_id,
         ln((((doc_id % {_MOD} + {_MOD} + {_ES_SEED}) % {_MOD})
             * {_KNUTH} % {_MOD} + 0.5) / {_MOD}) / n_chars AS es_key
  FROM documents
  WHERE doc_id IS NOT NULL AND n_chars IS NOT NULL AND n_chars > 0
  ORDER BY es_key DESC, doc_id
  LIMIT {_ES_K}
)
"""


def es_sample(df, key_col: str, weight_col: str, k: int):
    """Efraimidis–Spirakis weighted sample WITHOUT replacement: the k
    rows with the largest hash-derived priorities u^(1/w) (compared in
    the monotone-equivalent ln(u)/w form). Deterministic in the key
    (seeded by _ES_SEED, which the oracle reads too);
    rows with NULL keys or non-positive/NULL weights are excluded."""
    eligible = df.filter(
        F.col(key_col).isNotNull()
        & F.col(weight_col).isNotNull()
        & (F.col(weight_col) > 0)
    )
    # pmod the key BEFORE the seed add: `key + seed` overflows int64 for
    # keys near Long.MAX (hash-derived ids get there), and pmod keeps u
    # in (0,1) for negative keys too (the raw `%` made ln(u) NaN there).
    # Identical to the old value for every key the old form didn't
    # overflow/poison (same congruence; extreme-id probe, r10).
    x = F.pmod(F.pmod(F.col(key_col), F.lit(_MOD)) + F.lit(_ES_SEED), F.lit(_MOD))
    h = (x * F.lit(_KNUTH)) % F.lit(_MOD)
    u = (h + F.lit(0.5)) / F.lit(_MOD)
    es_key = F.log(u) / F.col(weight_col)
    return (
        eligible.withColumn("__es_key", es_key)
        .orderBy(F.desc("__es_key"), F.asc(key_col))
        .limit(k)
    )


@register("q_sample_weighted", oracle=_ORACLE_SAMPLE_WEIGHTED, tier="X")
def q_sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement
    (Efraimidis–Spirakis 2006, public): each doc draws priority
    u^(1/w) — u a hash-derived uniform, w = n_chars — and the k
    largest priorities are the sample, so inclusion probability is
    weight-proportional. This is the training-mix primitive ("sample
    50 docs weighted by length/quality score") done the deterministic
    way: same rows selected on any cluster, any partitioning, any
    retry — unlike rand()-based samplers. Scale shape: the priority is
    a map-side expression and top-k is TakeOrderedAndProject
    (per-partition heaps) — embarrassingly parallel, no global sort,
    no weight-explode (O(n), not O(total_weight)). Zero/NULL weights
    are excluded (a zero-weight doc must never be drawn)."""
    docs = load(spark, sf_dir, "documents")
    return es_sample(docs, "doc_id", "n_chars", _ES_K).select("doc_id")


# Class-balanced downsampling: every language keeps exactly
# min-class-count docs, picked by the Knuth draw (retry/repartition
# stable) with doc_id tie-break — the class-imbalance fix a training
# mix applies before sampling weights, expressed entirely in
# deterministic integer arithmetic.
_ORACLE_SAMPLE_BALANCED = f"""
WITH d AS (
  SELECT doc_id, lang,
         ((doc_id % {_MOD}) * {_KNUTH}) % {_MOD} AS h
  FROM documents WHERE lang IS NOT NULL AND doc_id IS NOT NULL
),
mc AS (
  SELECT MIN(c) AS min_count
  FROM (SELECT lang, COUNT(*) AS c FROM d GROUP BY lang)
),
r AS (
  SELECT doc_id, lang,
         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY h, doc_id) AS rn
  FROM d
)
SELECT r.doc_id, r.lang
FROM r CROSS JOIN mc
WHERE r.rn <= mc.min_count
"""


@register("q_sample_balanced", oracle=_ORACLE_SAMPLE_BALANCED, tier="X")
def q_sample_balanced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-balanced downsampling: keep exactly min-class-count docs
    of EVERY language — the majority-class cut a training mix applies
    when a head language would otherwise drown the tail. Deterministic
    by construction: the kept set is the min_count smallest Knuth draws
    per language (doc_id tie-break), so retries, repartitioning, and
    cluster size cannot change the training set (the module's standing
    contract; df.sample() cannot promise any of that). Scale shape: the
    min-class count folds two-phase to ONE row and is collected
    driver-side (a bounded-metadata collect, the centroid-ranking
    precedent) so the rank filter is a LITERAL — that is what lets
    Spark plan WindowGroupLimit, forwarding at most min_count rows per
    language from each map task instead of fully sorting a
    bounded-domain language partition; a dynamic column threshold
    defeats the pushdown, and the low-card window guard would rightly
    flag the resulting whole-language sort. Consequence, documented
    like the IVF index builds (tests/test_plans.py module note): this
    builder runs one bounded two-phase count JOB at DataFrame-build
    time — plan sweeps over this key execute that small aggregation,
    not zero jobs."""
    d = (
        load(spark, sf_dir, "documents")
        .filter(F.col("lang").isNotNull() & F.col("doc_id").isNotNull())
        .select("doc_id", "lang", _split_hash("doc_id").alias("h"))
    )
    counts = d.groupBy("lang").agg(F.count(F.lit(1)).alias("c"))
    min_count = counts.agg(F.min("c")).collect()[0][0] or 0
    order = [F.asc("h"), F.asc("doc_id")]
    return ranks.top(d, ["lang"], order, int(min_count)).select("doc_id", "lang")


# --- q_sample_temperature: alpha-flattened mixture WEIGHTS ------------------

# Exact replay: sqrt is the one IEEE-correctly-rounded transcendental
# the engine rules allow; the per-language weight is quantized onto the
# integer grid (floor(sqrt(n)*2^20 + 0.5)) so the cross-language SUM is
# an exact float64 integer under any aggregation order, and the ppm
# share is floor(1e6*q/total + 0.5) — single correctly-rounded ops end
# to end (the r11 Lloyd-oracle discipline applied to a 1-row reduce).
_ORACLE_TEMPERATURE = """
WITH counts AS (
  SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY lang
),
q AS (
  SELECT lang, n_docs,
         FLOOR(sqrt(n_docs::DOUBLE) * 1048576.0 + 0.5) AS qw
  FROM counts
),
tot AS (SELECT SUM(qw) AS t FROM q)
SELECT lang, n_docs,
       CAST(FLOOR(1000000.0 * qw / t + 0.5) AS BIGINT) AS weight_ppm
FROM q, tot
"""


@register("q_sample_temperature", oracle=_ORACLE_TEMPERATURE, tier="X")
def q_sample_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-flattened multilingual sampling WEIGHTS (the XLM-R /
    mT5 alpha-sampling config step, alpha=0.5): p_lang ∝ n_lang^alpha,
    emitted as a parts-per-million mixture table a training-data
    scheduler consumes directly. The companion to q_sample_mixture
    (which materializes a resampled corpus): this is the artifact you
    ship to the dataloader instead of moving any data.

    100 TB story: one map-combined hash-agg for per-language counts
    (shuffle = #languages rows), a 1-row total broadcast back — the
    corpus is scanned once and only counts ever shuffle. Weights are
    exact: sqrt is correctly rounded, the quantized-grid weights sum
    exactly in any order, and the ppm share is one floor-division —
    bit-identical to the DuckDB replay."""
    docs = load(spark, sf_dir, "documents")
    counts = docs.groupBy("lang").agg(F.count("*").alias("n_docs"))
    q = counts.withColumn(
        "qw",
        F.floor(
            F.sqrt(F.col("n_docs").cast("double")) * F.lit(1048576.0)
            + F.lit(0.5)
        ).cast("double"),
    )
    tot = q.agg(F.sum("qw").alias("t"))
    return q.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n_docs",
        F.floor(
            F.lit(1000000.0) * F.col("qw") / F.col("t") + F.lit(0.5)
        )
        .cast("bigint")
        .alias("weight_ppm"),
    )
