"""§2.3 Joins.

Reference grounding: skip-if-exists anti semantics (clone_databases.sh:
227-231,:791-794), validate-exists semi semantics (:612-622,:715-765),
and the [V]-tier inner/outer fidelity joins implied by the copy contract
(:245-246,:817-818). [X]-tier: multiway star join, range join, as-of join.

Join-strategy policy (the 100 TB posture):
- dimension tables (region/nation, and catalog-sized sides generally) are
  explicitly `F.broadcast` — no shuffle of the big side;
- fact-fact joins shuffle on the join key and rely on AQE for
  skew-splitting and SMJ/SHJ choice;
- the as-of join is the union+carry-forward formulation (sort within
  partition), NOT a non-equi join — a non-equi formulation explodes to
  |A_u|x|B_u| pairs per key, the union form stays O(n log n) per key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from database_cloner_spark.registry import register
from database_cloner_spark.sources import load


_ORACLE_ANTI = """
SELECT c_custkey, c_name FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
"""


@register("q_join_anti", oracle=_ORACLE_ANTI, tier="C")
def q_join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skip-if-exists (clone only targets NOT already present,
    clone_databases.sh:227-231): left-anti join. Null-safe by
    construction — unlike NOT IN, anti-join semantics ignore nulls."""
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    return cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


_ORACLE_SEMI = """
SELECT c_custkey, c_name FROM customer
WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
"""


@register("q_join_semi", oracle=_ORACLE_SEMI, tier="C")
def q_join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Validate-exists (source db must exist before cloning,
    clone_databases.sh:612-622): left-semi join — no row duplication,
    right side reduced to its key set before the probe."""
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    return cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_semi"
    ).select("c_custkey", "c_name")


_ORACLE_INNER = """
SELECT o_orderkey, c_name, ROUND(o_totalprice, 2) AS total
FROM orders JOIN customer ON o_custkey = c_custkey
"""


@register("q_join_inner", oracle=_ORACLE_INNER, tier="V")
def q_join_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi inner join on the clone key — row-matching the reference's
    copy contract only asserts via TEMPLATE (clone_databases.sh:245-246)."""
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    return orders.join(cust, orders.o_custkey == cust.c_custkey).select(
        "o_orderkey", "c_name", F.round("o_totalprice", 2).alias("total")
    )


_ORACLE_OUTER_DIFF = """
SELECT
  COALESCE(o.o_orderkey, l.l_orderkey) AS key,
  (o.o_orderkey IS NULL)               AS only_in_clone,
  (l.l_orderkey IS NULL)               AS only_in_source
FROM orders o
FULL OUTER JOIN (SELECT DISTINCT l_orderkey FROM lineitem) l
  ON o.o_orderkey = l.l_orderkey
WHERE o.o_orderkey IS NULL OR l.l_orderkey IS NULL
"""


@register("q_join_outer_diff", oracle=_ORACLE_OUTER_DIFF, tier="V")
def q_join_outer_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-outer diff: keys present in exactly one side of source vs
    clone — the row-level fidelity check the reference never performs
    (grounded in clone_databases.sh:246)."""
    orders = load(spark, sf_dir, "orders").select("o_orderkey")
    li = load(spark, sf_dir, "lineitem").select("l_orderkey").distinct()
    j = orders.join(li, orders.o_orderkey == li.l_orderkey, "full_outer")
    return j.filter(
        F.col("o_orderkey").isNull() | F.col("l_orderkey").isNull()
    ).select(
        F.coalesce("o_orderkey", "l_orderkey").alias("key"),
        F.col("o_orderkey").isNull().alias("only_in_clone"),
        F.col("l_orderkey").isNull().alias("only_in_source"),
    )


_ORACLE_BROADCAST = """
SELECT c_custkey, n_name, r_name
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
"""


@register("q_join_broadcast", oracle=_ORACLE_BROADCAST, tier="V")
def q_join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-dimension join: nation (25 rows) and region (5 rows) are
    broadcast — the fact side never shuffles. At 100 TB this is the only
    acceptable plan for catalog-sized dims."""
    cust = load(spark, sf_dir, "customer")
    nat = load(spark, sf_dir, "nation")
    reg = load(spark, sf_dir, "region")
    return (
        cust.join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
        .select("c_custkey", "n_name", "r_name")
    )


_ORACLE_MULTIWAY = """
SELECT r_name,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       COUNT(*) AS n_items
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey  = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY r_name
"""


@register("q_join_multiway", oracle=_ORACLE_MULTIWAY, tier="X")
def q_join_multiway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-way star join (TPC-H-Q5 shape), revenue per region.

    Join order is dims-first by design: orders is enriched with
    (customer -> broadcast nation -> broadcast region) and projected to
    (o_orderkey, r_name) BEFORE meeting lineitem. The largest table then
    shuffles exactly once (on its join key), and the fact-join output —
    lineitem-width x lineitem-rows — never re-shuffles on custkey, which
    at 100 TB is the dominant cost of the naive lineitem-first order.
    The price is orders shuffling twice (custkey, then orderkey) at two
    narrow columns — ~4x fewer rows and ~10x fewer bytes. Catalyst does
    not reorder joins without CBO stats, so the order is explicit.
    Measured at sf0.1: within noise of lineitem-first (stage overhead
    dominates at toy scale); the asymmetry only pays off as the fact
    table outgrows memory-resident shuffles."""
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    nat = load(spark, sf_dir, "nation")
    reg = load(spark, sf_dir, "region")
    enriched = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
        .select("o_orderkey", "r_name")
    )
    return (
        li.join(enriched, li.l_orderkey == enriched.o_orderkey)
        .groupBy("r_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            ),
            F.count("*").alias("n_items"),
        )
    )


_ORACLE_RANGE = """
SELECT r_regionkey AS band_id,
       COUNT(*) AS n_orders,
       ROUND(SUM(o_totalprice), 2) AS band_total
FROM orders
JOIN region
  ON o_totalprice >= r_regionkey * 100000.0
 AND o_totalprice <  (r_regionkey + 1) * 100000.0
GROUP BY r_regionkey
"""


@register("q_join_range", oracle=_ORACLE_RANGE, tier="X")
def q_join_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range/theta join: order totalprice binned into bands defined by a
    small dimension — broadcast nested-loop against 5 rows, so the scan
    side streams once. (A fact-fact range join would instead bucketize
    both sides and equi-join on bucket.)"""
    orders = load(spark, sf_dir, "orders")
    reg = load(spark, sf_dir, "region").select("r_regionkey")
    lo = F.col("r_regionkey") * 100000.0
    hi = (F.col("r_regionkey") + 1) * 100000.0
    return (
        orders.join(
            F.broadcast(reg), (F.col("o_totalprice") >= lo) & (F.col("o_totalprice") < hi)
        )
        .groupBy(F.col("r_regionkey").alias("band_id"))
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("band_total"),
        )
    )


_ORACLE_RANGE_GRID = """
SELECT band_id,
       COUNT(*) AS n_orders,
       ROUND(SUM(o_totalprice), 2) AS band_total
FROM orders
JOIN (SELECT n_nationkey                    AS band_id,
             n_nationkey * 7000.0           AS lo,
             n_nationkey * 7000.0 + 21000.0 AS hi
      FROM nation) bands
  ON o_totalprice >= lo AND o_totalprice < hi
GROUP BY band_id
"""


@register("q_join_range_grid", oracle=_ORACLE_RANGE_GRID, tier="X")
def q_join_range_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Big-big range join via grid bucketing (functions/range_join.py):
    orders joined to OVERLAPPING nation-derived bands (width 21000,
    stride 7000 — each total lands in up to 3 bands) with NO broadcast
    hint on either side. The value domain is cut into fixed-width cells;
    points land in one cell, intervals explode to every overlapping
    cell, and the match is a plain hash equi-join on cell id — the
    formulation that survives when BOTH sides are too large to
    broadcast (a BNLJ there is |L|×|R|). Plan guarded no-BNLJ in
    tests/test_range_join.py; output equality with the naive theta join
    proven there for three cell widths. Oracle is the plain theta-join
    SQL. (Ref analogue: the band probes of clone_databases.sh:632-641.)"""
    points = load(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    intervals = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("band_id"),
        (F.col("n_nationkey") * 7000.0).alias("lo"),
        (F.col("n_nationkey") * 7000.0 + 21000.0).alias("hi"),
    )
    from database_cloner_spark.functions.range_join import grid_range_join

    joined = grid_range_join(
        points, intervals, "o_totalprice", "lo", "hi", cell_width=7000.0
    )
    return joined.groupBy("band_id").agg(
        F.count("*").alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("band_total"),
    )


_ORACLE_BUCKETED = """
SELECT o_orderpriority,
       COUNT(*) AS n_items,
       ROUND(SUM(l_quantity), 2) AS total_qty
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
"""


@register("q_join_bucketed", oracle=_ORACLE_BUCKETED, tier="X")
def q_join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-located join over bucketed storage (sources/bucketed.py):
    lineitem and orders are persisted `bucketBy(8, orderkey)` +
    bucket-sorted, so the join plan has NO Exchange on either side —
    the write pays the shuffle once, every later join on that key is
    free. This is the 100 TB answer to re-shuffling the same fact
    table for every join. Plan-asserted shuffle-free in
    tests/test_bucketed.py; here the driver checks output equality
    with the plain (shuffled) join oracle. Bucketed tables are
    external (explicit path under a per-user temp dir) so a plain
    driver session needs no warehouse config; the write is skipped
    when this session already registered the table (bucket metadata
    is catalog-scoped, data is content-addressed by sf_dir)."""
    from database_cloner_spark.sources.bucketed import (
        bucketed_table_for,
        bucketed_join,
    )

    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    od = load(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority"
    )
    lt = bucketed_table_for(spark, li, sf_dir, "lineitem_bkt", "l_orderkey", 8)
    rt = bucketed_table_for(spark, od, sf_dir, "orders_bkt", "l_orderkey", 8)
    return bucketed_join(spark, lt, rt, "l_orderkey").groupBy("o_orderpriority").agg(
        F.count("*").alias("n_items"),
        F.round(F.sum("l_quantity"), 2).alias("total_qty"),
    )


_ORACLE_ASOF = """
SELECT
  p.event_id                                   AS purchase_id,
  p.user_id                                    AS user_id,
  strftime(p.ts, '%Y-%m-%d %H:%M:%S')          AS purchase_ts,
  strftime(c.ts, '%Y-%m-%d %H:%M:%S')          AS last_click_ts
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON p.user_id = c.user_id AND c.ts <= p.ts
"""


@register("q_join_asof", oracle=_ORACLE_ASOF, tier="X")
def q_join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for each purchase, the latest click of the same user
    at-or-before it. Spark has no native ASOF; the scalable formulation
    is union + sort-within-partition + carry-forward (last ignorenulls),
    which is one shuffle on user_id and O(n log n) per user — never the
    |purchases| x |clicks| blowup of a non-equi join."""
    ev = load(spark, sf_dir, "events")
    tagged = ev.filter(F.col("event_type").isin("purchase", "click")).select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        F.when(F.col("event_type") == "click", F.col("ts")).alias("click_ts"),
    )
    w = (
        W.partitionBy("user_id")
        # clicks sort before purchases at identical ts => <= semantics
        .orderBy("ts", F.when(F.col("event_type") == "click", 0).otherwise(1))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    carried = tagged.withColumn("last_click_ts", F.last("click_ts", ignorenulls=True).over(w))
    return carried.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("purchase_ts"),
        F.date_format("last_click_ts", "yyyy-MM-dd HH:mm:ss").alias("last_click_ts"),
    )


_ORACLE_BLOOM_SEMI = """
SELECT o_orderkey, o_custkey FROM orders
WHERE EXISTS (SELECT 1 FROM customer
              WHERE c_custkey = o_custkey AND c_mktsegment = 'BUILDING')
"""


@register("q_join_bloom_semi", oracle=_ORACLE_BLOOM_SEMI, tier="X")
def q_join_bloom_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-accelerated semi-join — the membership primitive of
    functions/bloom.py doing its actual 100 TB job. The key set
    (BUILDING-segment customers) is aggregated into a 16 KB bitmap;
    the fact side (orders) probes it MAP-SIDE via the broadcast
    map<word,bits> — at scale this discards ~all non-members before
    any join machinery runs — and the survivors (true members + the
    ~0.2% false positives the filter admits) are finished with an
    exact broadcast LEFT SEMI join, so the OUTPUT is exactly the
    plain semi-join (the oracle) regardless of FP rate. The probe
    side never shuffles: the only Exchanges in the plan belong to the
    tiny build side (bitmap groupBy + broadcasts) —
    tests/test_plans.py pins `hashpartitioning(o_` out of the plan."""
    from database_cloner_spark.functions.bloom import bloom_contains, build_bloom

    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    keys = (
        load(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    bloom = build_bloom(keys, "c_custkey")
    prefiltered = (
        orders.join(F.broadcast(bloom))  # 1-row bitmap: BNLJ, audited
        .filter(bloom_contains(F.col("o_custkey"), F.col("bloom")))
        .select("o_orderkey", "o_custkey")
    )
    exact = F.broadcast(keys)
    return prefiltered.join(
        exact, prefiltered.o_custkey == exact.c_custkey, "left_semi"
    )


_ORACLE_INTERVAL_OVERLAP = """
SELECT s_nationkey,
       COUNT(*) AS n_overlaps,
       COUNT(DISTINCT c_custkey) AS n_customers
FROM customer, supplier
WHERE c_acctbal <= s_acctbal + 500.0
  AND s_acctbal <= c_acctbal + 500.0
GROUP BY s_nationkey
"""


@register("q_join_interval_overlap", oracle=_ORACLE_INTERVAL_OVERLAP, tier="X")
def q_join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-INTERVAL overlap join, big-big (the session-vs-session /
    span-vs-span shape: neither side is a point, neither broadcasts at
    100 TB). Customer balance bands [c_acctbal, +500] against supplier
    bands [s_acctbal, +500] — the oracle is the naive |L|x|R| theta
    join; the engine runs functions/range_join.grid_interval_join: both
    sides explode to width-500 grid cells, cells hash-equi-join, and
    each overlapping pair is emitted exactly once in the cell holding
    max(lo_l, lo_r) — no dropDuplicates shuffle, no BNLJ anywhere in
    the plan (guarded in tests/test_range_join.py). Replication factor
    is (width/cell_width)+1 = 2 per side; the theta predicate evaluates
    only within cells. (Ref analogue: the band-overlap admission probes
    of clone_databases.sh:632-641, generalized to two interval sets.)"""
    from database_cloner_spark.functions.range_join import grid_interval_join

    cust = load(spark, sf_dir, "customer").select(
        "c_custkey",
        F.col("c_acctbal").alias("c_lo"),
        (F.col("c_acctbal") + 500.0).alias("c_hi"),
    )
    supp = load(spark, sf_dir, "supplier").select(
        "s_nationkey",
        F.col("s_acctbal").alias("s_lo"),
        (F.col("s_acctbal") + 500.0).alias("s_hi"),
    )
    pairs = grid_interval_join(cust, supp, "c_lo", "c_hi", "s_lo", "s_hi", 500.0)
    return pairs.groupBy("s_nationkey").agg(
        F.count(F.lit(1)).alias("n_overlaps"),
        F.countDistinct("c_custkey").alias("n_customers"),
    )


_ORACLE_ASOF_NEAREST = """
WITH t AS (
  SELECT event_id, user_id, ts, event_type,
         CASE WHEN event_type = 'click' THEN ts END AS click_ts,
         CASE WHEN event_type = 'click' THEN 0 ELSE 1 END AS flag
  FROM events
  WHERE event_type IN ('purchase', 'click')
    AND ts IS NOT NULL AND user_id IS NOT NULL
),
c AS (
  SELECT *,
    last_value(click_ts IGNORE NULLS) OVER (
      PARTITION BY user_id ORDER BY ts, flag
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS back_ts,
    last_value(click_ts IGNORE NULLS) OVER (
      PARTITION BY user_id ORDER BY ts DESC, flag
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fwd_ts
  FROM t
),
p AS (
  SELECT event_id, user_id, ts,
         CASE
           WHEN back_ts IS NULL THEN fwd_ts
           WHEN fwd_ts IS NULL THEN back_ts
           WHEN epoch_us(ts) - epoch_us(back_ts)
                <= epoch_us(fwd_ts) - epoch_us(ts) THEN back_ts
           ELSE fwd_ts
         END AS near_ts
  FROM c WHERE event_type = 'purchase'
)
SELECT event_id AS purchase_id, user_id,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
       strftime(near_ts, '%Y-%m-%d %H:%M:%S') AS nearest_click_ts,
       epoch_us(near_ts) - epoch_us(ts) AS delta_us
FROM p
"""


@register("q_join_asof_nearest", oracle=_ORACLE_ASOF_NEAREST, tier="X")
def q_join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-neighbor as-of join: for each purchase, the click of the
    same user CLOSEST in time — before or after (attribution windows
    look both ways; plain as-of only looks back). Same scalable
    union-and-carry shape as q_join_asof — ONE user_id shuffle, never a
    |purchases| x |clicks| non-equi join — but with TWO running carries
    over the same partitioning: ascending for the latest click <= ts,
    and a DESCENDING running carry for the earliest click >= ts (the
    reversed-running form; a first_value over an unbounded-FOLLOWING
    frame rescans forward from every row, O(n^2) per partition —
    SCALE.md pitfall 6). The same click-sorts-before-purchase tie flag
    gives <= / >= semantics in both directions, and ties in distance
    break toward the EARLIER click (<=) so the winner is deterministic.
    Distances compare as exact epoch-microsecond longs; delta_us < 0
    means the nearest click preceded the purchase."""
    ev = load(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "click")
        & F.col("ts").isNotNull()
        & F.col("user_id").isNotNull()
    )
    tagged = ev.select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        F.when(F.col("event_type") == "click", F.col("ts")).alias("click_ts"),
        F.when(F.col("event_type") == "click", 0).otherwise(1).alias("flag"),
    )
    w_back = (
        W.partitionBy("user_id")
        .orderBy("ts", "flag")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    w_fwd = (
        W.partitionBy("user_id")
        .orderBy(F.desc("ts"), F.asc("flag"))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    carried = tagged.select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        F.last("click_ts", ignorenulls=True).over(w_back).alias("back_ts"),
        F.last("click_ts", ignorenulls=True).over(w_fwd).alias("fwd_ts"),
    ).filter(F.col("event_type") == "purchase")
    us = F.unix_micros
    near = (
        F.when(F.col("back_ts").isNull(), F.col("fwd_ts"))
        .when(F.col("fwd_ts").isNull(), F.col("back_ts"))
        .when(
            us(F.col("ts")) - us(F.col("back_ts"))
            <= us(F.col("fwd_ts")) - us(F.col("ts")),
            F.col("back_ts"),
        )
        .otherwise(F.col("fwd_ts"))
    )
    return carried.select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("purchase_ts"),
        F.date_format(near, "yyyy-MM-dd HH:mm:ss").alias("nearest_click_ts"),
        (us(near) - us(F.col("ts"))).alias("delta_us"),
    )


# The edge set is the near-dup pair graph — q_dedup_fuzzy's whole
# oracle nested as a subquery, so the two keys cannot drift.
def _oracle_triangles() -> str:
    from database_cloner_spark.queries.llm_ops import _ORACLE_DEDUP_FUZZY

    return f"""
WITH e AS (
  SELECT doc_a AS u, doc_b AS v FROM ({_ORACLE_DEDUP_FUZZY}) f
),
verts AS (SELECT u AS x FROM e UNION SELECT v FROM e),
tri AS (
  SELECT COUNT(*)::BIGINT AS n_triangles
  FROM e e1
  JOIN e e2 ON e2.u = e1.u AND e2.v > e1.v
  JOIN e e3 ON e3.u = e1.v AND e3.v = e2.v
)
SELECT (SELECT COUNT(*)::BIGINT FROM verts) AS n_vertices,
       (SELECT COUNT(*)::BIGINT FROM e) AS n_edges,
       (SELECT n_triangles FROM tri) AS n_triangles
"""


_ORACLE_TRIANGLES = _oracle_triangles()


@register("q_graph_triangles", oracle=_ORACLE_TRIANGLES, tier="X")
def q_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count over the NEAR-DUP pair graph (edge = document
    pair with 3-shingle Jaccard >= 0.4, q_dedup_fuzzy's exact output) —
    the cluster-cliquishness check a dedup pipeline runs before
    collapsing clusters: a triangle-dense component is one true
    duplicate family; a triangle-free chain (A~B~C but A!~C) warns that
    single-link clustering is about to over-merge (the drift A->B->C
    that q_dedup_cluster's lineage cuts guard against). The r8 first
    cut used the supplier co-supply graph and the bench's scale-flag
    machinery caught it as SUPERLINEAR (0.93s@sf0.01 -> 41s@sf0.1):
    co-supply over TPC-H is ~90% complete (453k edges on 1000
    vertices), and NO algorithm makes a near-clique's m^1.5 cheap —
    graph choice, not join strategy, is the scale decision. The
    near-dup graph is sparse BY CONSTRUCTION (near-dup families are
    small) at every scale. Counting orients each edge from its
    (degree, id)-SMALLER toward its larger endpoint
    (Schank/Suri-Vassilvitskii): every wedge is enumerated at its
    lowest-degree vertex (O(d_out^2), d_out ~ sqrt(|E|) — the
    hot-vertex straggler fix) and each triangle closes exactly once.
    The directed edge set is lazily localCheckpointed: it feeds three
    join sides, and AQE's runtime re-planning otherwise defeats
    ReuseExchange and recomputes the (shuffle-heavy) pair generation
    per side (SCALE.md pitfall). Oracle nests q_dedup_fuzzy's oracle
    verbatim, so edge semantics cannot drift between the two keys."""
    from database_cloner_spark.llm import dedup as _dedup

    pairs = _dedup.shingle_jaccard_pairs(
        load(spark, sf_dir, "documents"), max_shingle_df=10_000
    )
    # edges feeds deg, the orient joins, and the |E| count; deg feeds
    # both orient sides and |V| — without the checkpoints each consumer
    # re-executes the whole shingle pair generation (measured 24s vs 2s
    # at sf0.1: ReuseExchange does not cover these shared subtrees
    # under AQE)
    edges = pairs.select(
        F.col("doc_a").alias("u"), F.col("doc_b").alias("v")
    ).localCheckpoint(eager=False)
    deg = (
        edges.select(F.col("u").alias("x"))
        .unionAll(edges.select(F.col("v").alias("x")))
        .groupBy("x")
        .agg(F.count(F.lit(1)).alias("deg"))
        .localCheckpoint(eager=False)
    )
    # orient u->v toward the (deg, id)-larger endpoint; carry the
    # destination's orient key for the wedge ordering
    du = deg.select(F.col("x").alias("u"), F.col("deg").alias("deg_u"))
    dv = deg.select(F.col("x").alias("v"), F.col("deg").alias("deg_v"))
    ed = edges.join(du, "u").join(dv, "v")
    fwd = F.struct("deg_u", "u") < F.struct("deg_v", "v")
    d = ed.select(
        F.when(fwd, F.col("u")).otherwise(F.col("v")).alias("s"),
        F.when(fwd, F.col("v")).otherwise(F.col("u")).alias("t"),
        F.when(fwd, F.col("deg_v")).otherwise(F.col("deg_u")).alias("deg_t"),
    ).localCheckpoint(eager=False)
    d1 = d.select(F.col("s"), F.col("t").alias("t1"), F.col("deg_t").alias("dt1"))
    d2 = d.select(F.col("s"), F.col("t").alias("t2"), F.col("deg_t").alias("dt2"))
    wedges = d1.join(d2, "s").filter(
        F.struct(F.col("dt1"), F.col("t1")) < F.struct(F.col("dt2"), F.col("t2"))
    )
    closing = d.select(F.col("s").alias("t1"), F.col("t").alias("t2"))
    tri = wedges.join(closing, ["t1", "t2"]).agg(
        F.count(F.lit(1)).alias("n_triangles")
    )
    nv = deg.agg(F.count(F.lit(1)).alias("n_vertices"))
    ne = edges.agg(F.count(F.lit(1)).alias("n_edges"))
    return (
        nv.crossJoin(F.broadcast(ne))
        .crossJoin(F.broadcast(tri))
        .select("n_vertices", "n_edges", "n_triangles")
    )


def _oracle_degree() -> str:
    from database_cloner_spark.queries.llm_ops import _ORACLE_DEDUP_FUZZY

    return f"""
WITH e AS (
  SELECT doc_a AS u, doc_b AS v FROM ({_ORACLE_DEDUP_FUZZY}) f
),
deg AS (
  SELECT x, COUNT(*)::BIGINT AS deg
  FROM (SELECT u AS x FROM e UNION ALL SELECT v FROM e)
  GROUP BY x
)
SELECT deg, COUNT(*)::BIGINT AS n_vertices
FROM deg GROUP BY deg
"""


_ORACLE_DEGREE = _oracle_degree()


@register("q_graph_degree", oracle=_ORACLE_DEGREE, tier="X")
def q_graph_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the near-dup pair graph (same edge set as
    q_graph_triangles: document pairs with 3-shingle Jaccard >= 0.4) —
    the graph profile a dedup pipeline reads BEFORE clustering: a
    heavy-tailed histogram means hub documents (boilerplate shells) that
    single-link clustering would snowball through, and it is the
    empirical input to the O(d_out^2) wedge-cost bound the triangle
    count relies on. Shape: after pair generation, degree is ONE
    two-phase count keyed by vertex, and the histogram is a second
    two-phase count keyed by degree — both exchanges carry partial
    states only, nothing here scales with more than the (sparse) edge
    count. Oracle nests q_dedup_fuzzy's oracle verbatim so the edge
    semantics cannot drift across the three graph keys."""
    from database_cloner_spark.llm import dedup as _dedup

    pairs = _dedup.shingle_jaccard_pairs(
        load(spark, sf_dir, "documents"), max_shingle_df=10_000
    )
    edges = pairs.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
    deg = (
        edges.select(F.col("u").alias("x"))
        .unionAll(edges.select(F.col("v").alias("x")))
        .groupBy("x")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    return deg.groupBy("deg").agg(F.count(F.lit(1)).alias("n_vertices"))


# PageRank fixed-point scale: 1 rank unit = 10^12 (12 exact decimal
# digits). Scaled-INTEGER arithmetic, not decimal(38,18): Spark's
# allowPrecisionLoss adjustment silently re-scales decimal(38,18)
# multiplication to scale SIX (p1+p2+1 = 77 > 38 forces adjustedScale =
# max(38-41, 6)), so the r8 decimal formulation was NOT computing at 18
# digits and its rounding points were engine-private. Bigint floor
# division (`div` / DuckDB `//`) is bit-identical across engines with no
# precision-adjustment rules in play — the same convention as the repo's
# ppm keys (SCALE.md pitfall 11).
_PR_SCALE = 10**12
_PR_TELEPORT = 15 * _PR_SCALE // 100  # 0.15 in rank units
_PR_ITERS = 5  # fixed iterations of q_graph_pagerank and its oracle


def _pagerank_ranks(edges: DataFrame, iters: int) -> DataFrame:
    """Iterate r <- 0.15 + 0.85 * sum_in(r/deg) over an already-
    SYMMETRIZED directed edge list (src, dst), returning (src, deg,
    rank). Ranks are FIXED-POINT bigints scaled by 10^12: every step is
    exact integer arithmetic — contribution = rank div deg (floor),
    sum of bigints, then 0.15 + 0.85*s as (85*s) div 100 — so the
    groupBy-sum of neighbor contributions is bit-identical regardless
    of partial-aggregation order AND reproducible verbatim in DuckDB
    (// on bigints), giving the key a full hash oracle. Overflow is
    LOUD, not silent: under ANSI, bigint SUM and 85*s error past int64
    rather than wrap (and the oracle's per-iteration CAST(.. AS BIGINT)
    errs at the same points on the DuckDB side). Headroom: rank mass is
    conserved at |V| * 10^12 scaled units and 85*s needs s < 1.08e17,
    so only a graph funneling >= 10^5 vertices' ENTIRE mass into one
    vertex (a >=100k-leaf pure star) can trip it — if one ever does,
    drop _PR_SCALE (10^9 buys 1000x headroom at 9 exact digits). Every
    vertex of a symmetrized edge list has deg >= 1: no dangling-mass
    correction needed.

    Execution shape (r14 rewrite — results bit-identical, oracle
    unchanged): all `iters` iterations chain in ONE query with a
    LINEAR lineage. The r13 form localCheckpointed the rank table per
    iteration, and a checkpointed scan reports UnknownPartitioning —
    so EVERY iteration re-shuffled the degree-carrying edge list AND
    the rank table twice (4 Exchanges/iteration, measured in the
    executed plan). Three structural changes fix that (guide §2.4):
    - the rank-update left join is GONE: in a symmetrized edge list
      every vertex is some edge's dst, so every vertex receives >= 1
      contribution per iteration and the left join's NULL arm
      (coalesce(s, 0)) was dead code — the contribution aggregate
      itself is the new rank table, with `deg` re-attached by ONE join
      at the end (it only feeds the output column and rank div deg,
      which rides the edge list);
    - with ranks consumed ONCE per iteration the lineage is linear,
      so no per-iteration checkpoint is needed and the plan holds all
      iterations: the static edge-list subtree is canonically
      identical under each iteration's join and ReuseExchange ships
      its shuffle ONCE for the whole query (5 reads of one write);
    - each iteration's groupBy output is already hash-partitioned on
      the vertex id, which the NEXT iteration's join consumes in
      place.
    Net: ONE new Exchange per iteration (the contribution groupBy —
    the information-theoretic floor), measured 116 -> 64 stages and
    ~2x at the derived-sf1 decade jump. Fixed iteration count = a
    static DAG of `iters` bounded stages on a 1000-executor cluster;
    convergence stopping would need a driver-side delta check between
    stages, deliberately avoided."""
    edges = edges.localCheckpoint(eager=False)
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    # carry deg on the edge so iterations never re-join the degree table
    ed = edges.join(deg, "src").localCheckpoint(eager=False)
    ranks = deg.select("src", F.lit(_PR_SCALE).alias("rank"))
    for _ in range(iters):
        ranks = (
            ed.join(ranks, "src")
            .select(F.col("dst").alias("src"), F.expr("rank div deg").alias("c"))
            .groupBy("src")
            .agg(F.sum("c").alias("s"))
            .select(
                "src",
                (F.lit(_PR_TELEPORT) + F.expr("(85 * s) div 100")).alias("rank"),
            )
        )
    return ranks.join(deg, "src").select("src", "deg", "rank")


def _oracle_pagerank() -> str:
    """Unroll the _PR_ITERS fixed-point iterations as DuckDB CTEs. Exact
    twin of _pagerank_ranks: same edge build, same scaled-bigint floor
    arithmetic (`//` == Spark `div` on non-negative bigints), each
    iteration's rank cast back to BIGINT so a DuckDB HUGEINT overflow
    would error loudly exactly where Spark's ANSI bigint ops would."""
    it = """
c{i} AS (
  SELECT ed.dst AS src, CAST(SUM(r.rank // ed.deg) AS BIGINT) AS s
  FROM ed JOIN r{p} r USING (src) GROUP BY ed.dst
),
r{i} AS (
  SELECT d.src, d.deg,
         CAST({tele} + (85 * COALESCE(c.s, 0)) // 100 AS BIGINT) AS rank
  FROM deg d LEFT JOIN c{i} c USING (src)
)"""
    iter_ctes = ",".join(
        it.format(i=i, p=i - 1, tele=_PR_TELEPORT) for i in range(1, _PR_ITERS + 1)
    )
    return f"""
WITH cs AS (
  SELECT DISTINCT 'c:' || o_custkey AS c, 's:' || l_suppkey AS s
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
  WHERE o.o_orderkey IS NOT NULL AND o.o_custkey IS NOT NULL
    AND l.l_orderkey IS NOT NULL AND l.l_suppkey IS NOT NULL
),
e AS (SELECT c AS src, s AS dst FROM cs UNION ALL SELECT s AS src, c AS dst FROM cs),
deg AS (SELECT src, COUNT(*)::BIGINT AS deg FROM e GROUP BY src),
ed AS (SELECT e.src, e.dst, d.deg FROM e JOIN deg d USING (src)),
r0 AS (SELECT src, deg, CAST({_PR_SCALE} AS BIGINT) AS rank FROM deg),
{iter_ctes}
SELECT src AS vertex, rank AS pagerank_fp, deg AS degree
FROM r{_PR_ITERS} ORDER BY rank DESC, src ASC LIMIT 20
"""


_ORACLE_PAGERANK = _oracle_pagerank()


@register("q_graph_pagerank", oracle=_ORACLE_PAGERANK, tier="X")
def q_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (5 fixed iterations, d = 0.85) over the undirected
    customer-supplier bipartite graph (edge = at least one lineitem of
    the customer's orders shipped by the supplier) — hub suppliers and
    broadly-sourcing customers rank highest; the supply-chain
    centrality a fulfillment planner reads. The near-dup pair graph
    (the other two graph keys' edge set) is deliberately NOT used
    here: its components are cliques, and a clique is an exact fixed
    point of PageRank (every vertex sends deg * (rank/deg) = rank), so
    every rank stays exactly 1.0 — no discrimination. The bipartite
    graph is dense-ish, but PageRank's per-iteration cost is LINEAR in
    |E| (times a fixed 5 iterations), so — unlike triangle counting's
    m^1.5 on near-cliques (q_graph_triangles' r8 lesson) — density is
    not a scale trap. Edge build: orders JOIN lineitem on the order
    key (one fact-fact shuffle), distinct (custkey, suppkey) pairs,
    ids disambiguated by 'c:'/'s:' prefixes, symmetrized. Iteration
    mechanics and determinism: _pagerank_ranks (exact scaled-bigint
    fixed point; correctness pinned by tests/test_graph_pagerank.py —
    2-regular-cycle exact fixed point, star monotonicity, rank-mass
    conservation, bit-identical reruns). Full hash oracle: the 5
    iterations unroll as DuckDB CTEs (_oracle_pagerank) in the same
    exact integer arithmetic, bit-identical by construction. Returns
    the top 20 by (pagerank_fp DESC, vertex ASC) via
    TakeOrderedAndProject; pagerank_fp is the rank in 1e-12 units
    (divide by _PR_SCALE to read it as the conventional float)."""
    o = load(spark, sf_dir, "orders").filter(
        F.col("o_orderkey").isNotNull() & F.col("o_custkey").isNotNull()
    )
    li = load(spark, sf_dir, "lineitem").filter(
        F.col("l_orderkey").isNotNull() & F.col("l_suppkey").isNotNull()
    )
    # r13 optimization (guide §2.3, narrower types): the iterations used
    # to shuffle 'c:<id>'/'s:<id>' STRING vertex ids through every
    # groupBy/join (x5 iterations); the bipartite sides now pack into
    # one BIGINT (customer 2k, supplier 2k+1 — collision-free, both key
    # columns are int64 in every fixture incl. the adversarial twins),
    # and the display string is reconstructed map-side only for the
    # final top-k sort. Same vertices, same edges, same ranks — the
    # oracle is unchanged and replays the string form.
    cs = (
        o.select("o_orderkey", "o_custkey")
        .join(
            li.select("l_orderkey", "l_suppkey"),
            o["o_orderkey"] == F.col("l_orderkey"),
        )
        .select(
            (F.col("o_custkey") * 2).alias("c"),
            (F.col("l_suppkey") * 2 + 1).alias("s"),
        )
        .distinct()
    )
    edges = cs.select(F.col("c").alias("src"), F.col("s").alias("dst")).unionAll(
        cs.select(F.col("s").alias("src"), F.col("c").alias("dst"))
    )
    ranks = _pagerank_ranks(edges, iters=_PR_ITERS)
    vertex = F.expr(
        "CASE WHEN src % 2 = 0 THEN concat('c:', src div 2) "
        "ELSE concat('s:', (src - 1) div 2) END"
    )
    out = ranks.select(
        vertex.alias("vertex"),
        F.col("rank").alias("pagerank_fp"),
        F.col("deg").cast("long").alias("degree"),
    )
    return out.orderBy(F.desc("pagerank_fp"), F.asc("vertex")).limit(20)
