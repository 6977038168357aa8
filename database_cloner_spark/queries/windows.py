"""§2.5 Window functions (all [X] — the reference has none; nearest
analogues are the timestamp-ordered log CS:28 and latest-credentials-file
naming CS:447, generalized here over the `events` table).

Scale notes: every window here partitions by user_id (high cardinality),
so state per partition is small and the single shuffle distributes evenly.
Low-cardinality partition keys (e.g. event_type) would funnel 100 TB into
5 tasks — deliberately avoided.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from database_cloner_spark.functions import ranks
from database_cloner_spark.registry import register
from database_cloner_spark.sources import load


_ORACLE_ROWNUM_DEDUP = """
SELECT user_id, event_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS last_ts
FROM events
QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1
"""


@register("q_win_rownum_dedup", oracle=_ORACLE_ROWNUM_DEDUP, tier="X")
def q_win_rownum_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest record per key — the 'latest credentials file per day'
    pattern (clone_databases.sh:447,:556) generalized. row_number over a
    desc-ts window, keep rank 1."""
    ev = load(spark, sf_dir, "events")
    order = [F.desc("ts"), F.desc("event_id")]
    return ranks.top(ev, ["user_id"], order).select(
        "user_id",
        "event_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("last_ts"),
    )


_ORACLE_RANK = """
SELECT n_name, c_custkey, ROUND(c_acctbal, 2) AS acctbal, rnk
FROM (
  SELECT n_name, c_custkey, c_acctbal,
         rank() OVER (PARTITION BY n_name ORDER BY c_acctbal DESC, c_custkey) AS rnk
  FROM customer JOIN nation ON c_nationkey = n_nationkey
)
WHERE rnk <= 3
"""


@register("q_win_rank", oracle=_ORACLE_RANK, tier="X")
def q_win_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 spenders per nation: rank within group. The dimension join
    is broadcast; the window shuffles once on n_name."""
    cust = load(spark, sf_dir, "customer")
    nat = load(spark, sf_dir, "nation")
    joined = cust.join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
    w = W.partitionBy("n_name").orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
    return (
        joined.withColumn("rnk", F.rank().over(w))
        .filter(F.col("rnk") <= 3)
        .select("n_name", "c_custkey", F.round("c_acctbal", 2).alias("acctbal"), "rnk")
    )


_ORACLE_LAG_GAP = """
SELECT event_id, user_id,
       epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts NULLS LAST, event_id)
         AS gap_us
FROM events
"""


@register("q_win_lag_gap", oracle=_ORACLE_LAG_GAP, tier="X")
def q_win_lag_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-event gap per user: ts - lag(ts), in microseconds (BIGINT —
    exact, no float drift)."""
    ev = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy(F.asc_nulls_last("ts"), F.asc_nulls_last("event_id"))
    us = F.unix_micros("ts")
    return ev.select(
        "event_id", "user_id", (us - F.lag(us).over(w)).alias("gap_us")
    )


_ORACLE_RUNNING_SUM = """
SELECT event_id, user_id,
       ROUND(SUM(value) OVER (
         PARTITION BY user_id ORDER BY ts NULLS LAST, event_id
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_value
FROM events
"""


@register("q_win_running_sum", oracle=_ORACLE_RUNNING_SUM, tier="X")
def q_win_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running total per user with an explicit ROWS frame. Both engines
    fold in the same (ts, event_id) order, so doubles match bit-exact."""
    ev = load(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy(F.asc_nulls_last("ts"), F.asc_nulls_last("event_id"))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.round(F.sum("value").over(w), 2).alias("running_value"),
    )


_ORACLE_MOVING_AVG = """
SELECT event_id, user_id,
       ROUND(SUM(value) OVER (
               PARTITION BY user_id ORDER BY ts NULLS LAST, event_id
               ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
             / COUNT(*) OVER (
               PARTITION BY user_id ORDER BY ts NULLS LAST, event_id
               ROWS BETWEEN 3 PRECEDING AND CURRENT ROW), 4) AS moving_avg,
       COUNT(*) OVER (
         PARTITION BY user_id ORDER BY ts NULLS LAST, event_id
         ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS n_in_frame
FROM events
"""


@register("q_win_moving_avg", oracle=_ORACLE_MOVING_AVG, tier="X")
def q_win_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded sliding frame: 4-event moving average per user (ROWS
    BETWEEN 3 PRECEDING AND CURRENT ROW). A bounded ROWS frame keeps
    O(frame) state per row during the single user_id shuffle — the
    smoothing primitive for event-rate monitoring. The window order is
    total (ts, event_id), so both engines fold the same 4 doubles in
    the same order. The average is an EXPLICIT sum/count (not AVG):
    engines differ in how their windowed AVG accumulates, but an
    order-identical sum divided by the same count is bit-identical.
    Rounded to 4dp, not 2: the inputs are 2dp values, so sum/2 and
    sum/4 land EXACTLY on .xx5 half-cent boundaries where HALF_UP
    (Spark, on the decimal repr) and raw-double rounding (DuckDB)
    disagree; at 4dp those quotients are exactly representable and no
    boundary is ever hit (sum/3 can't reach a 4dp half-boundary from
    2dp inputs)."""
    ev = load(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy(F.asc_nulls_last("ts"), F.asc_nulls_last("event_id"))
        .rowsBetween(-3, W.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.round(F.sum("value").over(w) / F.count("*").over(w), 4).alias("moving_avg"),
        F.count("*").over(w).alias("n_in_frame"),
    )


_ORACLE_NTILE = """
SELECT c_custkey,
       c_nationkey,
       NTILE(4) OVER (PARTITION BY c_nationkey
                      ORDER BY c_acctbal DESC, c_custkey ASC) AS balance_quartile
FROM customer
"""


@register("q_win_ntile", oracle=_ORACLE_NTILE, tier="X")
def q_win_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation balance quartiles. ntile assigns by ROW position, so
    the window order must be total — ties on acctbal are broken by
    custkey, or the two engines could bucket tied rows differently."""
    cust = load(spark, sf_dir, "customer")
    w = W.partitionBy("c_nationkey").orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
    return cust.select(
        "c_custkey", "c_nationkey", F.ntile(4).over(w).alias("balance_quartile")
    )


SESSION_GAP_US = 6 * 3600 * 1_000_000  # 6h inactivity ends a session


def session_index() -> Column:
    """Per-event session number within its user, counted from 1: an
    event more than SESSION_GAP_US after the user's previous event, or
    the user's first, starts a new session. The gap lag and the running
    sum share one window order, `ts ASC NULLS LAST, event_id ASC NULLS
    LAST`, so one Sort under the user_id exchange serves both. A NULL ts
    has no gap and starts its own session. Tied rows may order either
    way without moving an event to another session: equal ts values are
    0 us apart."""
    w = W.partitionBy("user_id").orderBy(
        F.asc_nulls_last("ts"), F.asc_nulls_last("event_id")
    )
    us = F.unix_micros("ts")
    gap = us - F.lag(us).over(w)
    is_new = F.when(gap.isNull() | (gap > SESSION_GAP_US), 1).otherwise(0)
    return F.sum(is_new).over(w.rowsBetween(W.unboundedPreceding, W.currentRow))


_ORACLE_SESSIONIZE = f"""
WITH flagged AS (
  SELECT user_id, event_id, epoch_us(ts) AS us, value,
         CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > {SESSION_GAP_US}
              OR (epoch_us(ts) - lag(epoch_us(ts)) OVER w) IS NULL
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts NULLS LAST, event_id)
),
sess AS (
  SELECT user_id, us, value,
         CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY us NULLS LAST, event_id
                                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
  FROM flagged
)
SELECT user_id, session_idx,
       COUNT(*) AS n_events,
       MAX(us) - MIN(us) AS duration_us,
       ROUND(SUM(value), 2) AS total_value
FROM sess GROUP BY user_id, session_idx
"""


@register("q_win_sessionize", oracle=_ORACLE_SESSIONIZE, tier="X")
def q_win_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization (gap > 6h starts a new session) through
    session_index — the batch twin of the streaming session_window
    operator (q_stream_session). Its windows share ONE partitioning on
    user_id (one shuffle total); session stats are a partial-aggregated
    groupBy on (user, session)."""
    ev = load(spark, sf_dir, "events")
    sess = ev.select(
        "user_id",
        F.unix_micros("ts").alias("us"),
        "value",
        session_index().alias("session_idx"),
    )
    return sess.groupBy("user_id", "session_idx").agg(
        F.count("*").alias("n_events"),
        (F.max("us") - F.min("us")).alias("duration_us"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )


_ORACLE_WIN_DIST = """
SELECT doc_id, lang,
       ROUND(PERCENT_RANK() OVER w, 4) AS pct_rank,
       ROUND(CUME_DIST() OVER w, 4) AS cume
FROM documents
WINDOW w AS (PARTITION BY lang ORDER BY n_chars NULLS LAST, doc_id)
"""


@register("q_win_dist", oracle=_ORACLE_WIN_DIST, tier="X")
def q_win_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-position windows: percent_rank and cume_dist of doc
    length within each language (the percentile-position primitives the
    quality tier's cutoffs come from). Total order via (n_chars,
    doc_id) tie-break so ranks are engine-identical.

    Scale shape (r8 rebuild): lang is a LOW-CARDINALITY domain, so the
    native `percent_rank().over(partitionBy(lang))` total-order sorts
    multi-TB language groups on single tasks at 100 TB (the same
    pathology as q_anomaly_mad's r7 form; the low-card window guard in
    test_plans.py now forbids it). Instead the global position is
    decomposed: rank = base + rn, where `base` (# docs in the language
    with a strictly smaller length) and the group total n are a
    functions/ranks.py running count over the (lang, n_chars) count
    table, and `rn` is a row_number
    tie-break within (lang, n_chars) — a HIGH-cardinality partition
    whose groups stay task-sized. The count table joins back broadcast
    (distinct lengths x langs; if the length domain ever explodes, drop
    the hint and the join reuses the tie window's (lang, n_chars)
    partitioning). (rank-1)/(n-1) and rank/n are the exact IEEE
    divisions the native functions compute — equal integer operands,
    identical doubles, same ROUND both engines."""
    docs = load(spark, sf_dir, "documents")
    counts = docs.groupBy("lang", "n_chars").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    # NULLS LAST explicitly: Spark default-sorts NULLs FIRST in ASC
    # while DuckDB sorts them LAST — with NULL n_chars rows present the
    # base offsets of every non-NULL row would diverge cross-engine
    # (r8 ADVICE); the oracle pins NULLS LAST on its ORDER BY too
    cum, n = ranks.running("cnt", ["lang"], F.asc_nulls_last("n_chars"))
    base = counts.select(
        "lang", "n_chars", (cum - F.col("cnt")).alias("base"), n.alias("n")
    )
    w_tie = W.partitionBy("lang", "n_chars").orderBy("doc_id")
    ranked = docs.select(
        "doc_id", "lang", "n_chars", F.row_number().over(w_tie).alias("rn")
    )
    rank = F.col("base") + F.col("rn")
    pct = F.when(F.col("n") == 1, F.lit(0.0)).otherwise(
        (rank - 1).cast("double") / (F.col("n") - 1).cast("double")
    )
    cume = rank.cast("double") / F.col("n").cast("double")
    # NULL-SAFE equality: the oracle's PARTITION BY keeps NULL lang /
    # NULL n_chars rows as their own groups, and groupBy/window above do
    # too — a plain equi-join would silently drop them (r8 self-review
    # finding; no current fixture has NULL keys, which is exactly why
    # the join form must not encode that assumption)
    b = (
        base.withColumnRenamed("lang", "b_lang")
        .withColumnRenamed("n_chars", "b_n_chars")
    )
    cond = F.col("lang").eqNullSafe(F.col("b_lang")) & F.col(
        "n_chars"
    ).eqNullSafe(F.col("b_n_chars"))
    return ranked.join(F.broadcast(b), cond).select(
        "doc_id",
        "lang",
        F.round(pct, 4).alias("pct_rank"),
        F.round(cume, 4).alias("cume"),
    )


_ORACLE_WIN_FRAME_VALUES = """
SELECT event_id, user_id,
       FIRST_VALUE(value) OVER w AS first_in_frame,
       LAST_VALUE(value) OVER w AS last_in_frame,
       NTH_VALUE(value, 2) OVER w AS second_in_frame
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts NULLS LAST, event_id
             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
"""


@register("q_win_frame_values", oracle=_ORACLE_WIN_FRAME_VALUES, tier="X")
def q_win_frame_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional frame accessors (first/last/nth value over a bounded
    sliding frame) — completes the window-function surface. O(frame)
    state per row, same single user_id shuffle as every other events
    window."""
    ev = load(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy(F.asc_nulls_last("ts"), F.asc_nulls_last("event_id"))
        .rowsBetween(-2, W.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.first("value").over(w).alias("first_in_frame"),
        F.last("value").over(w).alias("last_in_frame"),
        F.nth_value("value", 2).over(w).alias("second_in_frame"),
    )


# Gaps-and-islands: longest run of CONSECUTIVE active days per user.
# The oracle is the classic islands SQL (day - row_number() anchors);
# the engine needs no window at all — one user_id shuffle collects the
# calendar-bounded distinct-day set and a JVM `aggregate` HOF folds it
# into (best_len, best_start, best_end) in a single pass. Both
# formulations are exact integer/date arithmetic, so they agree
# bit-for-bit regardless of algorithm (unlike float folds, which pin
# evaluation order).
_ORACLE_WIN_STREAKS = """
WITH days AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
),
r AS (
  SELECT user_id, day,
         day - CAST(row_number() OVER (
             PARTITION BY user_id ORDER BY day) AS INTEGER) AS anchor
  FROM days
),
s AS (
  SELECT user_id, anchor, COUNT(*) AS len,
         MIN(day) AS st, MAX(day) AS en
  FROM r GROUP BY user_id, anchor
),
best AS (
  SELECT user_id, len, st, en,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY len DESC, st ASC) AS rk
  FROM s
),
nd AS (SELECT user_id, COUNT(*) AS n_days FROM days GROUP BY user_id)
SELECT b.user_id, CAST(nd.n_days AS BIGINT) AS n_active_days,
       CAST(b.len AS BIGINT) AS best_len,
       strftime(b.st, '%Y-%m-%d') AS best_start,
       strftime(b.en, '%Y-%m-%d') AS best_end
FROM best b JOIN nd USING (user_id) WHERE b.rk = 1
"""

# sentinel "previous day" no real day is adjacent to (epoch day of
# 1970-01-01 is 0; all data is far above any plausible negative day)
_STREAK_NO_PREV = -(10**9)


@register("q_win_streaks", oracle=_ORACLE_WIN_STREAKS, tier="X")
def q_win_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-active-day streak per user (gaps-and-islands)
    — the engagement metric behind every retention dashboard, and the
    canonical SQL-pattern test the window tier was missing. Shape: ONE
    user_id shuffle — `sort_array(collect_set(to_date(ts)))` bounds
    per-user state by the CALENDAR (days in the data's span), not by
    event volume, exactly like q_retention_cohort; a JVM `aggregate`
    HOF then folds the sorted day array into (current run, best run)
    in one linear pass — no per-user window sort, no islands re-shuffle
    (the oracle's day - row_number anchor + re-aggregate is the
    two-exchange spec; the fold is the one-exchange engine plan). Ties
    on length keep the EARLIEST streak (strict > in the fold; the
    oracle orders len DESC, start ASC). Days fold as exact int64
    epoch-days; dates render identically on both engines."""
    ev = load(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    )
    days = ev.groupBy("user_id").agg(
        F.sort_array(
            F.collect_set(F.datediff(F.to_date("ts"), F.lit("1970-01-01")))
        ).alias("ds")
    )
    zero = F.struct(
        F.lit(_STREAK_NO_PREV).cast("long").alias("prev"),
        F.lit(0).cast("long").alias("cur"),
        F.lit(0).cast("long").alias("cur_st"),
        F.lit(0).cast("long").alias("blen"),
        F.lit(0).cast("long").alias("bst"),
        F.lit(0).cast("long").alias("ben"),
    )

    def step(acc, d):
        dl = d.cast("long")
        cont = dl == acc["prev"] + F.lit(1).cast("long")
        cur = F.when(cont, acc["cur"] + 1).otherwise(F.lit(1).cast("long"))
        cur_st = F.when(cont, acc["cur_st"]).otherwise(dl)
        better = cur > acc["blen"]
        return F.struct(
            dl.alias("prev"),
            cur.alias("cur"),
            cur_st.alias("cur_st"),
            F.when(better, cur).otherwise(acc["blen"]).alias("blen"),
            F.when(better, cur_st).otherwise(acc["bst"]).alias("bst"),
            F.when(better, dl).otherwise(acc["ben"]).alias("ben"),
        )

    folded = days.select(
        "user_id",
        F.size("ds").cast("long").alias("n_active_days"),
        F.aggregate("ds", zero, step).alias("st"),
    )
    epoch = F.lit("1970-01-01").cast("date")

    def day_s(col: F.Column) -> F.Column:
        return F.date_format(F.date_add(epoch, col.cast("int")), "yyyy-MM-dd")

    return folded.select(
        "user_id",
        "n_active_days",
        F.col("st.blen").alias("best_len"),
        day_s(F.col("st.bst")).alias("best_start"),
        day_s(F.col("st.ben")).alias("best_end"),
    )


# Running distinct-count: after each event, how many DISTINCT event
# types has this user touched so far? The engagement-breadth curve per
# user, computed WITHOUT distinct-state windows: a naive
# size(collect_set() OVER (...rows unbounded preceding)) carries a
# per-row set (O(n * |types|) window state and no partial aggregation);
# instead each row gets a FIRST-SEEN flag (row_number == 1 within
# (user, type) by time) and the running distinct count is the running
# SUM of that 0/1 flag — integer-exact, O(1) window state.
_ORACLE_WIN_RUNNING_DISTINCT = """
SELECT event_id, user_id,
       CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END)
              OVER (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS UNBOUNDED PRECEDING) AS BIGINT)
         AS n_types_seen
FROM (
  SELECT event_id, user_id, ts,
         ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts, event_id) AS rn
  FROM events
  WHERE user_id IS NOT NULL AND event_type IS NOT NULL
    AND ts IS NOT NULL AND event_id IS NOT NULL
)
"""


@register("q_win_running_distinct", oracle=_ORACLE_WIN_RUNNING_DISTINCT, tier="X")
def q_win_running_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running per-user distinct event-type count (engagement breadth
    after every event). The scale-correct decomposition: a first-seen
    0/1 flag via row_number over (user_id, event_type) ordered by
    (ts, event_id), then a running SUM of the flag over the user's
    (ts, event_id) timeline — two windows with O(1) frame state, vs the
    naive running collect_set whose per-row set state is O(|types|)
    with no partial form. Two exchanges (the (user_id, event_type)
    flag partition cannot serve the user_id running sum — different
    hash keys); both windows' groups stay task-sized: user_id is
    high-cardinality, and per (user, type) the flag window only ranks
    that user's rows of one type. Deterministic total order via the
    event_id tie-break; integer-exact output, no doubles anywhere."""
    ev = load(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull()
        & F.col("event_type").isNotNull()
        & F.col("ts").isNotNull()
        & F.col("event_id").isNotNull()
    )
    w_first = W.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    w_run = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    flagged = ev.select(
        "event_id",
        "user_id",
        "ts",
        F.when(F.row_number().over(w_first) == 1, 1).otherwise(0).alias("fs"),
    )
    return flagged.select(
        "event_id",
        "user_id",
        F.sum("fs").over(w_run).cast("long").alias("n_types_seen"),
    )


# Bounce-rate census over the q_win_sessionize sessions: per user, how
# many sessions, how many were single-event bounces, and the exact
# floor(ppm) bounce rate — the engagement-quality summary a product
# pipeline reads off the sessionizer. Nests the sessionize session
# definition verbatim so the two keys' gap semantics cannot drift.
_ORACLE_BOUNCE = f"""
WITH flagged AS (
  SELECT user_id, event_id, epoch_us(ts) AS us,
         CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > {SESSION_GAP_US}
              OR (epoch_us(ts) - lag(epoch_us(ts)) OVER w) IS NULL
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts NULLS LAST, event_id)
),
sess AS (
  SELECT user_id,
         CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY us NULLS LAST, event_id
                                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
  FROM flagged
),
per AS (
  SELECT user_id, session_idx, COUNT(*) AS n FROM sess
  GROUP BY user_id, session_idx
)
SELECT user_id,
       COUNT(*)::BIGINT AS n_sessions,
       CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_bounces,
       CAST((SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) * 1000000) // COUNT(*)
            AS BIGINT) AS bounce_ppm
FROM per GROUP BY user_id
"""


@register("q_win_bounce_rate", oracle=_ORACLE_BOUNCE, tier="X")
def q_win_bounce_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user bounce-rate census over the sessionizer's sessions
    (gap > 6h): session count, single-event bounces, exact floor(ppm)
    bounce rate — the engagement-quality rollup a product pipeline
    reads after sessionization. The oracle nests q_win_sessionize's
    session definition verbatim so gap semantics cannot drift between
    the two keys. Scale shape: session_index's windows share the
    sessionizer's ONE user_id exchange, the (user, session)
    size count partial-aggregates on the same partitioning (no second
    data-sized shuffle — session_idx is a function of the user
    partition), and the final per-user fold is count-table-sized.
    Integer-exact throughout."""
    ev = load(spark, sf_dir, "events")
    sess = ev.select("user_id", session_index().alias("session_idx"))
    per = sess.groupBy("user_id", "session_idx").agg(
        F.count(F.lit(1)).alias("n")
    )
    return per.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_sessions"),
        F.sum(F.when(F.col("n") == 1, 1).otherwise(0)).cast("long").alias(
            "n_bounces"
        ),
    ).select(
        "user_id",
        "n_sessions",
        "n_bounces",
        F.expr("(n_bounces * 1000000L) div n_sessions").cast("long").alias(
            "bounce_ppm"
        ),
    )
