"""§2.9 Streaming ops, batch-equivalent form for the DuckDB oracle.

Each query applies the SAME transform function from streaming/ops.py
that the streaming tests run via readStream — the oracle validates the
transform's semantics; the streaming tests validate its incremental
execution.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from database_cloner_spark.registry import register
from database_cloner_spark.sources import load
from database_cloner_spark.streaming import ops


_W = ops.WINDOW_WIDTH
_ORACLE_TUMBLING = f"""
SELECT
  strftime(time_bucket(INTERVAL '{_W}', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
  strftime(time_bucket(INTERVAL '{_W}', ts) + INTERVAL '{_W}', '%Y-%m-%d %H:%M:%S') AS window_end,
  event_type,
  COUNT(*) AS n,
  ROUND(SUM(value), 2) AS sum_value
FROM events
WHERE ts IS NOT NULL  -- Spark window() drops NULL event times
GROUP BY 1, 2, 3
"""


@register("q_stream_tumbling", oracle=_ORACLE_TUMBLING, tier="X")
def q_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour counts per event type (batch twin of the
    streaming query in tests/test_streaming.py)."""
    return ops.tumbling_counts(load(spark, sf_dir, "events"))


_ORACLE_SLIDING = f"""
SELECT
  strftime(time_bucket(INTERVAL '{ops.WINDOW_SLIDE}', ts) - k.k * INTERVAL '{ops.WINDOW_SLIDE}',
           '%Y-%m-%d %H:%M:%S') AS window_start,
  event_type,
  COUNT(*) AS n
FROM events
CROSS JOIN (VALUES (0), (1), (2), (3)) AS k(k)
WHERE ts IS NOT NULL  -- Spark window() drops NULL event times
GROUP BY 1, 2
"""


@register("q_stream_sliding", oracle=_ORACLE_SLIDING, tier="X")
def q_stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 1h/15m counts — every event belongs to exactly 4 windows
    (width/slide), which the oracle enumerates explicitly."""
    return ops.sliding_counts(load(spark, sf_dir, "events"))


_ORACLE_SESSION = f"""
WITH seq AS (
  SELECT user_id, ts, value,
         -- STRICT >: Spark's session_window MERGES an event landing
         -- exactly at the session end (start + gap), so a gap of
         -- exactly 30 minutes continues the session on both engines.
         CASE WHEN lag(ts) OVER w IS NULL
              OR ts - lag(ts) OVER w > INTERVAL '{ops.SESSION_WINDOW_GAP}'
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WHERE ts IS NOT NULL  -- Spark session_window() drops NULL event times
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
sess AS (
  SELECT *, SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS sess_id
  FROM seq
)
SELECT user_id,
       strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       strftime(MAX(ts) + INTERVAL '{ops.SESSION_WINDOW_GAP}', '%Y-%m-%d %H:%M:%S') AS session_end,
       COUNT(*) AS n_events,
       ROUND(SUM(value), 2) AS sum_value
FROM sess
GROUP BY user_id, sess_id
"""


@register("q_stream_session", oracle=_ORACLE_SESSION, tier="X")
def q_stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (30-min gap) per user via F.session_window; the
    oracle derives identical sessions with lag + running sum."""
    return ops.session_aggregate(load(spark, sf_dir, "events"))


_ORACLE_WATERMARK = """
SELECT
  strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
  COUNT(*) AS n
FROM events
WHERE ts IS NOT NULL  -- Spark window() drops NULL event times
GROUP BY 1
"""


@register("q_stream_watermark_late", oracle=_ORACLE_WATERMARK, tier="X")
def q_stream_watermark_late(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked windowed count. In batch mode the watermark is a
    no-op (all data is 'on time'), so the oracle is the plain windowed
    count; late-data DROPPING is asserted in the streaming test, where
    an artificially late micro-batch is discarded."""
    return ops.with_watermark_filter(load(spark, sf_dir, "events"))


# Canonical-survivor dedup (see ops.dedup_events): one row per
# event_id, minimal (user_id, event_type), NULLS LAST — a bare
# DISTINCT would keep BOTH rows of a conflicting duplicate id.
_ORACLE_STREAM_DEDUP = """
SELECT event_id, user_id, event_type FROM (
  SELECT event_id, user_id, event_type,
         row_number() OVER (PARTITION BY event_id
                            ORDER BY user_id NULLS LAST,
                                     event_type NULLS LAST) AS rn
  FROM (SELECT DISTINCT event_id, user_id, event_type FROM events)
) WHERE rn = 1
"""


@register("q_stream_dedup", oracle=_ORACLE_STREAM_DEDUP, tier="X")
def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup on event_id over a doubled input (simulating at-least-once
    delivery): result equals the distinct original."""
    ev = load(spark, sf_dir, "events")
    doubled = ev.unionByName(ev)
    return ops.dedup_events(doubled)


_ORACLE_STATEFUL_TOTALS = """
SELECT user_id, COUNT(*) AS n_events, ROUND(SUM(value), 2) AS sum_value
FROM events
GROUP BY user_id
"""


@register("q_stream_stateful_totals", oracle=_ORACLE_STATEFUL_TOTALS, tier="X")
def q_stream_stateful_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user running totals — the state a drained per-user
    running-totals stream holds, computed as one batch aggregation
    (streaming/ops.py: user_running_totals_batch)."""
    return ops.user_running_totals_batch(load(spark, sf_dir, "events"))


_ORACLE_INTERVAL_JOIN = """
SELECT
  p.event_id AS purchase_id,
  c.event_id AS click_id,
  p.user_id  AS user_id,
  strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
  strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS click_ts
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON p.user_id = c.user_id
 AND c.ts <= p.ts
 AND c.ts >= p.ts - INTERVAL 1 HOUR
"""


@register("q_stream_interval_join", oracle=_ORACLE_INTERVAL_JOIN, tier="X")
def q_stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the stream-stream interval join (all same-user
    clicks within the hour before each purchase); the streaming form is
    exercised with watermarks in tests/test_streaming.py."""
    return ops.purchase_click_interval_join(load(spark, sf_dir, "events"))


_ORACLE_HEAVY_HITTERS = """
SELECT
  strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
  user_id,
  COUNT(*) AS n
FROM events
WHERE ts IS NOT NULL  -- Spark window() drops NULL event times
GROUP BY 1, 2
HAVING COUNT(*) >= 2
"""


@register("q_stream_heavy_hitters", oracle=_ORACLE_HEAVY_HITTERS, tier="X")
def q_stream_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-window heavy hitters (batch twin of the streaming query in
    tests/test_streaming.py): users crossing a per-hour event-count
    threshold — the rate-limit / hot-key alert every ingest pipeline
    runs. Streaming state is bounded (one counter per live
    (window, user), windows retire with the watermark); the batch twin
    is a plain two-phase windowed count + HAVING, fully oracled."""
    return ops.windowed_heavy_hitters(load(spark, sf_dir, "events"))
