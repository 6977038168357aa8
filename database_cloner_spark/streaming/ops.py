"""§2.9 Streaming operators — written once, run in BOTH batch and
streaming mode (the transforms only use operations legal under
Structured Streaming's incremental model; the oracle queries run them
in batch, tests run them via readStream + memory sink).

Output timestamps are formatted to strings at the edge (UTC session TZ)
so results hash identically across Spark and DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from database_cloner_spark.functions import ranks
from database_cloner_spark.queries.windows import SESSION_GAP_US

TS_FMT = "yyyy-MM-dd HH:mm:ss"


def tumbling_counts(events: DataFrame, width: str = "1 hour") -> DataFrame:
    """Tumbling-window counts + sums per event type."""
    return (
        events.groupBy(F.window("ts", width).alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            F.date_format("w.start", TS_FMT).alias("window_start"),
            F.date_format("w.end", TS_FMT).alias("window_end"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def windowed_heavy_hitters(
    events: DataFrame, width: str = "1 hour", min_count: int = 2
) -> DataFrame:
    """Per-window heavy hitters: users whose event count inside a
    tumbling window reaches `min_count` — the streaming form of the
    frequency question the Count-Min Sketch answers in batch
    (functions/sketch.py). State is one counter per live (window, user)
    pair and windows age out with the watermark, so state size is
    bounded by window width x active users, not stream length; the
    HAVING filter is applied AFTER aggregation so late increments can
    still promote a user within the watermark."""
    return (
        events.groupBy(F.window("ts", width).alias("w"), "user_id")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") >= min_count)
        .select(
            F.date_format("w.start", TS_FMT).alias("window_start"),
            "user_id",
            "n",
        )
    )


def sliding_counts(events: DataFrame, width: str = "1 hour", slide: str = "15 minutes") -> DataFrame:
    """Sliding-window counts: each event lands in width/slide windows."""
    return (
        events.groupBy(F.window("ts", width, slide).alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(
            F.date_format("w.start", TS_FMT).alias("window_start"),
            "event_type",
            "n",
        )
    )


def session_aggregate(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Gap-based session windows per user: merged while consecutive
    events are < gap apart; session end = last event + gap."""
    return (
        events.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            "user_id",
            F.date_format("w.start", TS_FMT).alias("session_start"),
            F.date_format("w.end", TS_FMT).alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


def with_watermark_filter(events: DataFrame, tolerance: str = "10 minutes") -> DataFrame:
    """Watermark + windowed count. In streaming mode the watermark drops
    data later than `tolerance` behind the max event time and bounds
    state; the batch analog of the state-eviction effect is checked by
    the oracle twin (filter vs max(ts) - tolerance)."""
    return (
        events.withWatermark("ts", tolerance)
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("n"))
        .select(F.date_format("w.start", TS_FMT).alias("window_start"), "n")
    )


def user_running_totals_batch(events: DataFrame) -> DataFrame:
    """Per-user event count and rounded value sum: the state a drained
    per-user running-totals stream holds."""
    return events.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


def dedup_events(events: DataFrame, within_watermark: bool = False) -> DataFrame:
    """Stateful dedup on event_id.

    Streaming: dropDuplicatesWithinWatermark — FIRST-ARRIVAL survivor,
    bounded key state (arrival order is the only order a stream has).

    Batch: deterministic CANONICAL survivor — the minimal
    (user_id, event_type) row per id, nulls last. A bare
    dropDuplicates(["event_id"]) picks whichever row a task sees first,
    which changes across partitionings/retries when duplicate ids carry
    CONFLICTING payloads (at-least-once upstreams produce those), and
    can never be oracle-checked. On conflicting duplicates the batch
    and streaming survivors may therefore legitimately differ — batch
    answers "one canonical row per id", streaming answers "the first
    one seen"."""
    cols = ["event_id", "user_id", "event_type"]
    if within_watermark:
        return (
            events.withWatermark("ts", "1 hour")
            .dropDuplicatesWithinWatermark(["event_id"])
            .select(*cols)
        )
    return ranks.top(
        # full-row dups die before the window
        events.select(*cols).dropDuplicates(cols),
        ["event_id"],
        [F.asc_nulls_last("user_id"), F.asc_nulls_last("event_type")],
    )


def purchase_click_interval_join(events: DataFrame) -> DataFrame:
    """Stream-stream interval join: every (purchase, click) pair of the
    same user where the click happened within the hour before the
    purchase.

    Streaming execution requires watermarks on BOTH sides plus a
    time-range bound in the join condition — that is what lets the state
    store evict clicks older than (watermark - 1 hour) instead of
    buffering the full click stream. Batch execution of the identical
    condition needs neither; watermarks are applied only when the input
    is streaming so one function serves both modes. State size per user
    is bounded by click rate x (1 hour + watermark delay)."""
    p = events.filter(F.col("event_type") == "purchase")
    c = events.filter(F.col("event_type") == "click")
    if events.isStreaming:
        p = p.withWatermark("ts", "10 minutes")
        c = c.withWatermark("ts", "10 minutes")
    p = p.select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    )
    c = c.select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
    )
    joined = p.join(
        c,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR")),
    )
    return joined.select(
        "purchase_id",
        "click_id",
        F.col("p_user").alias("user_id"),
        F.date_format("p_ts", TS_FMT).alias("purchase_ts"),
        F.date_format("c_ts", TS_FMT).alias("click_ts"),
    )


EWMA_SCHEMA = "user_id long, n_events long, ewma double"
_EWMA_STATE_SCHEMA = "n long, acc double"


def user_ewma_stream(events: DataFrame) -> DataFrame:
    """Stateful per-user EWMA (alpha = 1/2) across micro-batches — the
    streaming twin of the batch `q_ts_ewma` operator: keyed state holds
    (n, accumulator); each batch's rows fold in (ts, event_id) order
    with acc = (acc + x)/2, the exact recurrence the batch key builds
    with a JVM `aggregate` HOF. Python's float arithmetic is the same
    IEEE-754 double as the JVM's, and the fold order is pinned
    identically, so a drained stream's final state is BIT-EQUAL to the
    batch answer (asserted in tests/test_streaming.py) provided batches
    arrive in event-time order per user — the test feeds time-split
    batches; production fronting needs the watermark/reorder stage,
    same caveat as every sequence-sensitive stateful op. State is two
    scalars per user: bounded by key cardinality, not stream length.
    NULL user_id/value/ts/event_id rows are dropped HERE, matching the
    batch twin's filter — a NULL value reaching pandas becomes NaN and
    (acc + NaN)/2 poisons the keyed state forever (r8 self-review);
    NULL event_id joined the filter in r10 when the batch twin dropped
    it (engines disagree on NULL tiebreaker placement)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    events = events.filter(
        F.col("user_id").isNotNull()
        & F.col("value").isNotNull()
        & F.col("ts").isNotNull()
        & F.col("event_id").isNotNull()
    )

    def update(key, pdfs, state):
        import pandas as pd

        n, acc = state.get if state.exists else (0, 0.0)
        frames = [pdf for pdf in pdfs]
        rows = pd.concat(frames) if frames else pd.DataFrame(
            {"ts": [], "event_id": [], "value": []}
        )
        rows = rows.sort_values(["ts", "event_id"])
        for x in rows["value"]:
            if n == 0:
                acc = float(x)
            else:
                acc = (acc + float(x)) / 2.0
            n += 1
        state.update((n, acc))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "ewma": [acc]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=EWMA_SCHEMA,
        stateStructType=_EWMA_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


SESSIONS_SCHEMA = (
    "user_id long, session_idx long, n_events long, "
    "duration_us long, start_us long"
)
_SESSIONS_STATE_SCHEMA = "idx long, last_us long, n long, mn long, mx long"


def user_sessions_stream(events: DataFrame) -> DataFrame:
    """Stateful sessionizer via applyInPandasWithState — the streaming
    twin of q_win_sessionize's gap rule (> SESSION_GAP_US of silence
    starts a new session), with keyed state = ONE open session per user
    (5 longs; bounded by key cardinality, not stream length, and unlike
    the built-in session_window the state never holds per-event rows).
    Each micro-batch folds its rows in (ts, event_id) order: a gap
    closes the open session (its FINAL row is emitted at close) and
    opens the next; the still-open session re-emits its running row
    every batch, so after draining, the latest emission per
    (user, session_idx) — the one with the largest n_events — equals
    the batch answer row for row (asserted in tests/test_streaming.py).
    All outputs are exact integers (counts, epoch-microsecond duration
    and start), so stream/batch equality is ==, not isclose — float
    session totals are deliberately NOT in this contract because batch
    partial-aggregation sums in a different association order.
    Same in-order-arrival caveat as user_ewma_stream; epoch-us is
    computed JVM-side before the Python boundary so pandas never
    touches a datetime dtype (nanos-vs-micros dtype drift across Arrow
    versions). NULL user_id/ts rows are dropped here — the batch twin
    applies the identical filter."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    src = events.filter(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    ).select("user_id", F.unix_micros("ts").alias("us"), "event_id")

    def update(key, pdfs, state):
        import pandas as pd

        if state.exists:
            idx, last_us, n, mn, mx = state.get
        else:
            idx, last_us, n, mn, mx = 0, 0, 0, 0, 0
        frames = [pdf for pdf in pdfs]
        rows = (
            pd.concat(frames).sort_values(["us", "event_id"])
            if frames
            else pd.DataFrame({"us": [], "event_id": []})
        )
        out = []
        for us in rows["us"]:
            us = int(us)
            if n == 0:
                idx += 1
                n, mn, mx = 1, us, us
            elif us - last_us > SESSION_GAP_US:
                out.append((key[0], idx, n, mx - mn, mn))  # closed: final
                idx += 1
                n, mn, mx = 1, us, us
            else:
                n += 1
                mx = us
            last_us = us
        if n > 0:
            out.append((key[0], idx, n, mx - mn, mn))  # open: running row
        state.update((idx, last_us, n, mn, mx))
        yield pd.DataFrame(
            out,
            columns=[
                "user_id", "session_idx", "n_events", "duration_us",
                "start_us",
            ],
        )

    return src.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=SESSIONS_SCHEMA,
        stateStructType=_SESSIONS_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def user_sessions_batch(events: DataFrame) -> DataFrame:
    """Drained-stream twin of user_sessions_stream: q_win_sessionize's
    lag-flag + running-sum idiom (same SESSION_GAP_US) restricted to
    the integer outputs the stream contract covers, with the stream's
    NULL filter applied. ONE user_id shuffle serves both windows and
    the session aggregate."""
    from pyspark.sql import Window as W

    ev = events.filter(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    )
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros("ts")
    gap = us - F.lag(us).over(w)
    is_new = F.when(gap.isNull() | (gap > SESSION_GAP_US), 1).otherwise(0)
    wsum = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    sess = ev.select(
        "user_id",
        us.alias("us"),
        F.sum(is_new).over(wsum).alias("session_idx"),
    )
    return sess.groupBy("user_id", "session_idx").agg(
        F.count("*").alias("n_events"),
        (F.max("us") - F.min("us")).alias("duration_us"),
        F.min("us").alias("start_us"),
    )


HOLT_SCHEMA = "user_id long, n_events long, level double, trend double, forecast_1 double"
_HOLT_STATE_SCHEMA = "n long, l double, b double"


def user_holt_stream(events: DataFrame) -> DataFrame:
    """Stateful per-user Holt linear smoothing (alpha = beta = 1/2)
    across micro-batches — the streaming twin of the batch `q_ts_holt`
    operator: keyed state holds (n, level, trend); each batch's rows
    fold in (ts, event_id) order with
        l' = (l + b + x) / 2;  b' = (b + (l' - l)) / 2
    the exact recurrence the batch key's JVM `aggregate` HOF builds.
    Python floats are the same IEEE-754 doubles, the fold order is
    pinned identically, so a drained stream's final state is BIT-EQUAL
    to the batch answer (tests/test_streaming.py), with the same
    in-order-batches caveat as user_ewma_stream. State is three scalars
    per user — bounded by key cardinality, not stream length. NULL
    user_id/value/ts/event_id rows are dropped HERE, matching the batch
    twin's filter (a NaN reaching the fold would poison the state
    forever; the event_id term mirrors the r10 batch-twin change)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    events = events.filter(
        F.col("user_id").isNotNull()
        & F.col("value").isNotNull()
        & F.col("ts").isNotNull()
        & F.col("event_id").isNotNull()
    )

    def update(key, pdfs, state):
        import pandas as pd

        n, l, b = state.get if state.exists else (0, 0.0, 0.0)
        frames = [pdf for pdf in pdfs]
        rows = pd.concat(frames) if frames else pd.DataFrame(
            {"ts": [], "event_id": [], "value": []}
        )
        rows = rows.sort_values(["ts", "event_id"])
        for x in rows["value"]:
            if n == 0:
                l, b = float(x), 0.0
            else:
                nl = (l + b + float(x)) / 2.0
                b = (b + (nl - l)) / 2.0
                l = nl
            n += 1
        state.update((n, l, b))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "level": [l],
                "trend": [b],
                "forecast_1": [l + b],
            }
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=HOLT_SCHEMA,
        stateStructType=_HOLT_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


RUNNING_DISTINCT_SCHEMA = "event_id long, user_id long, n_types_seen long"
_RUNNING_DISTINCT_STATE_SCHEMA = "types array<string>"


def user_running_distinct_stream(events: DataFrame) -> DataFrame:
    """Stateful per-user running DISTINCT event-type count — the
    streaming twin of the batch `q_win_running_distinct` window key:
    keyed state is the SET of types seen (bounded by the type domain,
    never stream length — the same reason the batch form beats a
    running collect_set); each batch's rows fold in (ts, event_id)
    order and every input event emits exactly one output row carrying
    the count after that event. Integer-exact, so a drained in-order
    stream equals the batch answer row-for-row (drained-equal contract,
    tests/test_streaming.py). NULL user_id/event_type/ts/event_id rows
    are dropped HERE, matching the batch twin's filter."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    events = events.filter(
        F.col("user_id").isNotNull()
        & F.col("event_type").isNotNull()
        & F.col("ts").isNotNull()
        & F.col("event_id").isNotNull()
    )

    def update(key, pdfs, state):
        import pandas as pd

        (types,) = state.get if state.exists else ([],)
        seen = set(types)
        frames = [pdf for pdf in pdfs]
        rows = pd.concat(frames) if frames else pd.DataFrame(
            {"ts": [], "event_id": [], "event_type": []}
        )
        rows = rows.sort_values(["ts", "event_id"])
        out_ids, out_counts = [], []
        for eid, et in zip(rows["event_id"], rows["event_type"]):
            seen.add(et)
            out_ids.append(int(eid))
            out_counts.append(len(seen))
        state.update((sorted(seen),))
        yield pd.DataFrame(
            {
                "event_id": out_ids,
                "user_id": [key[0]] * len(out_ids),
                "n_types_seen": out_counts,
            }
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=RUNNING_DISTINCT_SCHEMA,
        stateStructType=_RUNNING_DISTINCT_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
