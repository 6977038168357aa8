"""§2.9 Streaming operators — written once, run in BOTH batch and
streaming mode (the transforms only use operations legal under
Structured Streaming's incremental model; the oracle queries run them
in batch, tests run them via readStream + memory sink).

Output timestamps are formatted to strings at the edge (UTC session TZ)
so results hash identically across Spark and DuckDB.

The four stateful per-user operators (user_ewma_stream,
user_sessions_stream, user_holt_stream, user_running_distinct_stream)
are one per-user in-order fold, `_fold_per_user`, each giving only its
schemas and its per-row step. The fold's contract, for all four:
- Its NULL filter is the batch twin's: rows with a NULL user_id, ts or
  step input (and a NULL event_id, unless the twin keeps those) are
  dropped before the Python boundary. A NULL value reaching pandas
  would become NaN and poison the keyed state for good.
- Each micro-batch's rows fold in (ts, event_id) order, event_id NULLS
  LAST, the batch twin's window order, so a drained stream equals its
  twin exactly (bit-equal for the float recurrences: Python floats are
  the JVM's IEEE-754 doubles; asserted in tests/test_streaming.py),
  provided batches arrive in event-time order per user. The tests feed
  time-split batches; an out-of-order source needs a watermark or
  reorder stage in front.
- The keyed state is a few scalars (or the set of types seen) per
  user: bounded by key cardinality, never by stream length.
- ts crosses into Python as epoch microseconds computed JVM-side, so
  pandas never holds a datetime dtype (its nanos-vs-micros drift across
  Arrow versions stays out of the fold).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from database_cloner_spark.functions import ranks

TS_FMT = "yyyy-MM-dd HH:mm:ss"

# Window shapes of the batch-twinned operators below; the
# queries/streaming_batch.py oracles read them too. Bound before the
# queries/ import below: importing this module first imports queries/,
# whose streaming_batch reads them from this module while it loads.
WINDOW_WIDTH = "1 hour"
WINDOW_SLIDE = "15 minutes"
SESSION_WINDOW_GAP = "30 minutes"

from database_cloner_spark.queries.windows import SESSION_GAP_US, session_index  # noqa: E402


def tumbling_counts(events: DataFrame) -> DataFrame:
    """Tumbling-window counts + sums per event type."""
    return (
        events.groupBy(F.window("ts", WINDOW_WIDTH).alias("w"), "event_type")
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


def sliding_counts(events: DataFrame) -> DataFrame:
    """Sliding-window counts: each event lands in width/slide windows."""
    return (
        events.groupBy(
            F.window("ts", WINDOW_WIDTH, WINDOW_SLIDE).alias("w"), "event_type"
        )
        .agg(F.count("*").alias("n"))
        .select(
            F.date_format("w.start", TS_FMT).alias("window_start"),
            "event_type",
            "n",
        )
    )


def session_aggregate(events: DataFrame) -> DataFrame:
    """Gap-based session windows per user: merged while consecutive
    events are < SESSION_WINDOW_GAP apart; session end = last event +
    gap."""
    return (
        events.groupBy(
            F.session_window("ts", SESSION_WINDOW_GAP).alias("w"), "user_id"
        )
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


def _fold_per_user(
    events: DataFrame,
    step,
    emit,
    init: tuple,
    out_schema: str,
    state_schema: str,
    cols: tuple[str, ...] = (),
    keep_null_ids: bool = False,
) -> DataFrame:
    """The per-user in-order fold behind the four stateful operators
    (contract in the module docstring). Within a micro-batch, each of a
    user's rows reaches `step(key, state, row, out)` as
    `row = (us, event_id, *cols)` in (us, event_id) order; the step
    returns the next state and may append output rows to `out`. After
    the batch's last row, `emit(key, state)` gives the rows the batch
    ends with. The keyed state starts at `init`."""
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import StructType

    names = StructType.fromDDL(out_schema).names
    required = ["user_id", "ts", *cols] + ([] if keep_null_ids else ["event_id"])
    src = events.filter(
        reduce(lambda a, b: a & b, [F.col(c).isNotNull() for c in required])
    ).select("user_id", F.unix_micros("ts").alias("us"), "event_id", *cols)

    def update(key, pdfs, state):
        import pandas as pd

        s = state.get if state.exists else init
        out = []
        frames = list(pdfs)
        if frames:
            rows = pd.concat(frames).sort_values(["us", "event_id"])
            for row in zip(*(rows[c] for c in ("us", "event_id", *cols))):
                s = step(key[0], s, row, out)
        out.extend(emit(key[0], s))
        state.update(s)
        yield pd.DataFrame(out, columns=names)

    return src.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


EWMA_SCHEMA = "user_id long, n_events long, ewma double"
_EWMA_STATE_SCHEMA = "n long, acc double"


def user_ewma_stream(events: DataFrame) -> DataFrame:
    """Per-user EWMA (alpha = 1/2), the streaming twin of the batch
    `q_ts_ewma` operator: state (n, acc) folds each value in as
    acc = (acc + x)/2, the recurrence the batch key builds with a JVM
    `aggregate` HOF, so the drained state is BIT-EQUAL to it."""

    def step(key, state, row, out):
        n, acc = state
        x = float(row[2])
        return n + 1, x if n == 0 else (acc + x) / 2.0

    return _fold_per_user(
        events, step, lambda key, s: [(key, *s)], (0, 0.0),
        EWMA_SCHEMA, _EWMA_STATE_SCHEMA, cols=("value",),
    )


SESSIONS_SCHEMA = (
    "user_id long, session_idx long, n_events long, "
    "duration_us long, start_us long"
)
_SESSIONS_STATE_SCHEMA = "idx long, last_us long, n long, mn long, mx long"


def user_sessions_stream(events: DataFrame) -> DataFrame:
    """Stateful sessionizer, the streaming twin of q_win_sessionize's gap
    rule (> SESSION_GAP_US of silence starts a new session). The keyed
    state is ONE open session per user (5 longs; unlike the built-in
    session_window it never holds per-event rows). A gap closes the open
    session, whose FINAL row is emitted at close, and opens the next;
    the still-open session re-emits its running row every batch, so
    after draining, the latest emission per (user, session_idx), the one
    with the largest n_events, equals user_sessions_batch row for row.
    Every output is an exact integer (counts, epoch-microsecond duration
    and start), so the comparison is ==; float session totals stay out
    of this contract because batch partial aggregation sums in another
    association order. NULL event_id rows stay, as in the batch twin."""

    def step(key, state, row, out):
        idx, last_us, n, mn, mx = state
        us = int(row[0])
        if n and us - last_us <= SESSION_GAP_US:
            return idx, us, n + 1, mn, us
        if n:
            out.append((key, idx, n, mx - mn, mn))  # closed: final row
        return idx + 1, us, 1, us, us

    def emit(key, state):  # the open session's running row
        idx, _, n, mn, mx = state
        return [(key, idx, n, mx - mn, mn)] if n else []

    return _fold_per_user(
        events, step, emit, (0, 0, 0, 0, 0),
        SESSIONS_SCHEMA, _SESSIONS_STATE_SCHEMA, keep_null_ids=True,
    )


def user_sessions_batch(events: DataFrame) -> DataFrame:
    """Drained-stream twin of user_sessions_stream: windows.session_index
    (q_win_sessionize's sessions) restricted to the integer outputs the
    stream contract covers, with the stream's NULL filter applied. ONE
    user_id shuffle serves the windows and the session aggregate."""
    sess = events.filter(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    ).select(
        "user_id",
        F.unix_micros("ts").alias("us"),
        session_index().alias("session_idx"),
    )
    return sess.groupBy("user_id", "session_idx").agg(
        F.count("*").alias("n_events"),
        (F.max("us") - F.min("us")).alias("duration_us"),
        F.min("us").alias("start_us"),
    )


HOLT_SCHEMA = "user_id long, n_events long, level double, trend double, forecast_1 double"
_HOLT_STATE_SCHEMA = "n long, l double, b double"


def user_holt_stream(events: DataFrame) -> DataFrame:
    """Per-user Holt linear smoothing (alpha = beta = 1/2), the
    streaming twin of the batch `q_ts_holt` operator: state (n, level,
    trend) folds each value in as
        l' = (l + b + x) / 2;  b' = (b + (l' - l)) / 2
    the recurrence the batch key's JVM `aggregate` HOF builds, so the
    drained state is BIT-EQUAL to it."""

    def step(key, state, row, out):
        n, l, b = state
        x = float(row[2])
        if n == 0:
            return 1, x, 0.0
        nl = (l + b + x) / 2.0
        return n + 1, nl, (b + (nl - l)) / 2.0

    def emit(key, state):
        n, l, b = state
        return [(key, n, l, b, l + b)]

    return _fold_per_user(
        events, step, emit, (0, 0.0, 0.0),
        HOLT_SCHEMA, _HOLT_STATE_SCHEMA, cols=("value",),
    )


RUNNING_DISTINCT_SCHEMA = "event_id long, user_id long, n_types_seen long"
_RUNNING_DISTINCT_STATE_SCHEMA = "types array<string>"


def user_running_distinct_stream(events: DataFrame) -> DataFrame:
    """Per-user running DISTINCT event-type count, the streaming twin of
    the batch `q_win_running_distinct` window key: the state is the
    sorted set of types seen (bounded by the type domain, the reason
    the batch form beats a running collect_set), and every input event
    emits one row carrying the count after that event, so the drained
    output equals the batch answer row for row."""

    def step(key, state, row, out):
        (types,) = state
        if row[2] not in types:
            types = sorted([*types, row[2]])
        out.append((int(row[1]), key, len(types)))
        return (types,)

    return _fold_per_user(
        events, step, lambda key, s: [], ([],),
        RUNNING_DISTINCT_SCHEMA, _RUNNING_DISTINCT_STATE_SCHEMA,
        cols=("event_type",),
    )
