"""Adversarial-input oracle parity for the events tier.

Companion to tests/test_adversarial_docs.py: the driver verifies the
events-reading keys only on the generated fixture (clean `{"k": n}`
props, unique timestamps, no NULLs). Real event streams carry duplicate
timestamps (window tie-break determinism!), NULL columns, malformed or
schema-drifted JSON props, empty-string event types, and extreme
values. Every ORACLED key that reads only the `events` table must agree
with DuckDB on those inputs too.
"""

from __future__ import annotations

import os
from datetime import datetime

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from database_cloner_spark.registry import specs
from tests.oracle_harness import compare_query


def _ts(s: str) -> datetime:
    return datetime.fromisoformat(s)


# (event_id, ts, user_id, event_type, value, props)
_NASTY_EVENTS = [
    # duplicate timestamps, same user (tie-break in every window op)
    (0, _ts("2024-01-01T10:00:00"), 1, "view", 1.0, '{"k": 1}'),
    (1, _ts("2024-01-01T10:00:00"), 1, "click", 2.0, '{"k": 2}'),
    (2, _ts("2024-01-01T10:00:00"), 1, "purchase", 3.0, '{"k": 3}'),
    # duplicate timestamps across users
    (3, _ts("2024-01-01T10:00:00"), 2, "view", 4.0, '{"k": 4}'),
    # session-boundary probes: exactly at / just over a 10-min gap
    (4, _ts("2024-01-01T10:10:00"), 2, "click", 5.0, '{"k": 5}'),
    (5, _ts("2024-01-01T10:20:00.000001"), 2, "view", 6.0, '{"k": 6}'),
    # NULLs in every nullable column
    (6, _ts("2024-01-02T00:00:00"), None, "view", 7.0, '{"k": 7}'),
    (7, _ts("2024-01-02T00:01:00"), 3, "click", None, '{"k": 8}'),
    (8, _ts("2024-01-02T00:02:00"), 3, "view", 9.0, None),
    # JSON drift: missing key, empty object, string k, float k, nested
    # k, extra keys, malformed, empty string
    (9, _ts("2024-01-02T00:03:00"), 3, "view", 10.0, "{}"),
    (10, _ts("2024-01-02T00:04:00"), 4, "click", 11.0, '{"k": "12"}'),
    (11, _ts("2024-01-02T00:05:00"), 4, "view", 13.0, '{"k": 14.5}'),
    (12, _ts("2024-01-02T00:06:00"), 4, "error", 15.0, '{"other": 1}'),
    (13, _ts("2024-01-02T00:07:00"), 5, "view", 16.0, '{"k": 17, "z": "y"}'),
    (14, _ts("2024-01-02T00:08:00"), 5, "click", 18.0, "not json"),
    (15, _ts("2024-01-02T00:09:00"), 5, "view", 19.0, ""),
    # event types outside the known set: empty and unicode
    (16, _ts("2024-01-03T00:00:00"), 6, "", 20.0, '{"k": 21}'),
    (17, _ts("2024-01-03T00:01:00"), 6, "tÿpe", 22.0, '{"k": 23}'),
    # extreme values: negative, -0.0, large, small, negative user id.
    # Magnitudes stay within a well-conditioned range (~1e6): double
    # sums are association-dependent, so a 1e15 outlier mixed with ~1e1
    # values makes ANY distributed sum (salted partials, different
    # partition counts) differ from a sequential sum in the last places
    # — that is inherent to IEEE754, not an engine bug; the engine's
    # documented answer for exact sums is integer/decimal accumulation.
    (18, _ts("2024-01-03T00:02:00"), 7, "purchase", -5.25, '{"k": -1}'),
    (19, _ts("2024-01-03T00:03:00"), 7, "view", -0.0, '{"k": 0}'),
    (20, _ts("2024-01-03T00:04:00"), -8, "click", 1.0e6, '{"k": 99999999999}'),
    (21, _ts("2024-01-03T00:05:00"), -8, "view", 1.0e-6, '{"k": 2}'),
    # timestamp extremes: epoch start and far future, ids out of ts order
    (23, _ts("1970-01-01T00:00:00"), 9, "view", 1.5, '{"k": 3}'),
    (22, _ts("2099-12-31T23:59:59.999999"), 9, "purchase", 2.5, '{"k": 4}'),
    # a proper funnel user with clean ordering
    (24, _ts("2024-01-04T00:00:00"), 10, "view", 1.0, '{"k": 5}'),
    (25, _ts("2024-01-04T00:01:00"), 10, "click", 2.0, '{"k": 6}'),
    (26, _ts("2024-01-04T00:02:00"), 10, "purchase", 3.0, '{"k": 7}'),
    # NULL timestamp: Spark ASC sorts nulls FIRST, DuckDB nulls LAST —
    # every window/sessionize ordering over ts must pin the null order
    # explicitly or the engines silently disagree
    (27, None, 10, "view", 4.0, '{"k": 8}'),
    # CONFLICTING duplicate event_id (at-least-once upstream rewrote the
    # payload): dedup must pick a DETERMINISTIC canonical survivor, not
    # whichever row a task saw first
    (0, _ts("2024-01-05T00:00:00"), 99, "error", 9.75, '{"k": 99}'),
    # NULL event_id TIED on ts with a real event for the same user:
    # event_id is the ts tiebreaker in every window/sort key, and Spark
    # ASC sorts the NULL first while DuckDB sorts it last — the r9
    # ADVICE divergence class (q_events_attribution: a NULL-id click
    # tied with a purchase flips attributed/organic if unpinned).
    (None, _ts("2024-01-06T00:00:00"), 11, "click", 1.0, '{"k": 1}'),
    (30, _ts("2024-01-06T00:00:00"), 11, "purchase", 55.5, '{"k": 2}'),
    (31, _ts("2024-01-06T00:30:00"), 11, "view", 2.0, '{"k": 3}'),
    # NaN / Infinity values (a broken upstream aggregation or a
    # divide-by-zero feature): both engines order NaN greatest and
    # propagate it through SUM/AVG identically, but under ANSI a plain
    # CAST/FLOOR-to-long on one NaN row KILLS a whole job — every
    # money/cents path must try_-degrade instead (r10).
    (32, _ts("2024-01-07T00:00:00"), 12, "purchase", float("nan"), "{}"),
    (33, _ts("2024-01-07T00:01:00"), 12, "purchase", float("inf"), "{}"),
]

_EXEMPT: dict[str, str] = {
    # (goal state: empty)
}


def write_fixture(d: str) -> None:
    rows = _NASTY_EVENTS
    table = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "event_type": pa.array([r[3] for r in rows], pa.string()),
            "value": pa.array([r[4] for r in rows], pa.float64()),
            "props": pa.array([r[5] for r in rows], pa.string()),
        }
    )
    pq.write_table(table, os.path.join(d, "events.parquet"))


@pytest.fixture(scope="module")
def nasty_dir(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("nasty_events"))
    write_fixture(d)
    return d


from database_cloner_spark.registry import keys_reading_only

_KEYS = keys_reading_only({"events"})


def test_events_only_key_inventory_is_substantial():
    assert len(_KEYS) >= 25, _KEYS
    assert "q_win_sessionize" in _KEYS and "q_json_extract" in _KEYS


@pytest.mark.parametrize("name", _KEYS)
def test_adversarial_parity(spark, nasty_dir, name):
    if name in _EXEMPT:
        pytest.skip(_EXEMPT[name])
    spec = specs()[name]
    compare_query(spark, name, spec.builder, spec.oracle, nasty_dir)


def test_ks_mwu_argminmax_tie_and_zero_sign_boundary(spark, tmp_path_factory):
    """Engineered boundary for the rank-statistics keys: values SHARED
    across the click and purchase samples (whole tied runs with both
    c1 > 0 and c2 > 0 — the midrank fold's hard case) and a -0.0/0.0
    collision across samples (the `v + 0.0` zero-sign normalization:
    -0.0 == 0.0 compares equal but hashes differently when rendered).
    KS, Mann-Whitney, and argminmax must all hash-match the oracle."""
    from datetime import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq
    from database_cloner_spark.registry import specs
    from tests.oracle_harness import compare_query

    base = datetime(2024, 3, 4, 10, 0, 0)  # a Monday, 10:00 UTC
    rows = [
        # (event_id, type, value) — all same hour/weekday partition
        (1, "click", 5.0), (2, "click", 5.0), (3, "purchase", 5.0),
        (4, "purchase", 5.0), (5, "click", 7.5), (6, "purchase", 7.5),
        (7, "click", -0.0), (8, "purchase", 0.0), (9, "click", 0.0),
        (10, "purchase", 9.25), (11, "click", 9.25), (12, "purchase", 1.0),
        # duplicate extreme value: argminmax tie must pick MIN event_id
        (13, "click", 9.25), (14, "purchase", -3.5), (15, "click", -3.5),
    ]
    table = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([base] * len(rows), pa.timestamp("us")),
            "user_id": pa.array([1] * len(rows), pa.int64()),
            "event_type": pa.array([r[1] for r in rows], pa.string()),
            "value": pa.array([r[2] for r in rows], pa.float64()),
            "props": pa.array(["{}"] * len(rows), pa.string()),
        }
    )
    d = str(tmp_path_factory.mktemp("rank_boundary"))
    pq.write_table(table, f"{d}/events.parquet")
    for key in ("q_stats_ks", "q_stats_mannwhitney", "q_agg_argminmax"):
        spec = specs()[key]
        compare_query(spark, key, spec.builder, spec.oracle, d)


def test_argminmax_total_on_int64_extreme_ids(spark, tmp_path_factory):
    """Long.MIN_VALUE event ids: the arg pick negates the id inside
    MAX(struct(v, -id)), and under ANSI a bare -bigint RAISES on
    -2^63 (the one int64 with no negation) — the r8 ADVICE latent
    crash. The id is widened to decimal(38,0) before negation, so the
    key must stay total AND still hash-match the oracle's
    MIN-id-over-extremes form, including when Long.MIN itself is one
    of the tied extreme carriers (tie must resolve TO it)."""
    from datetime import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq
    from database_cloner_spark.registry import specs
    from tests.oracle_harness import compare_query

    i64_min, i64_max = -(1 << 63), (1 << 63) - 1
    base = datetime(2024, 3, 4, 10, 0, 0)
    rows = [
        # duplicate max value 9.0 carried by i64_min and 5: pick i64_min
        (i64_min, "click", 9.0), (5, "click", 9.0), (7, "click", 1.0),
        # i64_max id on the minimum; plain ids elsewhere
        (i64_max, "purchase", -4.0), (2, "purchase", 3.0),
        (i64_min, "purchase", 3.0),
    ]
    table = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([base] * len(rows), pa.timestamp("us")),
            "user_id": pa.array([1] * len(rows), pa.int64()),
            "event_type": pa.array([r[1] for r in rows], pa.string()),
            "value": pa.array([r[2] for r in rows], pa.float64()),
            "props": pa.array(["{}"] * len(rows), pa.string()),
        }
    )
    d = str(tmp_path_factory.mktemp("id_boundary"))
    pq.write_table(table, f"{d}/events.parquet")
    spec = specs()["q_agg_argminmax"]
    compare_query(spark, "q_agg_argminmax", spec.builder, spec.oracle, d)
