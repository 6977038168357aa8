"""Adversarial-input oracle parity for the relational (TPC-H-ish) tier.

Companion to tests/test_adversarial_docs.py / _events.py. The nasty
namespace holds miniature region/nation/customer/supplier/part/orders/
lineitem tables exercising what the generated fixture never does:

- NULLs in join keys, measures, and date columns (inner joins drop
  them, outer joins keep them, aggregates skip them — identically);
- referential breaks: orders without customers, nations pointing at a
  missing region, customers with no orders;
- duplicate primary keys and fully-duplicate rows (EXCEPT/INTERSECT
  ALL-semantics, groupBy over dup keys, window tie-breaks);
- empty-string and unicode dimension values;
- dates straddling the flagship queries' literal thresholds.

All monetary values are dyadic rationals (multiples of 0.25) with
magnitudes <= 1e6: every product/sum is then EXACTLY representable in
binary doubles, so cross-engine parity failures can only come from
logic, never from float association order (that inherent class is
documented in tests/test_adversarial_events.py).
"""

from __future__ import annotations

import os
from datetime import datetime

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from database_cloner_spark.registry import specs
from tests.oracle_harness import compare_query

_REL = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem")


def _ts(s: str) -> datetime:
    return datetime.fromisoformat(s)


def _tbl(cols: dict[str, tuple[list, pa.DataType]]) -> pa.Table:
    return pa.table({k: pa.array(v, t) for k, (v, t) in cols.items()})


def write_fixture(d: str) -> None:
    i32, i64, f64, s, ts = (
        pa.int32(),
        pa.int64(),
        pa.float64(),
        pa.string(),
        pa.timestamp("us"),
    )

    region = _tbl(
        {
            "r_regionkey": ([0, 1, 2, 3], i32),
            # empty name, unicode name, region with no nations (2), and
            # a name containing the config-entry separator (';' makes
            # an '='-less entry in q_udtf_explode_config)
            "r_name": (["", "ASIE-ÉST", "ORPHAN", "SEMI;COLON"], s),
        }
    )
    nation = _tbl(
        {
            # row 4: NULL name — the kv 'NAME=key' line degenerates to a
            # bare value with no '=' (q_scan_kv_config short-record path)
            "n_nationkey": ([0, 1, 2, 3, 4], i32),
            "n_name": (["ALPHA", "", "gamma-γ", "DELTA", None], s),
            # 9 -> missing region; NULL regionkey
            "n_regionkey": ([0, 1, 9, None, 0], i32),
        }
    )
    customer = _tbl(
        {
            # rows 9/10: NULL name / NULL mktsegment — concat_ws skips
            # NULL fields, so delimited records come out SHORT; the
            # parse side must yield NULL fields, not crash (ANSI
            # getItem out-of-bounds — q_scan_delim)
            "c_custkey": ([1, 2, 3, 4, 5, 6, 7, 8, 9, 10], i64),
            "c_name": (
                ["Alice", "Alice", "", "Bob-ß", "Carl", "Dora", "Eve", "Frank",
                 None, "Grace"],
                s,
            ),
            "c_nationkey": ([0, 0, 1, 2, None, 3, 0, 1, 2, 3], i32),
            "c_acctbal": (
                [0.25, -512.5, 0.0, None, 999999.75, -0.0, 10.25, 7.5, 1.0, 2.0],
                f64,
            ),
            "c_mktsegment": (
                ["BUILDING", "", "BUILDING", "AUTO", "MACHINË", "AUTO",
                 "BUILDING", "AUTO", "AUTO", None],
                s,
            ),
        }
    )
    supplier = _tbl(
        {
            "s_suppkey": ([1, 2, 3, 4], i64),
            "s_name": (["S one", "S two", "", "S fóur"], s),
            "s_nationkey": ([0, 1, None, 9], i32),
            "s_acctbal": ([100.25, None, -3.75, 0.0], f64),
        }
    )
    part = _tbl(
        {
            "p_partkey": ([1, 2, 3, 4, 5, 6], i64),
            "p_name": (["widget", "", "gädget", "widget", "thing", "bolt"], s),
            "p_brand": (["B1", "B1", "B2", "", "B2", "B1"], s),
            "p_type": (["small", "large", "small", "", "large", "small"], s),
            "p_size": ([1, 10, None, 50, 10, 9], i32),
            "p_retailprice": ([1.25, 1000000.0, 0.0, None, 42.75, 9.5], f64),
        }
    )
    orders = _tbl(
        {
            # duplicate orderkey 100; orphan custkey 99; NULL custkey
            "o_orderkey": ([100, 100, 101, 102, 103, 104, 105, 106, 107, 108], i64),
            "o_custkey": ([1, 1, 2, 99, None, 4, 5, 6, 7, 1], i64),
            "o_orderstatus": (["O", "O", "F", "", "O", "F", "P", "O", "F", "O"], s),
            "o_totalprice": (
                [10.25, 10.25, 2048.5, 0.0, None, 77.75, 100.0, 5.25, 33.5, 8.0],
                f64,
            ),
            # straddle the q3 literal 1995-03-15; one NULL date
            "o_orderdate": (
                [
                    _ts("1995-03-14T00:00:00"),
                    _ts("1995-03-15T00:00:00"),
                    _ts("1995-03-16T00:00:00"),
                    _ts("1992-01-01T00:00:00"),
                    _ts("1998-12-31T00:00:00"),
                    None,
                    _ts("1995-03-10T00:00:00"),
                    _ts("1995-03-14T23:59:59.999999"),
                    _ts("1970-01-01T00:00:00"),
                    _ts("1995-03-01T00:00:00"),
                ],
                ts,
            ),
            "o_orderpriority": (
                ["1-URGENT", "1-URGENT", "", "2-HIGH", "3-LOW", "2-HIGH",
                 "1-URGENT", "5-ÜBER", "3-LOW", "2-HIGH"],
                s,
            ),
        }
    )
    lineitem = _tbl(
        {
            "l_orderkey": (
                [100, 100, 100, 101, 101, 102, 103, 104, 105, 106, 107, 108,
                 999, 100, 105, 105, 106],
                i64,
            ),
            "l_partkey": ([1, 2, 3, 1, None, 4, 5, 6, 1, 2, 3, 4, 5, 1, 1, 1,
                           2], i64),
            "l_suppkey": ([1, 2, 3, 4, 1, None, 2, 3, 4, 1, 2, 3, 4, 1, 4, 4,
                           1], i64),
            # duplicate linenumbers within an order + two fully-dup rows
            "l_linenumber": ([1, 2, 2, 1, 2, 1, 1, 1, 1, 1, 1, 1, 1, 1, 2, 2,
                              2], i32),
            # last row: NaN price / inf quantity (broken upstream math)
            # — every money/stat path must degrade, never die or
            # diverge (the r10 NaN sweep, relational tier)
            "l_quantity": (
                [1.0, 2.0, 50.0, -3.0, 0.0, None, 7.0, 100.0, 5.0, 6.0, 1.0,
                 2.0, 4.0, 1.0, 5.0, 5.0, float("inf")],
                f64,
            ),
            "l_extendedprice": (
                [10.25, 20.5, 512.75, -30.0, 0.0, 100.25, None, 1000000.0,
                 50.5, 60.25, 10.0, 20.0, 40.0, 10.25, 50.5, 50.5,
                 float("nan")],
                f64,
            ),
            # dyadic discounts/taxes: products stay exactly representable
            "l_discount": (
                [0.0, 0.25, 0.5, 0.25, 0.0, 0.25, 0.5, None, 0.25, 0.0,
                 0.25, 0.5, 0.0, 0.0, 0.25, 0.25, 0.25],
                f64,
            ),
            "l_tax": (
                [0.0, 0.25, 0.0, 0.5, 0.25, 0.0, 0.25, 0.5, None, 0.25,
                 0.0, 0.25, 0.5, 0.0, 0.25, 0.25, 0.0],
                f64,
            ),
            "l_returnflag": (
                ["N", "R", "A", "N", "", "R", "N", "A", "N", "R", "N", "A",
                 "N", "N", "R", "R", "R"],
                s,
            ),
            "l_linestatus": (
                ["O", "F", "O", "F", "O", "", "F", "O", "F", "O", "F", "O",
                 "F", "O", "F", "F", "O"],
                s,
            ),
            # straddle the q1 literal 1998-09-02; one NULL shipdate
            "l_shipdate": (
                [
                    _ts("1998-09-01T00:00:00"),
                    _ts("1998-09-02T00:00:00"),
                    _ts("1998-09-02T00:00:00.000001"),
                    _ts("1998-09-03T00:00:00"),
                    _ts("1995-01-01T00:00:00"),
                    None,
                    _ts("1998-09-02T00:00:00"),
                    _ts("1970-01-01T00:00:00"),
                    _ts("1996-06-15T12:00:00"),
                    _ts("1995-03-20T00:00:00"),
                    _ts("1995-03-10T00:00:00"),
                    _ts("1998-08-31T23:59:59.999999"),
                    _ts("1997-01-01T00:00:00"),
                    _ts("1998-09-01T00:00:00"),
                    _ts("1996-06-15T12:00:00"),
                    _ts("1996-06-15T12:00:00"),
                    _ts("1996-07-01T00:00:00"),
                ],
                ts,
            ),
        }
    )
    for name, table in [
        ("region", region),
        ("nation", nation),
        ("customer", customer),
        ("supplier", supplier),
        ("part", part),
        ("orders", orders),
        ("lineitem", lineitem),
    ]:
        pq.write_table(table, os.path.join(d, f"{name}.parquet"))


@pytest.fixture(scope="module")
def nasty_dir(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("nasty_rel"))
    write_fixture(d)
    return d


_EXEMPT: dict[str, str] = {
    # (goal state: empty)
}


# Table-usage selection (registry.tables_used): includes the
# tolerance-verdict keys automatically — their oracle is a literal TRUE
# but their builder's load() literals record the lineitem input.
from database_cloner_spark.registry import keys_reading_only

_KEYS = keys_reading_only(set(_REL))


def test_relational_key_inventory_is_substantial():
    assert len(_KEYS) >= 40, _KEYS
    assert "q1_pricing_summary" in _KEYS and "q_join_outer_diff" in _KEYS


@pytest.mark.parametrize("name", _KEYS)
def test_adversarial_parity(spark, nasty_dir, name):
    if name in _EXEMPT:
        pytest.skip(_EXEMPT[name])
    spec = specs()[name]
    compare_query(spark, name, spec.builder, spec.oracle, nasty_dir)


def test_regression_parity_above_2p53(spark, tmp_path):
    """Boundary-fixture guard for the r7 q_stats_regression parity break.

    DuckDB's CAST(HUGEINT AS DOUBLE) converts the hi/lo 64-bit words
    separately and re-rounds on the combine, so integers above 2^64 can
    land 1 ulp off the correctly-rounded double that Python / Java
    BigDecimal / Spark's decimal->double all produce (r7 judge repro:
    21154864837852735588 -> ...733e19 in DuckDB, correct ...738e19).
    This fixture is ENGINEERED so deny = n*syy - sy^2 is exactly such a
    value: the r7 raw-cast formulation diverges on it by construction;
    the rational-rounding form (rational.ratio_dec) must stay
    bit-identical.
    Prices are quarter-dollar dyadics so FLOOR(price*100) reconstructs
    the engineered integer cents exactly on both engines."""
    import duckdb
    from datetime import date, datetime, timedelta

    import pyarrow as pa
    import pyarrow.parquet as pq

    # One priority group, 300 points, deterministic quadratic 'noise'
    # snapped to multiples of 25 cents (seed 13 found by offline search).
    ys = [
        1000000 + i * 190000
        + 25 * (((i * i * 2654435761 + 13 * i) % 999983) // 25)
        for i in range(300)
    ]
    xs = [(i * 37) % 2500 for i in range(300)]
    n, sy, syy = len(ys), sum(ys), sum(y * y for y in ys)
    deny = n * syy - sy * sy
    assert deny == 24416857545013081875 and deny > 2**64
    # The fixture only bites while DuckDB's wide cast actually double-
    # rounds this value; if a DuckDB upgrade fixes the cast, this assert
    # fires so the fixture (and the ratio_dec rationale) get re-evaluated.
    con = duckdb.connect()
    duck_cast = con.execute(
        f"SELECT CAST(CAST({deny} AS HUGEINT) AS DOUBLE)"
    ).fetchone()[0]
    con.close()
    assert duck_cast != float(deny), (
        "DuckDB now casts this HUGEINT correctly; boundary fixture stale"
    )
    # Quarter-dollar prices: y/100 is k/4, exact in binary, so the
    # query's floor(o_totalprice*100) round-trips the engineered cents.
    assert all(float(y) / 100 * 100 == float(y) for y in ys)

    epoch = datetime(1992, 1, 1)
    orders = pa.table(
        {
            "o_orderkey": pa.array(range(300), pa.int64()),
            "o_orderpriority": pa.array(["1-URGENT"] * 300, pa.string()),
            "o_totalprice": pa.array([y / 100 for y in ys], pa.float64()),
            "o_orderdate": pa.array(
                [epoch + timedelta(days=x) for x in xs], pa.timestamp("us")
            ),
        }
    )
    d = str(tmp_path / "boundary")
    os.makedirs(d)
    pq.write_table(orders, os.path.join(d, "orders.parquet"))

    spec = specs()["q_stats_regression"]
    compare_query(spark, "q_stats_regression", spec.builder, spec.oracle, d)


def test_weighted_median_nonfinite_weight_boundary(spark, tmp_path):
    """Engineered boundary for q_agg_weighted_median's weight guard:
    Spark's floor(double) SATURATES (floor(+Inf) = floor(1e20) =
    Long.MAX, floor(NaN) = 0) where DuckDB's TRY_CAST(FLOOR(x)) NULLs —
    without the explicit NaN/2^63 guard the engines disagree on which
    rows carry weight. The fixture plants +Inf, NaN, 1e20, exactly 2^63,
    the largest double BELOW 2^63 (must stay a VALID weight on both
    engines), and -Inf alongside normal rows; parity must hash-match."""
    import math

    below = 9223372036854774784.0  # largest double < 2^63
    rows = [
        # (linestatus, price, qty)
        ("O", 10.25, 2.0),
        ("O", 20.5, 3.0),
        ("O", 30.75, math.inf),      # Spark floor saturates; DuckDB NULL
        ("O", 40.0, math.nan),       # Spark floor -> 0; DuckDB NULL
        ("O", 50.0, 1.0e20),         # overflow: NULL both, via the guard
        ("O", 60.0, 2.0**63),        # exactly 2^63: NULL both
        ("F", 10.0, below),          # max representable weight: KEPT both
        ("F", 99.0, 1.0),
        ("F", 99.0, -math.inf),      # negative: dropped by wt > 0 both
    ]
    li = pa.table(
        {
            "l_linestatus": pa.array([r[0] for r in rows], pa.string()),
            "l_extendedprice": pa.array([r[1] for r in rows], pa.float64()),
            "l_quantity": pa.array([r[2] for r in rows], pa.float64()),
        }
    )
    d = str(tmp_path / "wm_boundary")
    os.makedirs(d)
    pq.write_table(li, os.path.join(d, "lineitem.parquet"))
    spec = specs()["q_agg_weighted_median"]
    compare_query(spark, "q_agg_weighted_median", spec.builder, spec.oracle, d)


def test_gini_and_benford_degenerate_orders_boundary(spark, tmp_path):
    """Engineered boundary for the cents-domain keys: a priority group
    whose every total rounds to 0 cents (legal under the > 0 filter)
    makes Gini's denominator n*sx = 0 — the group must be DROPPED on
    both engines, not raise DIVIDE_BY_ZERO; and a total past the 9e16
    cents-overflow bound must be filtered on both engines, not hard-
    error the ANSI cast. Benford shares the bound on the same table."""
    rows = [
        ("1-URGENT", 0.001),   # rounds to 0 cents
        ("1-URGENT", 0.004),   # rounds to 0 cents -> sx = 0, group drops
        ("2-HIGH", 123.45),
        ("2-HIGH", 678.90),
        ("2-HIGH", 1.0e20),    # past the cents-overflow bound: filtered
        ("3-LOW", 42.00),
    ]
    orders = pa.table(
        {
            "o_orderpriority": pa.array([r[0] for r in rows], pa.string()),
            "o_totalprice": pa.array([r[1] for r in rows], pa.float64()),
        }
    )
    d = str(tmp_path / "gini_boundary")
    os.makedirs(d)
    pq.write_table(orders, os.path.join(d, "orders.parquet"))
    for key in ("q_agg_gini", "q_dq_benford"):
        spec = specs()[key]
        compare_query(spark, key, spec.builder, spec.oracle, d)


def test_dq_skew_total_on_int64_extreme_keys(spark, tmp_path_factory):
    """Long.MIN_VALUE join keys: the hot-key pick negates the key inside
    MAX(struct(cnt, -key)), and under ANSI a bare -bigint RAISES on
    -2^63 (r8 ADVICE, same latent crash as argminmax). With the
    decimal(38,0) widen the key must stay total and hash-match the
    oracle — including a count TIE between Long.MIN and a plain key,
    which must resolve to Long.MIN (the smallest key)."""
    i64_min, i64_max = -(1 << 63), (1 << 63) - 1
    i64 = pa.int64()
    li = _tbl(
        {
            # i64_min ties with key 7 at two rows each: hot_key = i64_min
            "l_orderkey": ([i64_min, i64_min, 7, 7, 9, None], i64),
            "l_partkey": ([i64_max, i64_max, i64_max, 1, 2, 3], i64),
            "l_suppkey": ([i64_min, 4, 4, 4, None, None], i64),
        }
    )
    d = str(tmp_path_factory.mktemp("skew_boundary"))
    pq.write_table(li, os.path.join(d, "lineitem.parquet"))
    spec = specs()["q_dq_skew"]
    compare_query(spark, "q_dq_skew", spec.builder, spec.oracle, d)
