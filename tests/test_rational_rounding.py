"""Property tests for the exact-ratio rounding rule
(functions/rational.py): the decimal split form ratio_dec /
ratio_dec_sql that every statistics key (OLS, t-test, autocorr,
corr-matrix) rides, and the int64 form ratio / ratio_sql that every
score and rate key rides.

Ground truth is exact fractions.Fraction arithmetic in Python:
round-half-away-from-zero(num/den, d) represented as
ip + fq/10^d with ip = |num| // den and fq = round-half-up of the
remainder fraction, then converted to the nearest double the same way
the engines do (int64 -> double cast + one IEEE add). The int64 form is
the round-half-up quotient cast to double and divided by 10^d once,
NULL when den = 0. The properties:

1. Spark (ratio_dec, ratio) == DuckDB (ratio_dec_sql, ratio_sql)
   bit-for-bit on the same inputs (the parity property every oracle
   depends on);
2. both equal the Fraction-derived reference double;
3. magnitudes straddle every hazard found this round: > 2^53 (the
   DuckDB HUGEINT double-rounding region), > 2^64 (hi/lo split), and
   integer parts near int64 (the Spark silent-wrap region is guarded
   by raise_error, tested separately).
"""

from __future__ import annotations

from fractions import Fraction
from functools import reduce

import duckdb
import pytest
from hypothesis import given, settings, strategies as st


def _ref(num: int, den: int, digits: int) -> float:
    """Exact-integer reference for the branched split rational rounding
    (mirrors ratio_dec/ratio_dec_sql: big dens take the single-word path whose
    quotient provably fits int64; small dens take the two-word
    ip = hi*10^18 + lo path, added in the engines' fixed order —
    Python floats are the same IEEE doubles)."""
    scale = 10 ** digits
    mag = abs(num)
    if den >= 2 * 10 ** 19:
        ip = mag // den
        rem = mag % den
        fq = (2 * scale * rem + den) // (2 * den)
        comp = float(ip) + float(fq) / float(scale)
    else:
        den18 = den * 10 ** 18
        hi = mag // den18
        rem_hi = mag % den18
        lo = rem_hi // den
        rem = rem_hi % den
        fq = (2 * scale * rem + den) // (2 * den)
        comp = float(hi) * 1.0e18 + float(lo) + float(fq) / float(scale)
    if num < 0 and comp != 0:
        return -comp
    return comp


def _ratio_ref(num: int, den: int, digits: int) -> float | None:
    """Exact reference for ratio / ratio_sql: floor(num/den * 10^d + 1/2)
    as a Fraction, cast to double, then one IEEE division by 10^d (the
    engines' path); NULL on a zero denominator."""
    if den == 0:
        return None
    scale = 10 ** digits
    q = Fraction(num, den) * scale + Fraction(1, 2)
    return float(q.numerator // q.denominator) / scale


# (num, den, digits) for ratio / ratio_sql: the 6690/8000 tie at d=4
# that ROUND split across the engines, a numerator past 2^53, one whose
# scaled numerator passes 2^53, x.5 ties, and a zero denominator
_RATIO_CASES = [
    (6690, 8000, 4),
    (9_007_199_254_740_993, 7, 0),
    (10_000_000_000_000_000, 3, 2),
    (1, 3, 4),
    (2, 3, 4),
    (7, 2, 0),
    (5, 0, 4),
]


@pytest.mark.parametrize("num,den,digits", _RATIO_CASES)
def test_ratio_sql_matches_fraction_reference(num, den, digits):
    """DuckDB's ratio_sql == the Fraction reference, NULL on den = 0."""
    from database_cloner_spark.functions.rational import ratio_sql

    con = duckdb.connect()
    got = con.execute(
        f"SELECT {ratio_sql(f'CAST({num} AS BIGINT)', f'CAST({den} AS BIGINT)', digits)}"
    ).fetchone()[0]
    con.close()
    want = _ratio_ref(num, den, digits)
    assert got == want and str(got) == str(want), (num, den, digits, got, want)


# numerators spanning the hazard regions; denominators positive
_NUMS = st.integers(min_value=-(10**25), max_value=10**25)
_DENS = st.integers(min_value=1, max_value=10**22)
_DIGITS = st.sampled_from([4, 6, 8, 12])


@settings(max_examples=300, deadline=None)
@given(num=_NUMS, den=_DENS, digits=_DIGITS)
def test_rr_sql_matches_fraction_reference(num, den, digits):
    """DuckDB's ratio_dec_sql == the Fraction reference on every input —
    including >2^53 and >2^64 operands where a raw HUGEINT->DOUBLE cast
    would double-round (SCALE.md pitfall 8). Skips inputs whose integer
    part exceeds int64 (both engines fail loudly there by design)."""
    from database_cloner_spark.functions.rational import ratio_dec_sql

    if den < 2 * 10**19 and abs(num) // (den * 10**18) > 2**63 - 1:
        return  # loud-failure domain, covered by the wrap-guard tests
    con = duckdb.connect()
    got = con.execute(
        f"SELECT {ratio_dec_sql(f'CAST({num} AS HUGEINT)', f'CAST({den} AS HUGEINT)', digits)}"
    ).fetchone()[0]
    con.close()
    want = _ref(num, den, digits)
    assert got == want and str(got) == str(want), (num, den, digits, got, want)


def test_rr_dec_matches_fraction_reference_on_hazard_grid(spark):
    """Spark's ratio_dec == the Fraction reference on a deterministic
    grid straddling 2^53 / 2^64 / negative / tie cases (one Spark job per
    digit count — hypothesis-per-example Spark jobs would be minutes),
    and Spark's ratio == the reference on the ratio_sql cases, den = 0
    giving NULL."""
    from pyspark.sql import functions as F

    from database_cloner_spark.functions.rational import DEC, ratio, ratio_dec

    cases = []
    for num in (
        0, 1, -1, 7, -7, 12345678, -12345678,
        2**53 + 1, -(2**53 + 1), 2**64 + 3, -(2**64 + 3),
        21154864837852735588, -21154864837852735588,  # r7 miscast value
        24416857545013081875, 10**24 + 7, -(10**24 + 7),
        5, -5, 15, -15,  # half-way ties at den=10, d=0-ish
    ):
        for den in (1, 2, 3, 7, 10, 997, 10**6 + 3, 10**12,
                    2 * 10**19 - 1, 2 * 10**19, 10**21 + 7):
            for digits in (4, 8, 12):
                if den < 2 * 10**19 and abs(num) // (den * 10**18) > 2**63 - 1:
                    continue
                cases.append((str(num), str(den), digits))
    rows = [(n, d, g) for (n, d, g) in cases]
    df = spark.createDataFrame(rows, "num string, den string, digits int")
    out = {}
    for digits in (4, 8, 12):
        sub = df.filter(F.col("digits") == digits).select(
            "num",
            "den",
            ratio_dec(
                F.col("num").cast(DEC), F.col("den").cast(DEC), digits
            ).alias("got"),
        )
        for r in sub.collect():
            out[(r["num"], r["den"], digits)] = r["got"]
    bad = []
    for n_s, d_s, digits in cases:
        want = _ref(int(n_s), int(d_s), digits)
        got = out[(n_s, d_s, digits)]
        if got != want or str(got) != str(want):
            bad.append((n_s, d_s, digits, got, want))
    ints = spark.createDataFrame(
        [(i, n, d) for i, (n, d, _) in enumerate(_RATIO_CASES)],
        "i int, num long, den long",
    )
    # one select per case: a case's digits would overflow another's num
    per_case = [
        ints.filter(F.col("i") == i).select(
            "i", ratio(F.col("num"), F.col("den"), digits).alias("got")
        )
        for i, (_, _, digits) in enumerate(_RATIO_CASES)
    ]
    got = dict(reduce(lambda a, b: a.unionByName(b), per_case).collect())
    for i, (num, den, digits) in enumerate(_RATIO_CASES):
        want = _ratio_ref(num, den, digits)
        if got[i] != want or str(got[i]) != str(want):
            bad.append((num, den, digits, got[i], want))
    assert not bad, bad[:5]


def test_rr_dec_wrap_guard_raises_loudly(spark):
    """A ratio past the two-word domain (~9.2e36) must raise the
    ratio_dec guard error — never return a silently-wrapped value
    (SCALE.md pitfall 9). Ratios up to ~9.2e36 are handled by the
    hi/lo split (test grids above cover >int64 integer parts)."""
    from pyspark.sql import functions as F

    from database_cloner_spark.functions.rational import DEC, ratio_dec

    df = spark.createDataFrame(
        [("1" + "0" * 37, "1")], "num string, den string"
    )
    with pytest.raises(Exception, match="wraps silently|overflow|Overflow|exceeds"):
        df.select(
            ratio_dec(F.col("num").cast(DEC), F.col("den").cast(DEC), 8)
        ).collect()


def test_rr_sql_bigint_cast_raises_loudly_past_int64():
    """DuckDB mirror of the wrap guard: the BIGINT cast of the hi word
    errors loudly instead of wrapping."""
    from database_cloner_spark.functions.rational import ratio_dec_sql

    con = duckdb.connect()
    with pytest.raises(Exception):
        con.execute(
            "SELECT "
            + ratio_dec_sql(
                "CAST(" + "1" + "0" * 37 + " AS HUGEINT)",
                "CAST(1 AS HUGEINT)",
                8,
            )
        ).fetchone()
    con.close()
