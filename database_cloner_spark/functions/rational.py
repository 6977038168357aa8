"""Exact-ratio rounding — the one rule every cross-engine-hashed ratio
goes through, each Spark expression next to its DuckDB mirror.

A ratio of exact integers num/den is rounded half-up at d digits in
INTEGER arithmetic, never by ROUND on a double: a ratio that sits
exactly on a d-th-decimal tie (6690/8000 = 0.83625 at d=4) rounds
through different decimal paths on the two engines, and an int->double
cast above 2^53 is engine-dependent. Three forms:

- ratio / ratio_sql: int64 operands, one quotient
  floor((2*10^d*num + den) / (2*den)), then one IEEE division by 10^d;
- ratio_dec / ratio_dec_sql: decimal(38,0) / HUGEINT operands (the
  sufficient statistics of the correlation and moment keys), split
  into int64 words so no quotient can wrap;
- pearson / pearson_sql: sign(num) * sqrt of two ratio_dec factors,
  the Pearson-r closed form every correlation key shares.

Each pair computes the bit-identical double on Spark and DuckDB, so
a key's result hashes the same as its oracle's.
"""

from __future__ import annotations

from pyspark.sql import functions as F

DEC = "decimal(38,0)"


def ratio(num, den, digits: int):
    """round-half-up(10^digits * num/den) / 10^digits computed in
    INTEGER arithmetic: floor((2*10^d*num + den) / (2*den)) / 10^d.

    Why not ROUND(num/den, d): when the true ratio sits exactly on a
    d-th-decimal tie (e.g. 6690/8000 = 0.83625 at d=4), the two engines
    round their nearest-doubles through different decimal paths and
    split the tie differently — Spark emitted 0.8362 where DuckDB said
    0.8363 at sf0.1 (found by the sf0.1 parity sweep; invisible at
    smaller sfs where no value hits a tie). The integer form never
    rounds a double at all, so both engines produce the bit-identical
    k/10^d. The quotient itself is SQL integral `div` (64-bit long
    division, bit-identical to DuckDB's `//` for non-negative
    operands), NOT floor-of-double-division: once 2*10^d*num exceeds
    2^53 the double loses integer precision and floor(double) silently
    diverges from exact division (e.g. num=2e16, den=3: exact
    ...666 vs ...667 via double) — per-doc ratios never get there,
    but corpus-sum consumers (lang_stats avg_chars, winsorize mean,
    vocab coverage) do at the 100 TB target. The final /10^d stays a
    double op: q ≈ 10^d*ratio << 2^53, and IEEE division is correctly
    rounded, so both engines emit the identical double.

    Domain: |2*10^d*num + den| must fit int64 (ANSI mode raises on
    overflow rather than wrapping — loud, like DuckDB's BIGINT). That
    bounds num < ~4.6e14 at d=4 / ~4.6e16 at d=2: ample for sums of
    per-doc counts at 100 TB (25T tokens ≈ 2.5e13); a consumer beyond
    it should pre-reduce (e.g. average of per-group averages) rather
    than widen to int128, which Spark lacks.
    Use for every cross-engine-hashed ratio of exact integers.

    Total on den = 0/NULL: the CASE guard yields NULL instead of the
    ANSI `div` DIVIDE_BY_ZERO — exactly DuckDB's `x // 0` → NULL, so
    oracles need no special-casing (an EMPTY events table drove
    q_funnel's denominator to 0; tests/test_adversarial_empty.py)."""
    scale = 10 ** digits
    d = den.cast("long")
    a = F.lit(2 * scale).cast("long") * num.cast("long") + d
    q = F.when(d != 0, F.call_function("div", a, 2 * d))
    return q / F.lit(float(scale))


def ratio_sql(num: str, den: str, digits: int) -> str:
    """DuckDB mirror of ratio over BIGINT expressions: the same one
    quotient by `//` (NULL when den = 0) and the same division by
    10^d. An operand that needs a cast carries it itself."""
    s = 10 ** digits
    return f"((({2 * s}*({num}) + ({den})) // (2*({den}))) / {s}.0)"


def ratio_dec(num, den, digits: int, signed: bool = True):
    """round-half-away-from-zero(num/den) at `digits` decimals, computed
    entirely in exact decimal(38,0) integer arithmetic; den must be > 0.

    The decimal(38,0) form of ratio (long-domain) for
    sufficient-statistic ratios whose operands exceed 2^53 — where a raw
    int->double cast is engine-dependent (DuckDB's HUGEINT->DOUBLE
    double-rounds, see queries/analytics_ext._ORACLE_REGRESSION).
    SPLIT FORM: the ratio's integer part ip = |num| div den and its
    fraction fq =
    round-half-up(rem/den * 10^d) are computed as two separate int64
    quotients — the r8 nasty-twin sweep proved the one-shot
    (2*10^d*|num| + den) div (2*den) quotient can exceed int64 on
    high-variance fixtures, and Spark's decimal `div` WRAPS SILENTLY
    there (no ANSI error; verified: 3.3e26 div 3 returned a negative
    long). ip is therefore re-verified exactly (ip*den == |num| - rem,
    all decimal — a wrapped quotient cannot pass) with an in-plan
    raise_error; fq <= 10^d always fits. The result double
    ip + fq/10^d is built from a correctly-rounded int64 cast (single
    64-bit conversion — exact below 2^53 and correctly rounded above,
    on BOTH engines, unlike the 128-bit cast) plus one IEEE add: bit-
    identical cross-engine. The SQL mirror is ratio_dec_sql. The sign
    gate returns +0.0 (never -0.0) when the magnitude rounds to zero."""
    scale = 10 ** digits
    mag = F.abs(num)

    def _fq(rem):
        return F.call_function(
            "div",
            F.lit(2 * scale).cast(DEC) * rem + den,
            F.lit(2).cast(DEC) * den,
        )

    # Two domains, branched on den so every intermediate provably fits
    # (CASE branches evaluate lazily on both engines):
    # - den >= 2e19: the ratio is at most ~1e38/2e19 < 5e18 — the
    #   single-word quotient cannot wrap int64, and den*1e18 (which the
    #   other branch needs) might not fit decimal(38,0).
    # - den < 2e19: ip can exceed int64 (the r8 moments key's 4th
    #   powers did, on the high-magnitude nasty fixture), so split
    #   ip = hi*10^18 + lo; den*1e18 < 2e37 fits, every word quotient
    #   fits int64, and hi is exact-verified (a wrapped quotient cannot
    #   pass ip*den == mag - rem) with an in-plan raise_error — the
    #   residual loud-failure domain is ratio > ~9.2e36.
    # hi == 0 reproduces the single-word double BIT-EXACTLY
    # (0.0*1e18 + lo adds exactly), so previously-green oracles are
    # unchanged in either branch.
    # string literal: 2e19 exceeds int64, py4j cannot ship it as a long
    big_den = den >= F.lit(str(2 * 10 ** 19)).cast(DEC)
    ip_a = F.call_function("div", mag, den)
    comp_a = ip_a.cast("double") + _fq(mag % den) / F.lit(float(scale))

    den18 = F.lit(10 ** 18).cast(DEC) * den
    hi = F.call_function("div", mag, den18)
    rem_hi = mag % den18
    # the message is a literal of every plan that reaches it: it keeps
    # its original wording so those plans stay byte-identical
    hi = F.when(hi.cast(DEC) * den18 == mag - rem_hi, hi).otherwise(
        F.raise_error(
            F.lit(
                "_rr_dec: ratio exceeds ~9.2e36 "
                "(decimal div wraps silently past int64) — rescale"
            )
        )
    )
    lo = F.call_function("div", rem_hi, den)  # < 10^18, always fits
    comp_b = (
        hi.cast("double") * F.lit(1.0e18)
        + lo.cast("double")
        + _fq(rem_hi % den) / F.lit(float(scale))
    )
    comp = F.when(big_den, comp_a).otherwise(comp_b)
    if not signed:
        return comp
    return F.when(
        num < 0, F.when(comp == 0, F.lit(0.0)).otherwise(-comp)
    ).otherwise(comp)


def ratio_dec_sql(num: str, den: str, digits: int, signed: bool = True) -> str:
    """DuckDB mirror of ratio_dec over HUGEINT expressions: same
    two-word split form — hi/lo BIGINT-cast integer words (the hi cast
    raises loudly past int64, exactly where the Spark side
    raise_errors) + <=10^d fractional quotient — so every int->double
    conversion is a correctly-rounded 64-bit one and the add order
    matches ratio_dec."""
    s = 10 ** digits
    d18 = f"(CAST(({den}) AS HUGEINT) * 1000000000000000000)"
    comp_a = (
        f"(CAST(CAST(ABS({num}) // ({den}) AS BIGINT) AS DOUBLE)"
        f" + ((2 * {s} * (ABS({num}) % ({den})) + ({den}))"
        f" // (2 * ({den}))) / {s}.0)"
    )
    comp_b = (
        f"(CAST(CAST(ABS({num}) // {d18} AS BIGINT) AS DOUBLE) * 1.0e18"
        f" + CAST(CAST((ABS({num}) % {d18}) // ({den}) AS BIGINT) AS DOUBLE)"
        f" + ((2 * {s} * ((ABS({num}) % {d18}) % ({den})) + ({den}))"
        f" // (2 * ({den}))) / {s}.0)"
    )
    comp = (
        f"(CASE WHEN ({den}) >= 20000000000000000000 THEN {comp_a}"
        f" ELSE {comp_b} END)"
    )
    if not signed:
        return comp
    return (
        f"(CASE WHEN ({num}) < 0 THEN"
        f" (CASE WHEN {comp} = 0 THEN 0.0 ELSE -{comp} END)"
        f" ELSE {comp} END)"
    )


def pearson(num, denx, deny):
    """sign(num) * sqrt(rr(num/denx, 8) * rr(num/deny, 12)) — the
    Pearson-r closed form over exact integer sufficient statistics,
    shared by every correlation key so the rounding digits cannot drift
    between them. mag == 0 only when num == 0, so the sign gate never
    produces -0.0."""
    mag = F.sqrt(
        ratio_dec(num, denx, 8, signed=False)
        * ratio_dec(num, deny, 12, signed=False)
    )
    return F.when(num < 0, -mag).otherwise(mag)


def pearson_sql(num: str, denx: str, deny: str) -> str:
    """DuckDB mirror of pearson over HUGEINT expressions."""
    return (
        f"(CASE WHEN {num} < 0 THEN -1 ELSE 1 END)"
        f" * sqrt({ratio_dec_sql(num, denx, 8, signed=False)}"
        f" * {ratio_dec_sql(num, deny, 12, signed=False)})"
    )
