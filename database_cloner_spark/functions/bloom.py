"""Distributed Bloom filter as pure DataFrame ops.

The classic 100 TB membership primitive: "is this key in that other
table?" without shuffling either side. Spark's runtime uses Bloom
filters internally for join pruning, but `bloom_filter_agg` is not
exposed as a SQL-callable routine in Spark 4 — so this module builds
the same structure from first principles, keeping every step JVM-side:

- k independent hash positions per key via SALTED `xxhash64(key, i)`
  (hashing the (key, salt) tuple is an independent 64-bit family);
- build: explode keys to (word, bit) pairs and `bit_or`-aggregate a
  word-indexed bitmap — the shuffle carries ≤ n_keys × k rows of 16
  bytes, partially combined map-side, and the result is m/64 longs
  (a 1 Mbit filter is 128 KB dense — broadcast-trivial);
- probe: the bitmap broadcasts as a DENSE array<long> (all-zero words
  included); membership is a map-side conjunction of k O(1)
  `element_at` array reads. The r13 form broadcast a sparse
  map<word,bits> instead — but Spark's map `element_at` is a LINEAR
  scan of the key array (GetMapValue has no index), so every probe
  row paid k × n_nonzero_words comparisons: ~16k-entry scans × 5
  hashes × every fact row dominated q_join_bloom_semi at the derived
  sf1 decade jump. Dense trades 128 KB of broadcast zeros for O(1)
  probes (guide §4.1 — keep the hot expression codegen-cheap).

Guarantees are the textbook ones: NO false negatives (verified as a
hard invariant by q_bloom_probe), false-positive rate ≈
(1 - e^(-k·n/m))^k — with the default m=2²⁰ bits, k=5 and 100k keys
that is ~0.2%. Size m for the EXPECTED key count at your scale; the
filter itself never degrades silently, only the FP rate grows.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

DEFAULT_M_BITS = 1 << 20
BLOOM_K = 5  # hash functions, k


def _positions(key: Column, m_bits: int) -> list[Column]:
    """BLOOM_K independent bit positions in [0, m_bits). Build and probe both
    come through here, so this is where the bitmap's word layout is
    enforced: m_bits/64 whole words, or the tail bits would be dropped
    on build and read past the array end on probe (false negatives)."""
    if m_bits % 64:
        raise ValueError(f"m_bits must be a multiple of 64, got {m_bits}")
    return [
        F.pmod(F.xxhash64(key, F.lit(i)), F.lit(m_bits)) for i in range(BLOOM_K)
    ]


def _bit_mask(p: Column) -> Column:
    """1L << (p % 64) with a COLUMN shift amount. The PySpark wrapper
    `F.shiftleft(col, numBits)` only accepts a Python-int shift
    (py4j raises "Column is not iterable" at plan-build otherwise —
    the r5 bloom crash); the underlying SQL function takes any
    expression, so call it directly."""
    return F.call_function(
        "shiftleft", F.lit(1).cast("long"), F.pmod(p, F.lit(64)).cast("int")
    )


def build_bloom(keys: DataFrame, key_col: str, m_bits: int = DEFAULT_M_BITS) -> DataFrame:
    """Aggregate `keys[key_col]` (NULLs ignored — NULL is not a member)
    into a single-row DENSE bitmap: (bloom: array<long>) of exactly
    m_bits/64 words, word i at array position i+1 (1-based `element_at`
    addressing), all-zero words materialized as 0L. Densification is a
    left join of the full word range against the sparse (word, bits)
    rows, then array_sort(collect_list(struct)) + a field-extract
    transform — the lambda body is a plain field access, because a
    lambda that LOOKS UP a built-elsewhere map re-evaluates the map
    construction per element (Catalyst does not CSE inside HOF
    lambdas — the repo's measured 7x shingle lesson; a first draft of
    this densify rebuilt map_from_entries(array_sort(...)) 16384
    times). The probe side then reads each word with an O(1) array
    `element_at` instead of a linear map scan."""
    n_words = m_bits // 64
    pos = keys.filter(F.col(key_col).isNotNull()).select(
        F.explode(F.array(*_positions(F.col(key_col), m_bits))).alias("p")
    )
    words = pos.select(
        (F.col("p") / 64).cast("long").alias("w"),
        _bit_mask(F.col("p")).alias("b"),
    )
    sparse = words.groupBy("w").agg(F.bit_or("b").alias("bits"))
    rng = keys.sparkSession.range(n_words).select(F.col("id").alias("w"))
    dense_rows = rng.join(sparse, "w", "left").select(
        "w", F.coalesce(F.col("bits"), F.lit(0).cast("long")).alias("bits")
    )
    return dense_rows.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("w", "bits"))),
            lambda x: x["bits"],
        ).alias("bloom")
    )


def bloom_contains(key: Column, bloom: Column, m_bits: int = DEFAULT_M_BITS) -> Column:
    """Map-side membership test: true iff every one of the key's BLOOM_K bits
    is set. NULL keys test false (a NULL was never inserted). Each of
    the k word reads is an O(1) array `element_at` (index provably in
    [1, m_bits/64]: positions are pmod(·, m_bits), so ANSI bounds can
    never trip)."""
    def bit_set(p: Column) -> Column:
        word = F.element_at(bloom, ((p / 64).cast("int") + F.lit(1)))
        return word.bitwiseAND(_bit_mask(p)) != F.lit(0).cast("long")

    tests = [bit_set(p) for p in _positions(key, m_bits)]
    return F.when(key.isNull(), F.lit(False)).otherwise(
        reduce(lambda a, b: a & b, tests)
    )
