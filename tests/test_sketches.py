"""Probabilistic-structure primitives (functions/bloom.py,
functions/sketch.py) and the ES weighted sampler: the textbook
invariants as unit tests on synthetic data, independent of the
registered verdict queries.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from database_cloner_spark.functions.bloom import bloom_contains, build_bloom
from database_cloner_spark.functions.sketch import build_cms, cms_estimate
from database_cloner_spark.queries.sampling import es_sample


def _keyed(spark, keys):
    return spark.createDataFrame([(k,) for k in keys], "k long")


# ---------------------------------------------------------------- bloom


def test_bloom_no_false_negatives_and_null_is_nonmember(spark):
    members = list(range(0, 5000, 3))
    bloom = build_bloom(_keyed(spark, members), "k")
    probe = spark.createDataFrame(
        [(k,) for k in members] + [(None,)], "k long"
    ).crossJoin(F.broadcast(bloom))
    hits = probe.select(
        "k", bloom_contains(F.col("k"), F.col("bloom")).alias("hit")
    ).collect()
    for r in hits:
        if r.k is not None:
            assert r.hit, f"false negative for member {r.k}"
        else:
            assert not r.hit, "NULL must never test as a member"


def test_bloom_fp_rate_within_sizing_bound(spark):
    members = list(range(100_000))
    non_members = list(range(200_000, 220_000))
    bloom = build_bloom(_keyed(spark, members), "k")
    probe = _keyed(spark, non_members).crossJoin(F.broadcast(bloom))
    fp = probe.filter(bloom_contains(F.col("k"), F.col("bloom"))).count()
    # m=2^20, k=5, n=100k -> theoretical ~0.2%; allow 10x headroom.
    assert fp / len(non_members) < 0.02, f"FP rate {fp / len(non_members)}"


def test_bloom_rejects_partial_word_sizes(spark):
    """m_bits must fill whole 64-bit words: a tail of bits beyond the
    last word would be dropped on build and missed on probe."""
    with pytest.raises(ValueError, match="multiple of 64"):
        build_bloom(_keyed(spark, [1, 2, 3]), "k", m_bits=100)
    with pytest.raises(ValueError, match="multiple of 64"):
        bloom_contains(F.col("k"), F.col("bloom"), m_bits=100)


# ------------------------------------------------------------------ cms


def test_cms_never_underestimates(spark):
    # Zipf-ish: key i appears (1000 // (i+1)) times.
    rows = [(i,) for i in range(200) for _ in range(1000 // (i + 1))]
    df = spark.createDataFrame(rows, "k long")
    cms = build_cms(df, "k")
    truth = {i: 1000 // (i + 1) for i in range(200)}
    est = (
        _keyed(spark, list(truth))
        .crossJoin(F.broadcast(cms))
        .select("k", cms_estimate(F.col("k"), F.col("cms")).alias("est"))
        .collect()
    )
    for r in est:
        assert r.est >= truth[r.k], f"undercount for {r.k}: {r.est} < {truth[r.k]}"


def test_cms_null_key_estimates_zero(spark):
    cms = build_cms(_keyed(spark, [1, 2, 3]), "k")
    got = (
        spark.createDataFrame([(None,)], "k long")
        .crossJoin(F.broadcast(cms))
        .select(cms_estimate(F.col("k"), F.col("cms")).alias("est"))
        .first()
    )
    assert got.est == 0


def test_cms_merges_by_cellwise_addition(spark):
    """The 100 TB property: sketch(A ∪ B) == cellwise_add(sketch(A),
    sketch(B)) — so per-partition/per-day sketches roll up without
    revisiting data."""
    a, b = list(range(500)) * 2, list(range(250, 750)) * 3
    cms_a = build_cms(_keyed(spark, a), "k").select(
        F.explode("cms").alias("cell", "cnt")
    )
    cms_b = build_cms(_keyed(spark, b), "k").select(
        F.explode("cms").alias("cell", "cnt")
    )
    merged = {
        r.cell: r.s
        for r in cms_a.unionByName(cms_b)
        .groupBy("cell")
        .agg(F.sum("cnt").alias("s"))
        .collect()
    }
    whole = build_cms(_keyed(spark, a + b), "k").first().cms
    assert merged == dict(whole)


# ----------------------------------------------------- weighted sampling


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, w long")


def test_es_sample_deterministic_and_partition_invariant(spark):
    rows = [(i, (i % 7) + 1) for i in range(1000)]
    one = es_sample(_docs(spark, rows), "doc_id", "w", 50)
    two = es_sample(_docs(spark, rows).repartition(13), "doc_id", "w", 50)
    assert sorted(r.doc_id for r in one.collect()) == sorted(
        r.doc_id for r in two.collect()
    )


def test_es_sample_weight_proportional_bias(spark):
    """100 light (w=10) + 100 heavy (w=1000) docs, k=50: inclusion
    probability is ~weight-proportional, so the sample must be heavy-
    dominated. Deterministic given the fixed hash — this pins the
    direction, not a flaky statistic."""
    rows = [(i, 10) for i in range(100)] + [(i, 1000) for i in range(100, 200)]
    got = es_sample(_docs(spark, rows), "doc_id", "w", 50).collect()
    heavy = sum(1 for r in got if r.doc_id >= 100)
    assert heavy >= 40, f"heavy docs in sample: {heavy}/50"


def test_es_sample_excludes_nonpositive_and_null_weights(spark):
    rows = [(1, 0), (2, -5), (3, None), (4, 100)]
    got = es_sample(_docs(spark, rows), "doc_id", "w", 10).collect()
    assert [r.doc_id for r in got] == [4]


def test_es_rank_boundary_margin_vs_ulp(spark):
    """The cross-engine safety claim in _ORACLE_SAMPLE_WEIGHTED: the
    priority gap at the rank-k selection boundary dwarfs double ulp
    (~1e-16 relative), so a last-bit ln() difference between Spark and
    DuckDB cannot flip membership. Checked on the real fixture."""
    from database_cloner_spark.sources import load

    docs = load(spark, "/root/testdata/sf0.01", "documents")
    # k = row count ranks every row; a larger k only grows the top-k
    # buffer (k=10**9 allocated ~8 GB of driver heap for the same rows)
    ranked = (
        es_sample(docs, "doc_id", "n_chars", docs.count())
        .select("__es_key")
        .collect()
    )
    from database_cloner_spark.queries.sampling import _ES_K as k

    keys = [r["__es_key"] for r in ranked]
    gap = abs(keys[k - 1] - keys[k])
    assert gap > 1e-12 * abs(keys[k]), f"boundary gap {gap} too close to ulp"


# ------------------------------------------------- hypothesis properties

from hypothesis import given, settings, strategies as st  # noqa: E402

_H = dict(max_examples=6, deadline=None)


@settings(**_H)
@given(
    st.lists(st.integers(min_value=-(2**62), max_value=2**62), min_size=1, max_size=300),
    st.lists(st.integers(min_value=-(2**62), max_value=2**62), min_size=1, max_size=100),
)
def test_bloom_membership_property(spark, members, probes):
    """For ANY int64 key sets: every member hits (no false negatives),
    including negative and extreme keys."""
    bloom = build_bloom(_keyed(spark, members), "k")
    rows = (
        _keyed(spark, list(set(members)) + probes)
        .crossJoin(F.broadcast(bloom))
        .select("k", bloom_contains(F.col("k"), F.col("bloom")).alias("hit"))
        .collect()
    )
    member_set = set(members)
    for r in rows:
        if r.k in member_set:
            assert r.hit, f"false negative: {r.k}"


@settings(**_H)
@given(
    st.lists(
        st.integers(min_value=-(2**31), max_value=2**31), min_size=1, max_size=400
    )
)
def test_cms_one_sided_property(spark, keys):
    """For ANY int multiset: every key's estimate >= its true count."""
    from collections import Counter

    truth = Counter(keys)
    cms = build_cms(_keyed(spark, keys), "k")
    rows = (
        _keyed(spark, list(truth))
        .crossJoin(F.broadcast(cms))
        .select("k", cms_estimate(F.col("k"), F.col("cms")).alias("est"))
        .collect()
    )
    for r in rows:
        assert r.est >= truth[r.k], f"undercount {r.k}: {r.est} < {truth[r.k]}"


def test_z_value_is_bijective_on_the_8bit_square(spark):
    """Exhaustive: all 256x256 (a, b) pairs map to 65536 DISTINCT Morton
    codes covering exactly [0, 65536) — interleaving loses nothing."""
    from database_cloner_spark.functions.zorder import z_value

    grid = spark.range(256).selectExpr("id AS a").crossJoin(
        spark.range(256).selectExpr("id AS b")
    )
    stats = grid.select(z_value(F.col("a"), F.col("b")).alias("z")).agg(
        F.countDistinct("z").alias("n"),
        F.min("z").alias("lo"),
        F.max("z").alias("hi"),
    ).first()
    assert (stats.n, stats.lo, stats.hi) == (65536, 0, 65535)
