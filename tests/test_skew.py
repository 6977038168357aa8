"""Salting helpers: results must exactly equal the unsalted forms."""

from __future__ import annotations

from pyspark.sql import functions as F

from database_cloner_spark.functions.skew import salted_agg, salted_join
from database_cloner_spark.sources import load

SF = "/root/testdata/sf0.001"


def test_salted_agg_equals_plain(spark):
    li = load(spark, SF, "lineitem")
    plain = {
        (r.l_returnflag, r.l_linestatus): (r.n, r.qty)
        for r in li.groupBy("l_returnflag", "l_linestatus")
        .agg(F.count("*").alias("n"), F.sum("l_quantity").alias("qty"))
        .collect()
    }
    salted = {
        (r.l_returnflag, r.l_linestatus): (r.n, r.qty)
        for r in salted_agg(
            li,
            ["l_returnflag", "l_linestatus"],
            [F.count("*").alias("n"), F.sum("l_quantity").alias("qty")],
        ).collect()
    }
    assert set(plain) == set(salted)
    for k, (n, qty) in plain.items():
        sn, sqty = salted[k]
        assert sn == n
        assert abs(sqty - qty) < 1e-6


def test_salted_join_equals_plain(spark):
    orders = load(spark, SF, "orders").select("o_orderkey", "o_custkey")
    cust = load(spark, SF, "customer").select("c_custkey", "c_nationkey").withColumnRenamed(
        "c_custkey", "o_custkey"
    )
    plain = sorted(
        (r.o_orderkey, r.o_custkey, r.c_nationkey)
        for r in orders.join(cust, "o_custkey").collect()
    )
    salted = sorted(
        (r.o_orderkey, r.o_custkey, r.c_nationkey)
        for r in salted_join(orders, cust, "o_custkey").collect()
    )
    assert salted == plain


def test_salt_is_content_deterministic(spark):
    """ADVICE r1: salts must derive from row content, not
    monotonically_increasing_id — a task retry or repartitioning must
    re-assign every row the SAME salt or salted aggs double-count."""
    from database_cloner_spark.functions.skew import _content_salt

    orders = load(spark, SF, "orders").select("o_orderkey", "o_custkey")
    s1 = orders.withColumn("__salt", _content_salt(orders, 16))
    # Same content, radically different partitioning => same salts.
    reparted = orders.repartition(13)
    s2 = reparted.withColumn("__salt", _content_salt(reparted, 16))
    m1 = {r["o_orderkey"]: r["__salt"] for r in s1.collect()}
    m2 = {r["o_orderkey"]: r["__salt"] for r in s2.collect()}
    assert m1 == m2
    assert len(set(m1.values())) > 1  # actually spreads
