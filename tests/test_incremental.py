"""Incremental clone: chunked fingerprint diff, partial rewrite only."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from database_cloner_spark.pipeline.incremental import (
    CHUNK_COL,
    changed_chunks,
    incremental_clone,
)
from database_cloner_spark.pipeline.verify import verify_clone
from database_cloner_spark.sources import load

SF = "/root/testdata/sf0.001"
N_CHUNKS = 16


def _chunk_mtimes(target: str) -> dict[str, float]:
    out = {}
    for d in os.listdir(target):
        if d.startswith(f"{CHUNK_COL}="):
            full = os.path.join(target, d)
            out[d] = max(
                os.path.getmtime(os.path.join(full, f)) for f in os.listdir(full)
            )
    return out


def test_incremental_clone_full_then_noop_then_partial(spark, tmp_path):
    target = str(tmp_path / "inc_orders")
    src = load(spark, SF, "orders")

    # 1) First run: full chunked write.
    r1 = incremental_clone(spark, src, target, key_col="o_orderkey", n_chunks=N_CHUNKS)
    assert r1["mode"] == "full"
    back = spark.read.parquet(target).drop(CHUNK_COL)
    assert verify_clone(src, back)["match"]

    # 2) Unchanged source: no chunk rewritten, no file touched.
    before = _chunk_mtimes(target)
    r2 = incremental_clone(spark, src, target, key_col="o_orderkey", n_chunks=N_CHUNKS)
    assert r2 == {
        "mode": "noop", "n_chunks": N_CHUNKS, "changed": 0, "rows_rewritten": 0,
    }
    assert _chunk_mtimes(target) == before

    # 3) Modify a handful of rows -> only their chunks rewritten.
    touched_keys = [r.o_orderkey for r in src.select("o_orderkey").limit(3).collect()]
    modified = src.withColumn(
        "o_orderpriority",
        F.when(
            F.col("o_orderkey").isin(touched_keys), F.lit("9-UPDATED")
        ).otherwise(F.col("o_orderpriority")),
    )
    want_changed = changed_chunks(modified, back, "o_orderkey", N_CHUNKS)
    assert 1 <= len(want_changed) <= 3

    r3 = incremental_clone(
        spark, modified, target, key_col="o_orderkey", n_chunks=N_CHUNKS
    )
    assert r3["mode"] == "incremental"
    assert r3["changed"] == len(want_changed)

    after = _chunk_mtimes(target)
    rewritten = {d for d in after if after[d] != before.get(d)}
    assert rewritten == {f"{CHUNK_COL}={c}" for c in want_changed}

    final = spark.read.parquet(target).drop(CHUNK_COL)
    assert verify_clone(modified, final)["match"]


def test_incremental_clone_handles_inserts_and_deletes(spark, tmp_path):
    target = str(tmp_path / "inc_nation")
    src = load(spark, SF, "nation")
    incremental_clone(spark, src, target, key_col="n_nationkey", n_chunks=4)

    # Delete one nation, insert a new one.
    nxt = src.filter(F.col("n_nationkey") != 0).unionByName(
        # Types must match the source exactly (int, not bigint): a
        # widened union schema would be REAL retype drift and correctly
        # route to schema_migration instead of the incremental path.
        spark.createDataFrame(
            [(99, "ATLANTIS", 0)],
            "n_nationkey int, n_name string, n_regionkey int",
        )
    )
    r = incremental_clone(spark, nxt, target, key_col="n_nationkey", n_chunks=4)
    assert r["mode"] == "incremental" and r["changed"] >= 1
    final = spark.read.parquet(target).drop(CHUNK_COL)
    assert verify_clone(nxt.select(*sorted(nxt.columns)), final)["match"]


def test_incremental_clone_chunk_fully_deleted(spark, tmp_path):
    """A chunk whose rows ALL disappear must be removed, not left stale
    (dynamic overwrite alone would never touch it)."""
    target = str(tmp_path / "inc_region")
    src = load(spark, SF, "region")
    incremental_clone(spark, src, target, key_col="r_regionkey", n_chunks=8)

    kept = src.filter(F.col("r_regionkey") != 3)
    # region has 5 rows over 8 chunks: key 3 very likely owns its chunk
    # alone; assert on content equality either way.
    r = incremental_clone(spark, kept, target, key_col="r_regionkey", n_chunks=8)
    assert r["mode"] == "incremental"
    final = spark.read.parquet(target).drop(CHUNK_COL)
    assert verify_clone(kept, final)["match"]
    assert final.filter(F.col("r_regionkey") == 3).count() == 0


def test_schema_drift_classification(spark):
    from database_cloner_spark.pipeline.evolve import schema_drift

    a = spark.createDataFrame([(1, "x", 2)], ["k", "s", "old"]).schema
    b_df = spark.createDataFrame([(1, "x")], ["k", "s"])
    b = b_df.withColumn("k", b_df.k.cast("int")).schema
    drift = schema_drift(a, b)
    assert drift["added"] == ["old"]
    assert drift["dropped"] == []
    assert drift["retyped"] == [("k", "int", "bigint")]


def test_incremental_schema_migration_on_drift(spark, sf_dir, tmp_path):
    """A retyped source column triggers ONE declared migration rewrite
    (not a hash-storm of 'changed' chunks); the target afterwards holds
    the new schema and subsequent syncs are noop."""
    from database_cloner_spark.pipeline.incremental import incremental_clone

    target = str(tmp_path / "t")
    src_v1 = (
        load(spark, sf_dir, "nation")
        .select("n_nationkey", "n_name")
        .withColumn("n_nationkey", F.col("n_nationkey").cast("int"))
    )
    r1 = incremental_clone(spark, src_v1, target, "n_nationkey", n_chunks=8)
    assert r1["mode"] == "full"

    src_v2 = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("bigint").alias("n_nationkey"), "n_name"
    )
    r2 = incremental_clone(spark, src_v2, target, "n_nationkey", n_chunks=8)
    assert r2["mode"] == "schema_migration"
    assert r2["drift"]["retyped"] == [("n_nationkey", "int", "bigint")]

    r3 = incremental_clone(spark, src_v2, target, "n_nationkey", n_chunks=8)
    assert r3["mode"] == "noop"
