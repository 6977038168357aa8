"""The clone_sync write paths take their counts and fingerprints from the
jobs they already run: the clone observes the source fingerprint on its
write, `rewrite_chunks` observes its row count and chunk set, and the
chunk targets are listed on the driver. These tests pin the results
and, through the Spark status store, the number of jobs each step
starts."""

from __future__ import annotations

import datetime as dt
import os
from decimal import Decimal

import pytest
from pyspark.sql import functions as F

from database_cloner_spark.pipeline import CloneConfig, ClonePipeline
from database_cloner_spark.pipeline.incremental import (
    CHUNK_COL,
    incremental_clone,
    rewrite_chunks,
    with_chunk,
)
from database_cloner_spark.pipeline.verify import (
    TableFingerprint,
    fingerprint,
    observe_fingerprint,
    observed_fingerprint,
    row_hash,
    verify_clone,
)
from database_cloner_spark.sources import load
from database_cloner_spark.streaming.cdc import apply_cdc_batch
from tests.spark_jobs import jobs_during

SF = "/root/testdata/sf0.001"
CLONE_TABLES = ("nation", "region")
N_CHUNKS = 64  # past Spark's 32-directory threshold for a listing job

# Jobs each step starts with a warm session (sources already loaded).
# The write probe runs on the driver. A verified clone: per table the
# write and the one-job target fingerprint; the target is read back
# through the source's schema, so no schema-inference job.
VERIFIED_CLONE_JOBS = 2 * len(CLONE_TABLES)
# Unverified: one write per table.
UNVERIFIED_CLONE_JOBS = len(CLONE_TABLES)
RESYNC_JOBS = 7
CDC_JOBS = 11


def _write_observed(spark, df, path):
    """Write `df` to parquet with its fingerprint observed; return the
    observation once Spark has reported it."""
    out, seen = observe_fingerprint(df)
    out.write.mode("overwrite").parquet(path)
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    # A missing report must fail the test, not hang it in `get`.
    assert seen._jo.future().isCompleted()
    return seen


def _typed_frame(spark):
    rows = [
        (1, Decimal("12.34"), dt.datetime(2024, 1, 2, 3, 4, 5, 600), [1, 2, 3], "a"),
        (2, Decimal("-0.01"), dt.datetime(1999, 12, 31, 23, 59, 59), [], None),
        (3, None, None, None, "c"),
        (3, None, None, None, "c"),  # a duplicate row counts twice
    ]
    return spark.createDataFrame(
        rows, "k long, amount decimal(12,2), ts timestamp, tags array<int>, s string"
    )


def _aggregated_fingerprint(df):
    """The fingerprint as a plain aggregate: a reference that shares no
    code with the observation path `fingerprint` also takes."""
    row = df.agg(F.count(F.lit(1)).alias("n"), F.sum(row_hash(df)).alias("h")).collect()[0]
    return TableFingerprint(n_rows=row["n"], row_hash_sum=str(row["h"]))


def test_observed_fingerprint_equals_fingerprint(spark, tmp_path):
    src = _typed_frame(spark)
    seen = _write_observed(spark, src, str(tmp_path / "typed"))
    want = _aggregated_fingerprint(src)
    assert observed_fingerprint(seen) == want
    assert fingerprint(src) == want
    assert observed_fingerprint(seen).n_rows == 4
    back = spark.read.parquet(str(tmp_path / "typed"))
    assert verify_clone(src, back, src_fp=observed_fingerprint(seen))["match"] is True


def test_observed_fingerprint_of_empty_table(spark, tmp_path):
    empty = _typed_frame(spark).filter(F.lit(False))
    seen = _write_observed(spark, empty, str(tmp_path / "empty"))
    assert seen.get == {"n": 0, "h": None}
    assert observed_fingerprint(seen) == _aggregated_fingerprint(empty)
    assert fingerprint(empty) == _aggregated_fingerprint(empty)


def test_wrong_src_fp_cannot_fail_identical_content(spark, tmp_path):
    """A wrong observation costs the deep diff, never the verdict."""
    src = load(spark, SF, "nation")
    seen = _write_observed(spark, src, str(tmp_path / "nation"))
    dst = spark.read.parquet(str(tmp_path / "nation"))
    right = observed_fingerprint(seen)
    for wrong in (
        TableFingerprint(right.n_rows + 1, right.row_hash_sum),
        TableFingerprint(right.n_rows, "0"),
        TableFingerprint(0, "None"),
    ):
        report = verify_clone(src, dst, src_fp=wrong)
        assert report["match"] is True, report
        assert report["only_in_src"] == 0 and report["only_in_dst"] == 0


def test_src_fp_on_differing_content_fails(spark, tmp_path):
    src = load(spark, SF, "nation")
    seen = _write_observed(spark, src, str(tmp_path / "nation"))
    changed = spark.read.parquet(str(tmp_path / "nation")).withColumn(
        "n_name",
        F.when(F.col("n_nationkey") == 0, F.lit("ATLANTIS")).otherwise(F.col("n_name")),
    )
    right = observed_fingerprint(seen)
    for src_fp in (right, TableFingerprint(0, "None")):
        report = verify_clone(src, changed, src_fp=src_fp)
        assert report["match"] is False, report
        assert report["only_in_src"] == 1 and report["only_in_dst"] == 1
    dropped = spark.read.parquet(str(tmp_path / "nation")).filter(F.col("n_nationkey") != 0)
    assert verify_clone(src, dropped, src_fp=right)["match"] is False


def _data_files(chunk_dir):
    return [f for f in os.listdir(chunk_dir) if f.endswith(".parquet")]


def test_rewrite_chunks_writes_one_file_per_chunk(spark, tmp_path):
    target = str(tmp_path / "chunked")
    rows = with_chunk(spark.range(2000).withColumnRenamed("id", "k"), "k", 8)
    rows = rows.repartition(6)  # every task holds rows of every chunk
    assert rewrite_chunks(rows, target, list(range(8))) == 2000
    chunk_dirs = sorted(d for d in os.listdir(target) if d.startswith(f"{CHUNK_COL}="))
    assert len(chunk_dirs) == 8
    for d in chunk_dirs:
        assert len(_data_files(os.path.join(target, d))) == 1, d

    # Rewrite two chunks; a third named chunk gets no rows and is removed.
    part = rows.filter(F.col(CHUNK_COL).isin(1, 2))
    want = part.count()
    assert rewrite_chunks(part, target, [1, 2, 3]) == want
    assert not os.path.exists(os.path.join(target, f"{CHUNK_COL}=3"))
    for c in (1, 2):
        assert len(_data_files(os.path.join(target, f"{CHUNK_COL}={c}"))) == 1
    assert spark.read.parquet(target).count() == 2000 - rows.filter(F.col(CHUNK_COL) == 3).count()

    # Nothing left to write: the named chunk is removed and 0 returned.
    assert rewrite_chunks(rows.filter(F.lit(False)), target, [4]) == 0
    assert not os.path.exists(os.path.join(target, f"{CHUNK_COL}=4"))

    # incremental_clone's full copy is clustered the same way, and its
    # static overwrite commits the _SUCCESS marker later runs look for.
    full = str(tmp_path / "full")
    src = spark.range(2000).withColumnRenamed("id", "k").repartition(6)
    assert incremental_clone(spark, src, full, "k", n_chunks=8)["mode"] == "full"
    assert os.path.exists(os.path.join(full, "_SUCCESS"))
    chunk_dirs = [d for d in os.listdir(full) if d.startswith(f"{CHUNK_COL}=")]
    assert len(chunk_dirs) == 8
    for d in chunk_dirs:
        assert len(_data_files(os.path.join(full, d))) == 1, d


# -- job counts ------------------------------------------------------------------


@pytest.fixture
def warm_sources(spark):
    for t in (*CLONE_TABLES, "orders"):
        load(spark, SF, t)


@pytest.mark.parametrize("verify", [True, False])
def test_clone_job_count(spark, tmp_path, warm_sources, verify):
    cfg = CloneConfig(
        source_dir=SF,
        target_dir=str(tmp_path / "clone"),
        tables=",".join(CLONE_TABLES),
        verify_clone=verify,
        overwrite=True,
        seed=1,
        test_user_connections=False,
    )
    runs = []
    jobs = jobs_during(spark, lambda: runs.append(ClonePipeline(spark, cfg).run()))
    (run,) = runs
    assert run.ok, [(r.table, r.error) for r in run.results]
    for r in run.results:
        assert r.rows == load(spark, SF, r.table).count()
        assert r.verified is (True if verify else None)
    bound = VERIFIED_CLONE_JOBS if verify else UNVERIFIED_CLONE_JOBS
    assert len(jobs) <= bound, jobs


def test_resync_and_cdc_job_counts(spark, tmp_path, warm_sources):
    src = load(spark, SF, "orders")
    resync = str(tmp_path / "resync")
    incremental_clone(spark, src, resync, "o_orderkey", n_chunks=N_CHUNKS)
    keys = [r.o_orderkey for r in src.select("o_orderkey").limit(3).collect()]
    drifted = src.withColumn(
        "o_orderpriority",
        F.when(F.col("o_orderkey").isin(keys), F.lit("9-UPDATED")).otherwise(
            F.col("o_orderpriority")
        ),
    )
    reps = []
    jobs = jobs_during(
        spark,
        lambda: reps.append(
            incremental_clone(spark, drifted, resync, "o_orderkey", n_chunks=N_CHUNKS)
        ),
    )
    assert reps[0]["mode"] == "incremental" and reps[0]["rows_rewritten"] > 0
    assert len(jobs) <= RESYNC_JOBS, jobs
    assert not [j for j in jobs if "Listing leaf files" in j], jobs

    cdc = str(tmp_path / "cdc")
    seeded = src.withColumn("op", F.lit("upsert")).withColumn("seq", F.lit(1).cast("long"))
    apply_cdc_batch(seeded, cdc, "o_orderkey", n_chunks=N_CHUNKS)
    changes = src.limit(30).select(
        F.when(F.col("o_orderkey") % 3 == 0, F.lit("delete")).otherwise(F.lit("upsert")).alias("op"),
        F.lit(2).cast("long").alias("seq"),
        *src.columns,
    )
    batch = spark.createDataFrame(changes.collect(), changes.schema)
    reps = []
    jobs = jobs_during(
        spark, lambda: reps.append(apply_cdc_batch(batch, cdc, "o_orderkey", n_chunks=N_CHUNKS))
    )
    assert reps[0]["upserts"] + reps[0]["deletes"] == 30
    assert len(jobs) <= CDC_JOBS, jobs
    assert not [j for j in jobs if "Listing leaf files" in j], jobs
