"""Incremental clone: re-sync a target from its source by rewriting
ONLY the key-hash chunks whose content changed.

The reference can only re-clone from scratch (drop + full dump/restore,
clone_databases.sh:795-818) or skip entirely when the target exists
(:791-794). At 100 TB neither is acceptable for a periodic re-sync where
a fraction of a percent of rows changed since the last clone.

Spark-first design:

1. The incremental target is stored partitioned by `__chunk` =
   pmod(xxhash64(key), n_chunks) — a stable, content-derived layout
   (same determinism rule as sampling.py: a row's chunk never depends
   on partition order or retries).
2. A re-sync computes per-chunk fingerprints (count + decimal sum of
   row xxhash64 — the verify.py fingerprint, grouped by chunk) on BOTH
   sides: two single-pass partial-aggregated scans whose shuffle
   payload is n_chunks rows of constant size, nothing proportional to
   the data.
3. Chunks whose fingerprints differ (or exist on one side only) are
   rewritten via dynamic partition overwrite
   (`spark.sql.sources.partitionOverwriteMode=dynamic`): the write
   touches exactly the changed chunk directories; unchanged chunks'
   files are never opened.
4. The rewrite reports its own row count and the chunks it wrote
   (`DataFrame.observe` on the write job), and the target's chunk
   directories are listed on the driver (`read_chunked`): no Spark job
   runs only to count rows, collect chunk ids or list files.

Cost of a re-sync = 2 fingerprint scans + one clustered rewrite of the
changed chunks (one file per chunk). With n_chunks sized so a chunk ~ a
few GB, a 0.1% drift on 100 TB rewrites ~max(changed_rows spread, a few
chunks) instead of 100 TB. The fingerprint scan of the TARGET side reads
parquet that the clone itself wrote — at 1000 executors both scans are
embarrassingly parallel and column-pruned to the key + hashed columns.
"""

from __future__ import annotations

import os
import shutil
from contextlib import contextmanager

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from database_cloner_spark.pipeline.verify import row_hash

CHUNK_COL = "__chunk"


@contextmanager
def _session_conf(spark: SparkSession, key: str, value: str):
    """Set one SQL conf for the block, then put back what was set
    before (or unset it)."""
    prev = spark.conf.get(key, None)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def read_chunked(spark: SparkSession, target_path: str) -> DataFrame:
    """A chunk-partitioned target this pipeline wrote, with its files
    listed on the driver. Past `parallelPartitionDiscovery.threshold`
    (32) directories Spark lists with a distributed job, one task per
    directory: 256 tasks, about 1 s on 4 cores, for a 256-chunk target.
    That spreads a remote store's listing latency; the pipeline's
    targets are local directories (it creates and lists them with `os`),
    which the driver lists in milliseconds. Only this read is changed:
    source reads keep Spark's parallel listing."""
    with _session_conf(
        spark, "spark.sql.sources.parallelPartitionDiscovery.threshold", str(2**31 - 1)
    ):
        return spark.read.parquet(target_path)


def with_chunk(df: DataFrame, key_col: str, n_chunks: int) -> DataFrame:
    """Assign each row its stable key-hash chunk."""
    return df.withColumn(
        CHUNK_COL, F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_chunks)).cast("int")
    )


def chunk_fingerprints(df: DataFrame, key_col: str, n_chunks: int) -> DataFrame:
    """(chunk, n_rows, hash_sum) — the verify.py fingerprint per chunk.
    The row hash takes columns in sorted-name order, so source and
    read-back clone fingerprint identically regardless of schema order."""
    body = df.drop(CHUNK_COL)
    return with_chunk(body, key_col, n_chunks).groupBy(CHUNK_COL).agg(
        F.count("*").alias("n_rows"),
        F.sum(row_hash(body)).alias("hash_sum"),
    )


def changed_chunks(
    src: DataFrame, dst: DataFrame, key_col: str, n_chunks: int
) -> list[int]:
    """Chunk ids whose content differs between src and dst. A full-outer
    join of two n_chunks-row fingerprint frames — driver receives at
    most n_chunks ids, never data."""
    fs = chunk_fingerprints(src, key_col, n_chunks).alias("s")
    fd = chunk_fingerprints(dst, key_col, n_chunks).alias("d")
    joined = fs.join(fd, CHUNK_COL, "full_outer")
    diff = joined.filter(
        F.col("s.n_rows").isNull()
        | F.col("d.n_rows").isNull()
        | (F.col("s.n_rows") != F.col("d.n_rows"))
        | (F.col("s.hash_sum") != F.col("d.hash_sum"))
    ).select(CHUNK_COL)
    return sorted(r[CHUNK_COL] for r in diff.collect())


def rewrite_chunks(rows: DataFrame, target_path: str, chunks: list[int]) -> int:
    """Replace the target's `chunks` with `rows` (chunk-tagged, holding
    rows of those chunks only) and return how many rows were written.
    Rows are clustered by chunk first, so each rewritten chunk is one
    file. mode=overwrite under dynamic partition overwrite replaces ONLY
    the partitions present in `rows`; a chunk left with no rows stays
    stale unless its directory is removed explicitly (control-plane op,
    bytes not rows). The row count and the chunks present are observed
    on the write itself."""
    seen = Observation()
    out = rows.repartition(CHUNK_COL).observe(
        seen, F.count(F.lit(1)).alias("n"), F.collect_set(CHUNK_COL).alias("chunks")
    )
    with _session_conf(
        rows.sparkSession, "spark.sql.sources.partitionOverwriteMode", "dynamic"
    ):
        out.write.mode("overwrite").partitionBy(CHUNK_COL).parquet(target_path)
    got = seen.get
    present = set(got["chunks"])
    for c in chunks:
        if c not in present:
            shutil.rmtree(
                os.path.join(target_path, f"{CHUNK_COL}={c}"), ignore_errors=True
            )
    return got["n"]


def incremental_clone(
    spark: SparkSession,
    src: DataFrame,
    target_path: str,
    key_col: str,
    n_chunks: int = 256,
) -> dict:
    """Sync `target_path` to `src`. First run writes the full table
    partitioned by chunk; later runs rewrite only changed chunks.
    Returns {"mode", "n_chunks", "changed", "rows_rewritten"}."""
    drift = None
    if os.path.exists(os.path.join(target_path, "_SUCCESS")):
        dst = read_chunked(spark, target_path).drop(CHUNK_COL)
        # Schema drift: a plain-parquet target cannot hold mixed
        # per-chunk physical schemas (Spark refuses to merge int/bigint
        # file schemas), so ANY drift triggers one explicit migration
        # rewrite — detected up front from metadata, never discovered
        # mid-sync as a hash storm of spuriously-"changed" chunks
        # (xxhash64 is type-sensitive). Table formats with per-file
        # schema metadata could instead cast at read time and keep the
        # rewrite incremental.
        from database_cloner_spark.pipeline.evolve import schema_drift

        drift = schema_drift(src.schema, dst.schema)
    if drift is None or drift["added"] or drift["dropped"] or drift["retyped"]:
        # The full copy: clustered by chunk like rewrite_chunks (one
        # file per chunk), but a STATIC overwrite, whose commit writes
        # the _SUCCESS marker the first-run check above reads.
        out = with_chunk(src, key_col, n_chunks).repartition(CHUNK_COL)
        out.write.mode("overwrite").partitionBy(CHUNK_COL).parquet(target_path)
        rep = {
            "mode": "full" if drift is None else "schema_migration",
            "n_chunks": n_chunks,
            "changed": n_chunks,
            "rows_rewritten": -1,  # full write; count not re-scanned
        }
        if drift is not None:
            rep["drift"] = drift
        return rep
    chunks = changed_chunks(src, dst, key_col, n_chunks)
    if not chunks:
        return {
            "mode": "noop",
            "n_chunks": n_chunks,
            "changed": 0,
            "rows_rewritten": 0,
        }

    delta = with_chunk(src, key_col, n_chunks).filter(
        F.col(CHUNK_COL).isin([int(c) for c in chunks])
    )
    n = rewrite_chunks(delta, target_path, chunks)
    return {
        "mode": "incremental",
        "n_chunks": n_chunks,
        "changed": len(chunks),
        "rows_rewritten": n,
    }
