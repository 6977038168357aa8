"""Streaming CDC apply: a change-event stream merged continuously into
a chunk-partitioned parquet target.

Reference parity: the reference's only re-sync is a periodic full
re-clone (clone_databases.sh:1029-1084 rerun from cron); this is the
streaming generalization — the target stays current to within one
micro-batch, and each micro-batch costs work proportional to the
CHUNKS IT TOUCHES, never to the table.

Change-record contract: (op: 'upsert'|'delete', seq: bigint monotonic,
<key>, payload columns...). Within a batch the highest-seq record per
key wins (a key may be upserted then deleted in the same batch).

Scale mechanics, per micro-batch:
- touched chunk ids = distinct pmod(xxhash64(key), n_chunks) of the
  batch — collected driver-side, bounded by batch size, typically a
  handful, in the same aggregate as the upsert and delete counts;
- ONLY those chunk partitions of the target are read (partition
  pruning on the chunk directory layout from pipeline/incremental.py,
  whose directories the driver lists);
- survivors (existing rows whose key is absent from the batch) union
  the batch's final upserts, written back with dynamic partition
  overwrite, one file per touched chunk — untouched chunks' files are
  never opened, read, or rewritten;
- a touched chunk left with zero rows is deleted explicitly (dynamic
  overwrite cannot replace a partition with nothing).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from database_cloner_spark.functions import ranks
from database_cloner_spark.pipeline.incremental import (
    CHUNK_COL,
    read_chunked,
    rewrite_chunks,
    with_chunk,
)


def latest_change_per_key(batch: DataFrame, key_col: str) -> DataFrame:
    """Collapse a batch to one winning record per key (max seq)."""
    return ranks.top(batch, [key_col], [F.desc("seq")])


def apply_cdc_batch(
    batch: DataFrame, target_path: str, key_col: str, n_chunks: int = 64
) -> dict:
    """Merge one batch of change records into the target. Returns
    {"touched": [chunk ids], "upserts": n, "deletes": n}."""
    spark = batch.sparkSession
    win = latest_change_per_key(batch, key_col)
    win = with_chunk(win, key_col, n_chunks)
    payload_cols = [c for c in win.columns if c not in ("op", "seq")]
    upserts = win.filter(F.col("op") == "upsert").select(*payload_cols)
    # One action for the touched chunks and both counts: each action
    # recomputes the per-key window.
    stats = win.agg(
        F.collect_set(CHUNK_COL).alias("touched"),
        F.count_if(F.col("op") == "upsert").alias("n_up"),
        F.count(F.lit(1)).alias("n"),
    ).first()
    touched = sorted(stats["touched"])
    n_up = stats["n_up"]
    n_del = stats["n"] - n_up

    # Existence = any chunk directory present. NOT the _SUCCESS marker:
    # dynamic-partition-overwrite commits (this writer's own mode) don't
    # produce one, so a marker check would misread an initialized target
    # as empty and silently drop all survivors on the second batch.
    import glob

    if glob.glob(os.path.join(target_path, f"{CHUNK_COL}=*")):
        existing = read_chunked(spark, target_path).filter(
            F.col(CHUNK_COL).isin([int(c) for c in touched])
        )
        survivors = existing.join(
            win.select(key_col), key_col, "left_anti"
        ).select(*payload_cols)
        # Materialize BEFORE the write: the merged plan reads the very
        # partitions the dynamic overwrite replaces — without a
        # checkpoint the scan races the overwrite and survivor rows are
        # lost. Size is bounded by the touched chunks, not the table.
        merged = survivors.unionByName(upserts).localCheckpoint(eager=True)
    else:
        merged = upserts

    rewrite_chunks(merged, target_path, touched)
    return {"touched": touched, "upserts": n_up, "deletes": n_del}


def cdc_stream_writer(
    changes: DataFrame,
    target_path: str,
    key_col: str,
    n_chunks: int = 64,
    checkpoint: str | None = None,
):
    """writeStream writer applying every micro-batch via
    `apply_cdc_batch` (foreachBatch — the exactly-once story comes from
    the checkpoint + idempotent per-chunk overwrite: replaying a batch
    rewrites the same chunks to the same content)."""

    def _apply(batch_df: DataFrame, _batch_id: int) -> None:
        apply_cdc_batch(batch_df, target_path, key_col, n_chunks)

    w = changes.writeStream.foreachBatch(_apply).outputMode("update")
    if checkpoint:
        w = w.option("checkpointLocation", checkpoint)
    return w
