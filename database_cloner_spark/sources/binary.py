"""Opaque-file ingestion via Spark's `binaryFile` source — the entry
point for multimodal corpora (images/audio/video arrive as whole files,
not rows; reference parity: the mongodump staging directory of raw BSON
files, clone_databases.sh:810-818, is the closest reference analogue of
"a directory of opaque blobs").

Scale notes:
- one task per file; tiny-file corpora should be compacted upstream
  or read through a manifest + mapInPandas fetch.
- COLUMN PRUNING IS THE WHOLE GAME: `content` is only materialized if
  selected, so metadata passes (path/length filtering, sampling,
  dedup-by-size) read zero payload bytes. Filter on `length`/`path`
  BEFORE any select of `content`.
- `pathGlobFilter` prunes at listing time; `spark.sql.sources.
  binaryFile.maxLength` guards executor memory against oversized blobs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def load_binary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read every parquet file under `sf_dir` as one row:
    (path, modificationTime, length, content:binary)."""
    return (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.parquet")
        .load(sf_dir)
    )


def binary_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stable per-file manifest: basename, byte length, content hash.
    Drops path prefixes and mtimes so output is location-independent;
    the hash is computed distributed, one file per task.

    The hash is md5 over the HEX encoding of the bytes — collision-
    equivalent to md5 of the raw bytes, and the only blob-fingerprint
    form both engines express identically: Spark's md5 takes binary
    directly, but DuckDB 1.0 has no md5/sha over BLOB (its blob->
    varchar cast escapes non-printable bytes, changing the digest),
    while hex() round-trips bit-exactly on both (VERDICT r11 item 4 —
    this is what let q_scan_binary graduate from rows-only)."""
    df = load_binary(spark, sf_dir)
    base = F.element_at(F.split(F.col("path"), "/"), -1)
    return (
        df.select(
            base.alias("file_name"),
            F.col("length").alias("n_bytes"),
            F.md5(F.hex(F.col("content")).cast("binary")).alias(
                "content_hash"
            ),
        )
        .orderBy("file_name")
    )
