"""ORC columnar source/sink.

The reference's dump/restore surface moves whole tables through an
at-rest format chosen per backend (clone_databases.sh:209-210 pg_dump
custom format, :810 BSON). This engine's native at-rest format is
parquet (sources/parquet.py), but real lakes are mixed-format: ORC is
the other first-class columnar format Spark ships a vectorized reader
for, and ingesting a neighbour team's ORC tables must not need a
conversion pass. This module wraps `spark.read.orc` / `df.write.orc`
with the engine's defaults.

Scale notes (100 TB):
- ORC is splittable and stripe-indexed: predicate pushdown prunes
  stripes/row-groups exactly like parquet row-group pruning, and
  `spark.sql.orc.filterPushdown` is on by default in Spark 3/4 — a
  selective filter reaches the ORC reader as a SearchArgument (visible
  as PushedFilters in the scan node, plan-asserted in
  tests/test_sources.py).
- The vectorized ORC reader (`spark.sql.orc.enableVectorizedReader`,
  default on) keeps the scan inside WholeStageCodegen batches —
  same hot path as the parquet scans the rest of the engine uses.
- Timestamps: ORC stores TIMESTAMP with its own epoch handling; this
  engine's fixtures avoid timestamp columns in ORC round-trips (the
  parquet reader owns timestamp normalization — sources/parquet.py).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def load_orc(spark: SparkSession, path: str) -> DataFrame:
    """Read an ORC table; ORC files self-describe their schema."""
    return spark.read.orc(path)


def export_orc(df: DataFrame, path: str) -> None:
    """Write a DataFrame as ORC (distributed, one stripe-set per
    partition; splittable on re-read)."""
    df.write.mode("overwrite").orc(path)


def part_orc_export(spark: SparkSession, sf_dir: str) -> str:
    """Materialize the part table as an ORC dataset (cached per source
    CONTENT, not per path — sources/export_cache.py) and return its
    path — the mixed-format-lake fixture that q_scan_orc reads back."""
    from database_cloner_spark.sources.export_cache import cached_export
    from database_cloner_spark.sources.parquet import load

    return cached_export(
        "dcs_part_orc",
        os.path.join(sf_dir, "part.parquet"),
        lambda out: export_orc(load(spark, sf_dir, "part"), out),
    )
