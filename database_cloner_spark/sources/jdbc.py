"""Partitioned JDBC source/sink — the live-PostgreSQL face of the clone
pipeline (clone_databases.sh:137-190 connection handling, :209-210 dump,
:245-246 server-side clone).

No database server exists in the test environment (SURVEY.md §7 "What's
hard"), so this connector is a thin, isolated layer wired into
`ClonePipeline` behind `CloneConfig.source_format="jdbc"` (read side)
and `CloneConfig.jdbc_target` (write side). The option dictionaries are
built by PURE functions so the partitioning contract is testable
without a server (tests/test_jdbc.py); `load_table`/`save_table` are
the only functions that touch a connection.

Design rules for 100 TB (always enforced, not optional):
- reads are ALWAYS partitioned (numPartitions + partitionColumn bounds) —
  a single-connection JDBC read serializes the whole table through one
  executor; `read_options` REFUSES a missing/degenerate partition spec;
- predicate/column pushdown is free via the DataFrame API — never
  pre-render SQL strings;
- same-server clones should use `server_side_clone_sql` (compute-to-data:
  the reference's zero-client-byte CREATE DATABASE ... TEMPLATE).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class JdbcTarget:
    url: str  # jdbc:postgresql://host:port/db
    user: str
    password: str
    driver: str = "org.postgresql.Driver"

    def options(self) -> dict[str, str]:
        return {
            "url": self.url,
            "user": self.user,
            "password": self.password,
            "driver": self.driver,
        }


@dataclass(frozen=True)
class JdbcPartitionSpec:
    """Range-partitioning contract for a JDBC read: Spark issues
    `num_partitions` parallel scans, each covering one slice of
    [lower_bound, upper_bound) on `column` (jdbc partitionColumn
    semantics). Bounds only steer the SPLIT — rows outside them still
    land in the first/last partition, so a stale bound skews but never
    drops data."""

    column: str
    lower_bound: int
    upper_bound: int
    num_partitions: int = 32


def read_options(
    target: JdbcTarget, table: str, spec: JdbcPartitionSpec | None
) -> dict[str, str]:
    """The full option dict for a partitioned JDBC read. Raises on a
    missing or degenerate partition spec — an unpartitioned JDBC read
    funnels the whole table through ONE executor connection, which is
    never acceptable at the pipeline's design scale."""
    if spec is None:
        raise ValueError(
            f"refusing unpartitioned JDBC read of {table!r}: provide a "
            "JdbcPartitionSpec (partitionColumn + bounds + numPartitions)"
        )
    if spec.num_partitions < 2:
        raise ValueError(
            f"JDBC read of {table!r}: num_partitions={spec.num_partitions} "
            "is a single-connection read; use >= 2 (typically 32)"
        )
    if spec.upper_bound <= spec.lower_bound:
        raise ValueError(
            f"JDBC read of {table!r}: empty bound range "
            f"[{spec.lower_bound}, {spec.upper_bound})"
        )
    return {
        **target.options(),
        "dbtable": table,
        "partitionColumn": spec.column,
        "lowerBound": str(spec.lower_bound),
        "upperBound": str(spec.upper_bound),
        "numPartitions": str(spec.num_partitions),
    }


def write_options(target: JdbcTarget, table: str) -> dict[str, str]:
    """Option dict for a parallel JDBC write: one connection per input
    partition, 10000-row batched inserts (the bulk-restore
    analogue of the reference's mongorestore/pg_restore path,
    clone_databases.sh:817-818)."""
    return {
        **target.options(),
        "dbtable": table,
        "batchsize": "10000",
    }


def load_table(
    spark: SparkSession,
    target: JdbcTarget,
    table: str,
    spec: JdbcPartitionSpec | None,
) -> DataFrame:
    """Partitioned read: numPartitions parallel range scans."""
    return (
        spark.read.format("jdbc")
        .options(**read_options(target, table, spec))
        .load()
    )


def save_table(
    df: DataFrame, target: JdbcTarget, table: str, mode: str = "error"
) -> None:
    """Parallel JDBC write (one connection per partition; batch inserts)."""
    (
        df.write.format("jdbc")
        .options(**write_options(target, table))
        .mode(mode)
        .save()
    )


def server_side_clone_sql(source_db: str, target_db: str) -> str:
    """The reference's zero-data-movement fast path
    (CREATE DATABASE ... TEMPLATE, clone_databases.sh:245-246): when
    source and target share a server, ship one DDL string instead of
    moving rows through the cluster. Returned as SQL for an external
    driver connection to execute."""
    return f'CREATE DATABASE "{target_db}" WITH TEMPLATE "{source_db}"'
