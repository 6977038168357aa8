"""SparkSession factory.

Single place that pins every config the correctness gate depends on
(UTC session timezone, AQE, Arrow) and the local-mode sizing knobs.
On a real cluster the same builder is used; only master/memory change.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def get_spark(app_name: str = "database_cloner_spark", cpus: str | None = None) -> SparkSession:
    """Build (or fetch) the session.

    Settings rationale (100 TB posture, see SURVEY.md §4):
    - AQE on: runtime join-strategy switch + skew-join splitting + partition
      coalescing — the knobs that keep plans healthy when stats are off by 100x.
    - shuffle.partitions sized to cores locally; on a cluster AQE coalesces
      from a deliberately high initial number.
    - UTC timezone: DuckDB oracle comparability AND cross-cluster determinism.
    - Arrow enabled: every pandas_udf / toPandas crossing is columnar.
    """
    cpus = cpus or DEFAULT_CPUS
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        # r13 optimization-round A/B (guide §3.1/§9): let the planner
        # pick shuffled-hash over sort-merge when its size conditions
        # hold — skips both sort passes on shuffle joins. Measured on
        # the full 230-key sweep at sf0.1: 169.3s -> 161.2s, with the
        # join-heavy families (pagerank, dq_*, cluster/star rounds)
        # improving and no isolated regression attributable to the
        # flag (the sweep's apparent PQ regressions re-measured as box
        # noise under interleaved isolated A/B). Scale posture: this is
        # planner ELIGIBILITY, not a forced hint — per-partition build
        # sides must still pass Spark's size checks, and AQE skew
        # splitting stays on.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        # Driver testdata stores events.ts as TIMESTAMP(NANOS), which Spark's
        # parquet reader rejects. Read nanos as raw longs; sources/parquet.py
        # converts them back to timestamps (footer-driven, lossless at us).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # MICROS-NTZ parquet reads directly as instant TIMESTAMP so
        # timestamp predicates stay pushdown-eligible; load() also sets
        # this at runtime for foreign (plain) sessions — see
        # sources/parquet.py for the full rationale.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        # Write standard TIMESTAMP_MICROS, not deprecated INT96 (which
        # pyarrow reports as nanos, confusing footer-driven readers).
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        # InferFiltersFromGenerate clones the generator's input expression
        # into a pushed-down `size(input) > 0` predicate. For cheap inputs
        # that skips rows early; for computed inputs (shingle arrays,
        # trigrams) it evaluates the whole array-construction expression
        # TWICE per row — measured 3x slowdown on the dedup family at
        # sf0.1. Explicit cheap filters (size(tokens) >= n) replace it.
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
        # Bucketed-table storage (sources/bucketed.py) lives outside the
        # repo; a real deployment points this at shared storage.
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/spark_graft_warehouse"),
        )
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
