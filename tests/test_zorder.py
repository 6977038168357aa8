"""Z-order layout: the multi-dim file-skipping property, quantified.

The registered key (q_sort_zorder) hash-checks every Morton value
against the DuckDB oracle; these tests pin the LAYOUT claim — that
range-partitioning on z bounds BOTH dimensions per partition, which is
the whole reason to pay the z-sort at write time. The layout is the
writer-side recipe `_z_layout` spells out: range-partition and sort on
z_value, then drop it.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from database_cloner_spark.functions.zorder import z_value
from database_cloner_spark.sources import load

SF = "/root/testdata/sf0.001"
N_FILES = 8


def _z_layout(df, col_a, col_b, n_files):
    """Range-partition into `n_files` splits sorted by the Morton code
    of (col_a, col_b); the code column is dropped (layout, not schema)."""
    z = z_value(F.col(col_a), F.col(col_b)).alias("__z")
    return (
        df.select("*", z)
        .repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
    )


def _dim_spans(df, col):
    """Per-partition (max-min) span of `col`, averaged."""
    spans = (
        df.withColumn("__pid", F.spark_partition_id())
        .groupBy("__pid")
        .agg((F.max(col) - F.min(col)).alias("span"))
        .agg(F.avg("span"))
        .first()[0]
    )
    return float(spans)


def _quantized(spark):
    orders = load(spark, SF, "orders").filter(
        F.col("o_custkey").isNotNull() & F.col("o_orderdate").isNotNull()
    )
    day = F.datediff(F.to_date("o_orderdate"), F.to_date(F.lit("1992-01-01")))
    return orders.select(
        (F.col("o_custkey") % 256).alias("a"),
        (day % 256).cast("long").alias("b"),
    )


def test_zorder_layout_bounds_both_dims(spark):
    """Single-key sort leaves dim b's per-file span at ~full range
    (~255); z-layout collapses it (each file is a Morton rectangle).
    The first dim pays a modest widening — that trade IS z-ordering."""
    q = _quantized(spark)
    by_a = q.repartitionByRange(N_FILES, "a").sortWithinPartitions("a")
    by_z = _z_layout(q, "a", "b", N_FILES)

    b_span_a_sort = _dim_spans(by_a, "b")
    b_span_z_sort = _dim_spans(by_z, "b")
    assert b_span_z_sort < 0.6 * b_span_a_sort, (
        f"z-layout should collapse dim-b spans: {b_span_z_sort} vs "
        f"{b_span_a_sort} under a-sort"
    )
    # and dim a stays bounded too (not traded away entirely)
    a_span_z_sort = _dim_spans(by_z, "a")
    assert a_span_z_sort < 0.8 * 255


def test_z_value_interleave_known_bits(spark):
    """Hand-computed Morton codes: (a=0b11, b=0b00) -> 0b0101 = 5,
    (a=0b00, b=0b11) -> 0b1010 = 10, (5, 3) -> interleave(101, 011)."""
    df = spark.createDataFrame(
        [(3, 0), (0, 3), (5, 3)], "a long, b long"
    ).select(z_value(F.col("a"), F.col("b")).alias("z"))
    got = [r.z for r in df.collect()]
    # (5,3): a bits at even pos: 1,0,1 -> 1+16; b bits at odd: 1,1 -> 2+8
    assert got == [5, 10, 1 + 16 + 2 + 8]


def test_z_value_null_propagates(spark):
    df = spark.createDataFrame([(None, 3)], "a long, b long").select(
        z_value(F.col("a"), F.col("b")).alias("z")
    )
    assert df.first().z is None


def _scan_output_rows(df) -> int:
    """Rows EMITTED by the parquet scan node after parquet-level
    row-group/page skipping (pushed min/max filters) — the runtime
    pruning signal. Executes the plan, then reads the scan leaf's
    numOutputRows SQL metric via the JVM plan (no AQE wrapper: a plain
    scan+filter has no exchange, so executedPlan is the final plan)."""
    df.collect()
    plan = df._jdf.queryExecution().executedPlan()
    leaf = plan.collectLeaves().head()
    return int(leaf.metrics().apply("numOutputRows").value())


def _prunable_files(path: str, col: str, lo: int, hi: int):
    """(prunable, total) parquet files under `path` whose footer min/max
    for `col` proves they hold NO row in [lo, hi] — the file-level skip
    a stats-aware table format (Delta OPTIMIZE ZORDER et al.) performs.
    Footer stats are read with pyarrow, independent of Spark."""
    import glob

    import pyarrow.parquet as pq

    total, prunable = 0, 0
    for f in sorted(glob.glob(os.path.join(path, "*.parquet"))):
        md = pq.ParquetFile(f).metadata
        names = {md.schema.column(i).name: i for i in range(md.num_columns)}
        cmin = min(
            md.row_group(g).column(names[col]).statistics.min
            for g in range(md.num_row_groups)
        )
        cmax = max(
            md.row_group(g).column(names[col]).statistics.max
            for g in range(md.num_row_groups)
        )
        total += 1
        if cmin > hi or cmax < lo:
            prunable += 1
    return prunable, total


def test_zorder_files_prune_on_second_dimension(spark, tmp_path):
    """The 100 TB claim behind the z layout (VERDICT r6 #4): not just
    that per-file spans collapse, but that WRITTEN files actually skip.
    Write both layouts, filter on the SECOND dimension (b in [0, 15],
    1/16 of the domain), and assert BOTH pruning signals:
      - footer min/max proves >= 1/3 of z-files file-level prunable
        while the a-sorted layout prunes ~none;
      - Spark's parquet scan emits far fewer rows under the z layout
        (row-group skipping via the pushed filter) than under a-sort,
        which must scan everything.
    Fails if z-ordered files stop being min/max-prunable on either
    dimension."""
    q = _quantized(spark)
    a_dir, z_dir = str(tmp_path / "by_a"), str(tmp_path / "by_z")
    q.repartitionByRange(N_FILES, "a").sortWithinPartitions("a").write.parquet(
        a_dir
    )
    _z_layout(q, "a", "b", N_FILES).write.parquet(z_dir)

    lo, hi = 0, 15
    pz, tz = _prunable_files(z_dir, "b", lo, hi)
    pa, ta = _prunable_files(a_dir, "b", lo, hi)
    assert tz == ta == N_FILES
    assert pa <= 1, f"a-sorted files should span full b: {pa}/{ta} prunable"
    assert pz >= N_FILES // 3, (
        f"z-layout lost second-dim file prunability: {pz}/{tz} files "
        f"prunable for b in [{lo},{hi}]"
    )
    # first dimension stays prunable too (the z trade must not give it away)
    pz_a, _ = _prunable_files(z_dir, "a", lo, hi)
    assert pz_a >= N_FILES // 3

    # runtime row-group skipping through the actual Spark scan
    pred = (F.col("b") >= lo) & (F.col("b") <= hi)
    rows_z = _scan_output_rows(spark.read.parquet(z_dir).filter(pred))
    rows_a = _scan_output_rows(spark.read.parquet(a_dir).filter(pred))
    total_rows = spark.read.parquet(a_dir).count()
    assert rows_a == total_rows, "a-sort layout cannot skip on b"
    assert rows_z <= 0.7 * rows_a, (
        f"z scan should skip row groups: scanned {rows_z} vs {rows_a}"
    )
