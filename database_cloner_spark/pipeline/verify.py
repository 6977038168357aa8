"""Clone verification — the [V] tier.

The reference only existence-checks its clones (clone_databases.sh:791,
:227-231) and probes connectivity (:480-551). A real engine must verify
content. Three levels; the first two are distributed (no driver-side row
transfer):

1. fingerprint: count + order-insensitive row-hash sum — one pass and
   one Spark job per table, observed on the job that scans it. The
   clone takes the source side from its own write
   (`observe_fingerprint`), so the source is scanned once, by the write;
   only the target is read back for its fingerprint, through the
   source's schema (`verify_written`).
2. diff: exceptAll in both directions — exact row multiset equality, with
   the differing rows available when it fails.
3. write round-trip: the reference's `insertOne({test:1})` / `deleteOne`
   probe (clone_databases.sh:933-937) against the target namespace, one
   row written, read back and removed on the driver (no Spark job).
"""

from __future__ import annotations

import contextlib
import os
from dataclasses import dataclass
from urllib.parse import unquote

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from database_cloner_spark.sources import parquet


@dataclass(frozen=True)
class TableFingerprint:
    n_rows: int
    row_hash_sum: str  # decimal sum of per-row xxhash64 — order-insensitive
    # No floating numeric sums: a double sum's partition-order drift can
    # exceed any rounding at scale (spurious mismatch), and the decimal
    # row-hash sum already covers content exactly.


def _hashable_cols(df: DataFrame) -> list:
    # Sorted by NAME, not schema position: a partitioned write moves the
    # partition column to the end of the read-back schema, and
    # xxhash64(a,b,c) != xxhash64(c,a,b) — identical content must
    # fingerprint identically regardless of column order.
    # Arrays/maps/structs hash fine with xxhash64; floats are stable
    # here because a clone is byte-identical, not recomputed.
    return [F.col(name) for name in sorted(df.columns)]


def row_hash(df: DataFrame) -> Column:
    """Per-row xxhash64 over all of `df`'s columns, as DECIMAL(38,0) so a
    sum of it is overflow-free."""
    return F.xxhash64(*_hashable_cols(df)).cast("decimal(38,0)")


def observe_fingerprint(df: DataFrame) -> tuple[DataFrame, Observation]:
    """`df` with its content fingerprint observed on it: the first action
    on the returned frame (the clone's write) computes the row count and
    hash sum in its own pass, so the source is not scanned again. Read
    it with `observed_fingerprint` once that action has succeeded;
    before, `Observation.get` blocks."""
    obs = Observation()
    return df.observe(obs, F.count(F.lit(1)).alias("n"), F.sum(row_hash(df)).alias("h")), obs


def observed_fingerprint(obs: Observation) -> TableFingerprint:
    """The fingerprint an `observe_fingerprint` observation holds."""
    got = obs.get
    return TableFingerprint(n_rows=got["n"], row_hash_sum=str(got["h"]))


def fingerprint(df: DataFrame) -> TableFingerprint:
    """One-pass content fingerprint in one Spark job: `observe_fingerprint`
    on a `noop` write of `df` (a `df.agg(...).collect()` of the same two
    aggregates is two jobs under AQE, one each side of its shuffle), so
    both sides of a verification share one code path. The row hash is
    xxhash64 over all columns, summed as DECIMAL(38,0): order-insensitive,
    overflow-free, duplicate-sensitive (unlike XOR, two identical rows
    don't cancel). Constant-size state per partition regardless of table
    size."""
    out, obs = observe_fingerprint(df)
    out.write.format("noop").mode("overwrite").save()
    return observed_fingerprint(obs)


def _align_to(src: DataFrame, dst: DataFrame) -> DataFrame:
    """Cast dst's columns to src's types, by name. A partitioned write
    moves the partition column into directory names; read-back type
    inference returns int where the source was bigint, and xxhash64 is
    TYPE-sensitive (xxhash64(5::int) != xxhash64(5::bigint)) — so
    content-identical clones would spuriously fail without this."""
    src_types = {f.name: f.dataType for f in src.schema.fields}
    return dst.select(
        *[F.col(n).cast(src_types[n]) for n in dst.columns if n in src_types]
    )


def diff_counts(src: DataFrame, dst: DataFrame) -> tuple[int, int]:
    """(rows only in src, rows only in dst) — exact multiset diff via
    exceptAll. Columns are selected in sorted NAME order first:
    exceptAll resolves positionally, and a partitioned write reorders
    the read-back schema. Shuffles both sides on the full row; use
    fingerprint() first and only diff on mismatch."""
    if set(src.columns) == set(dst.columns):
        cols = sorted(src.columns)
        src = src.select(*cols)
        dst = dst.select(*cols)
    only_src = src.exceptAll(dst).count()
    only_dst = dst.exceptAll(src).count()
    return only_src, only_dst


def _column_mismatch(src_cols, dst_cols) -> dict:
    return {
        "match": False,
        "src_rows": None,
        "dst_rows": None,
        "error": f"column sets differ: {sorted(src_cols)} vs {sorted(dst_cols)}",
    }


def verify_clone(
    src: DataFrame, dst: DataFrame, src_fp: TableFingerprint | None = None
) -> dict:
    """Fingerprint compare; a deep multiset diff on a mismatch.

    `src_fp` is the source fingerprint observed on the write that made
    `dst` (`observe_fingerprint`); without it the source is scanned.

    The deep diff is AUTHORITATIVE: a clean two-way exceptAll IS
    multiset equality, so it overrides a fingerprint-only mismatch. It
    does not use the fingerprints' row counts, so a wrong `src_fp` can
    only cost the diff, never flip the verdict."""
    if set(src.columns) != set(dst.columns):
        return _column_mismatch(src.columns, dst.columns)
    dst = _align_to(src, dst)
    fs = src_fp if src_fp is not None else fingerprint(src)
    fd = fingerprint(dst)
    ok = fs == fd
    result = {
        "match": ok,
        "src_rows": fs.n_rows,
        "dst_rows": fd.n_rows,
        "src_hash": fs.row_hash_sum,
        "dst_hash": fd.row_hash_sum,
    }
    if not ok:
        only_src, only_dst = diff_counts(src, dst)
        result["only_in_src"] = only_src
        result["only_in_dst"] = only_dst
        result["match"] = only_src == 0 and only_dst == 0
    return result


def _written_column_sets(path: str) -> set[frozenset[str]]:
    """The column set of each parquet data file under `path`: its footer's
    column names plus the hive partition keys of the directories above
    it. Read on the driver with pyarrow (footers only, no Spark job)."""
    found = set()
    for rel in parquet.data_files(parquet._files(path)):
        dirs = rel.split(os.sep)[:-1]
        keys = [unquote(d.split("=", 1)[0]) for d in dirs if "=" in d]
        found.add(frozenset(pq.read_schema(os.path.join(path, rel)).names + keys))
    return found


def verify_written(
    spark, src: DataFrame, path: str, src_fp: TableFingerprint | None = None
) -> dict:
    """`verify_clone` of the parquet target at `path`, written from `src`.

    The target is read through `src`'s schema: no schema-inference job
    runs, and the hive partition column keeps its source type. That read
    would turn a column missing from a file into NULLs, so first every
    data file, with its partition keys, must hold exactly `src`'s
    columns; if one does not, the report is `verify_clone`'s column-set
    failure and nothing is read. A column stored with another type fails
    the read itself."""
    for cols in _written_column_sets(path):
        if cols != set(src.columns):
            return _column_mismatch(src.columns, cols)
    return verify_clone(src, spark.read.schema(src.schema).parquet(path), src_fp=src_fp)


def write_round_trip(target_dir: str) -> bool:
    """The reference's write-probe (insertOne({test:1}) then deleteOne,
    clone_databases.sh:933-937): write one row into the target namespace,
    read it back, remove it. One row needs no Spark job: pyarrow writes
    and reads it on the driver, as `reports` does for the metadata
    tables."""
    probe_path = os.path.join(target_dir, "_write_probe.parquet")
    try:
        pq.write_table(pa.table({"test": pa.array([1], pa.int32())}), probe_path)
        return pq.read_table(probe_path).to_pylist() == [{"test": 1}]
    finally:
        with contextlib.suppress(FileNotFoundError):
            os.remove(probe_path)
