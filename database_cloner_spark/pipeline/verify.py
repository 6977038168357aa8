"""Clone verification — the [V] tier.

The reference only existence-checks its clones (clone_databases.sh:791,
:227-231) and probes connectivity (:480-551). A real engine must verify
content. Three levels, all distributed (no driver-side row transfer):

1. fingerprint: count + order-insensitive row-hash sum — one pass per
   table. The clone takes the source side from its own write
   (`observe_fingerprint`), so the source is scanned once, by the write;
   only the target is read back for its fingerprint.
2. diff: exceptAll in both directions — exact row multiset equality, with
   the differing rows available when it fails.
3. write round-trip: the reference's `insertOne({test:1})` / `deleteOne`
   probe (clone_databases.sh:933-937) against the target namespace.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F


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


def _fingerprint_cols(df: DataFrame) -> list[Column]:
    return [F.count(F.lit(1)).alias("n"), F.sum(row_hash(df)).alias("h")]


def fingerprint(df: DataFrame) -> TableFingerprint:
    """One-pass content fingerprint. The row hash is xxhash64 over all
    columns, summed as DECIMAL(38,0): order-insensitive, overflow-free,
    duplicate-sensitive (unlike XOR, two identical rows don't cancel).
    Scales as a single partial-aggregated reduction — constant-size state
    per partition regardless of table size."""
    row = df.agg(*_fingerprint_cols(df)).collect()[0]
    return TableFingerprint(n_rows=row["n"], row_hash_sum=str(row["h"]))


def observe_fingerprint(df: DataFrame) -> tuple[DataFrame, Observation]:
    """`df` with `fingerprint(df)` observed on it: the first action on
    the returned frame (the clone's write) computes the same count and
    hash sum in its own pass, so the source is not scanned again. Read
    it with `observed_fingerprint` once that action has succeeded;
    before, `Observation.get` blocks."""
    obs = Observation()
    return df.observe(obs, *_fingerprint_cols(df)), obs


def observed_fingerprint(obs: Observation) -> TableFingerprint:
    """The fingerprint an `observe_fingerprint` observation holds."""
    got = obs.get
    return TableFingerprint(n_rows=got["n"], row_hash_sum=str(got["h"]))


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
        return {
            "match": False,
            "src_rows": None,
            "dst_rows": None,
            "error": f"column sets differ: {sorted(src.columns)} vs {sorted(dst.columns)}",
        }
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


def write_round_trip(spark, target_dir: str) -> bool:
    """The reference's write-probe (insertOne({test:1}) then deleteOne,
    clone_databases.sh:933-937): write one row into the target namespace,
    read it back, drop it. The read-back names the schema it just wrote,
    which saves a schema-inference job and weakens nothing: a column the
    write lost reads back as NULL and fails the `test == 1` check."""
    import os
    import shutil

    probe_path = os.path.join(target_dir, "_write_probe.parquet")
    try:
        probe = spark.createDataFrame([(1,)], "test int")
        probe.write.mode("overwrite").parquet(probe_path)
        back = spark.read.schema("test int").parquet(probe_path).collect()
        return len(back) == 1 and back[0].test == 1
    finally:
        shutil.rmtree(probe_path, ignore_errors=True)
