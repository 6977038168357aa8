"""Bucketed tables: pre-shuffled storage for co-located joins.

The single biggest repeated cost in a 100 TB fact-to-fact workload is
re-shuffling the same table on the same key for every join. Bucketing
pays that shuffle ONCE at write time: both sides stored with
`bucketBy(n, key)` hash-place rows so that bucket i of table A only
ever joins bucket i of table B — the join plan has NO Exchange on
either side (asserted in tests/test_bucketed.py by inspecting the
physical plan).

Rules encoded here:
- bucket counts must match across join partners (enforced);
- sortBy(key) within buckets lets the join run as a zip-merge without
  even an in-task sort;
- bucketed tables go through the session catalog (saveAsTable) because
  bucket metadata lives in the table catalog, not in parquet footers.
"""

from __future__ import annotations

import getpass
import hashlib
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(
    df: DataFrame,
    table: str,
    key: str,
    n_buckets: int = 32,
    path: str | None = None,
) -> None:
    """Persist df hash-bucketed (and bucket-sorted) by `key`.

    With `path`, the table is EXTERNAL (data at `path`, bucket metadata
    in the session catalog) — this decouples the write from
    `spark.sql.warehouse.dir`, so it works in a plain foreign session
    (e.g. the correctness driver's) whose warehouse location we don't
    control."""
    writer = df.write.mode("overwrite").bucketBy(n_buckets, key).sortBy(key)
    if path is not None:
        writer = writer.option("path", path)
    writer.format("parquet").saveAsTable(table)


def _scratch_root() -> str:
    """Per-user 0o700 scratch dir for bucketed-table data (predictable
    shared-tmp paths are clobber-able by other users — same hygiene as
    sources/export_cache.py)."""
    root = os.path.join(
        tempfile.gettempdir(), f"dcs_buckets_{getpass.getuser()}"
    )
    os.makedirs(root, mode=0o700, exist_ok=True)
    return root


def bucketed_table_for(
    spark: SparkSession,
    df: DataFrame,
    sf_dir: str,
    base_name: str,
    key: str,
    n_buckets: int = 32,
) -> str:
    """Idempotently materialize `df` as a bucketed catalog table whose
    identity is content-addressed by (sf_dir FINGERPRINT, base_name,
    key, buckets): a different scale factor gets a different table, a
    fixture dir REWRITTEN in place gets a fresh table (the fingerprint
    covers every member file's mtime+size — ADVICE r5: a path-only tag
    silently reused stale buckets within a session), and a repeat call
    in the same session reuses the catalog entry without re-paying the
    bucketing shuffle (that once-only cost is the whole point of
    bucketed storage)."""
    from database_cloner_spark.sources.export_cache import dataset_fingerprint

    tag = hashlib.md5(
        f"{dataset_fingerprint(sf_dir)}|{base_name}|{key}|{n_buckets}".encode()
    ).hexdigest()[:10]
    table = f"dcs_{base_name}_{tag}"
    if not spark.catalog.tableExists(table):
        write_bucketed(
            df,
            table,
            key,
            n_buckets=n_buckets,
            path=os.path.join(_scratch_root(), table),
        )
    return table


def bucketed_join(
    spark: SparkSession, left_table: str, right_table: str, key: str
) -> DataFrame:
    """Inner-join two same-bucketed catalog tables on their bucket key —
    shuffle-free by construction."""
    lt = spark.table(left_table)
    rt = spark.table(right_table)

    def buckets_of(t: str) -> int | None:
        rows = spark.sql(f"DESCRIBE TABLE EXTENDED {t}").collect()
        for r in rows:
            if r.col_name == "Num Buckets":
                return int(r.data_type)
        return None

    nl, nr = buckets_of(left_table), buckets_of(right_table)
    if nl is None or nr is None or nl != nr:
        raise ValueError(
            f"co-located join needs matching bucket counts; "
            f"{left_table}={nl}, {right_table}={nr}"
        )
    return lt.join(rt, key)
