"""Parquet source — the engine's at-rest format.

The reference's "full database scan" is `pg_dump` reading every row
server-side (clone_databases.sh:209-210); our equivalent is a columnar
parquet scan with Catalyst pushdown (filters + column pruning reach the
footer/row-group level for free).
"""

from __future__ import annotations

import os
import weakref
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

# The driver-generated star schema (TESTDATA.md).
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


# Prior timezones already warned about (one warning per foreign zone,
# not one per table load — load() runs hundreds of times per session).
_TZ_WARNED: set = set()

# Zone IDs that name UTC itself: pinning one of these to "UTC" changes no
# literal's meaning, so it is not worth a warning.
_UTC_ALIASES = frozenset(
    {"UTC", "Etc/UTC", "Etc/UCT", "UCT", "Etc/Universal", "Universal",
     "Etc/Zulu", "Zulu", "GMT", "Etc/GMT", "Z"}
)

# Confs that change the schema spark.read.parquet infers from the same
# files; a resolved schema is only reused while they read the same.
_SCHEMA_CONFS = (
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.sources.partitionColumnTypeInference.enabled",
)


@dataclass(frozen=True)
class _Resolved:
    """One table's resolved read: the file identity it was resolved for
    (schema confs, data-file listing, footer schema), the Spark schema
    and the TIMESTAMP(NANOS) columns that arrive as bigint."""

    confs: tuple
    files: tuple
    footer: pa.Schema
    schema: StructType
    nanos: tuple

    def matches(self, confs: tuple, files: tuple, footer: pa.Schema) -> bool:
        return (
            self.confs == confs
            and self.files == files
            and self.footer.equals(footer, check_metadata=True)
        )


# SparkSession -> {path: _Resolved}. Weak keys: a stopped session's
# entries go with it, and a new session (newSession() too) starts cold.
# Two threads that miss on one path at once both resolve it; either
# entry is valid for the identity it records, so no lock is needed.
_RESOLVED: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def _files(path: str) -> tuple:
    """(relative name, size, mtime_ns) of every file at `path`, sorted —
    recursive for a Spark-written directory, so partition subdirectories
    count. A single file lists as one entry named ""."""
    if not os.path.isdir(path):
        st = os.stat(path)
        return (("", st.st_size, st.st_mtime_ns),)
    out = []
    for root, _dirs, names in os.walk(path):
        for n in names:
            full = os.path.join(root, n)
            st = os.stat(full)
            out.append((os.path.relpath(full, path), st.st_size, st.st_mtime_ns))
    return tuple(sorted(out))


def _hidden(name: str) -> bool:
    # Spark's file-index rule: `.` and `_` names are not data, except a
    # `_`-named hive partition directory (it holds a `=`).
    return name.startswith(".") or (name.startswith("_") and "=" not in name)


def data_files(files: tuple) -> list[str]:
    """The relative names in a `_files` listing that Spark reads as
    data: no component of the path is hidden, so a killed write's
    `_temporary/` or `.spark-staging-*` leftovers are not data."""
    return [
        n for n, _size, _mtime in files
        if not any(_hidden(c) for c in n.split(os.sep))
    ]


def _footer(path: str, files: tuple) -> pa.Schema | None:
    """Footer schema of the file itself, or of a directory's first data
    part; None when there is no part."""
    if os.path.isdir(path):
        parts = [n for n in data_files(files) if n.endswith(".parquet")]
        if not parts:
            return None
        path = os.path.join(path, parts[0])
    return pq.read_schema(path)


def _nanos_of(footer: pa.Schema | None) -> list[str]:
    """Columns stored as parquet TIMESTAMP(NANOS)."""
    if footer is None:
        return []
    return [
        f.name
        for f in footer
        if pa.types.is_timestamp(f.type) and f.type.unit == "ns"
    ]


def _nanos_timestamp_cols(path: str) -> list[str]:
    """Columns stored as parquet TIMESTAMP(NANOS) — footer-only read."""
    return _nanos_of(_footer(path, _files(path)))


def load(
    spark: SparkSession, sf_dir: str, name: str, pin_utc_session: bool = True
) -> DataFrame:
    """Scan one table: pushdown-capable, splittable at row-group
    granularity so a 100 TB table parallelizes to the cluster.

    Schema resolution: the first load of a table in a session runs
    `spark.read.parquet`, whose schema inference starts one Spark job
    (86 ms per load on a 4-core VM with a warm JVM, against 17 ms for a
    load through a known schema). The resolved Spark schema and
    the nanos columns are then kept per session, keyed on the path, the
    data-file listing (name, size, mtime_ns; recursive), the footer
    schema pyarrow reads (well under 1 ms) and the `_SCHEMA_CONFS`;
    a later load with the same key reads through
    `spark.read.schema(known)` and starts no job. A rewrite at the same
    path changes the listing or the footer and is resolved afresh. This
    is catalog metadata only: no result is cached.

    TIMESTAMP(NANOS) columns (rejected by Spark's reader) arrive as raw
    nano longs via spark.sql.legacy.parquet.nanosAsLong and are converted
    back here; sub-microsecond precision is truncated (testdata is
    microsecond-granular, so lossless).

    SESSION-MUTATION WARNING: this function sets three session-level SQL
    confs (nanosAsLong, inferTimestampNTZ=false, session.timeZone=UTC)
    on the session it is given. The first two must be set before the
    read and are harmless policy; the timezone pin changes how the REST
    of the session parses timestamp literals and formats dates. This is
    deliberate — the engine's correctness contract (DuckDB oracle
    equality) requires UTC literal semantics even on foreign harness
    sessions, and a restore-after-read would silently flip LATER-built
    query literals back to the foreign zone, which is worse. Scoping
    (ADVICE r3): the pin is opt-out (`pin_utc_session=False` reads the
    table without touching the zone — literal-bearing queries built on
    such a session are on the caller), and overriding a zone other than
    UTC or one of its aliases (`_UTC_ALIASES`) logs one warning per
    prior zone so the mutation is never silent."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    # Runtime-settable SQL confs — MUST be set here, not only in the
    # session factory: harnesses that build their own plain SparkSession
    # (e.g. the correctness driver) would otherwise die with
    # PARQUET_TYPE_ILLEGAL on TIMESTAMP(NANOS) columns.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # MICROS-at-rest files with isAdjustedToUTC=false would otherwise be
    # inferred as TIMESTAMP_NTZ. Disabling NTZ inference makes the READER
    # produce TIMESTAMP (instant) directly: the stored int64 micros are
    # taken as micros-since-epoch, bit-identical to DuckDB's epoch_us()
    # and session-timezone-independent (verified empirically: the same
    # file yields the same unix_micros under UTC and America/Los_Angeles
    # sessions). Crucially this keeps the column a plain scan output —
    # no projection sits between scan and filter, so timestamp predicates
    # still push down to the parquet footer (row-group pruning at 100 TB).
    # The previous approach (withColumn(to_utc_timestamp(...))) destroyed
    # pushdown on every timestamp filter. Applies to nested fields too.
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    # Timestamp LITERALS (and date formatting) parse in the session zone;
    # pin UTC so query constants mean the same instant on any harness.
    if pin_utc_session:
        try:
            prev_tz = spark.conf.get("spark.sql.session.timeZone")
        except Exception:
            prev_tz = None
        if prev_tz is not None and prev_tz not in _UTC_ALIASES and prev_tz not in _TZ_WARNED:
            _TZ_WARNED.add(prev_tz)
            import logging

            logging.getLogger(__name__).warning(
                "load(): pinning spark.sql.session.timeZone=UTC (was %r) "
                "for oracle-identical literal semantics; pass "
                "pin_utc_session=False to keep the session zone.",
                prev_tz,
            )
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    # A missing path or a directory without data parts skips the memo:
    # spark.read.parquet raises or resolves exactly as before.
    files = _files(path) if os.path.exists(path) else ()
    footer = _footer(path, files) if files else None
    confs = tuple(spark.conf.get(k) for k in _SCHEMA_CONFS)
    memo = _RESOLVED.setdefault(spark, {})
    known = memo.get(path)
    if footer is not None and known is not None and known.matches(confs, files, footer):
        df = spark.read.schema(known.schema).parquet(path)
        nanos = known.nanos
    else:
        df = spark.read.parquet(path)
        spark_types = dict(df.dtypes)
        # Guard on the Spark-side type: INT96 files also look like ns to
        # pyarrow, but Spark reads them as proper timestamps — only raw
        # TIMESTAMP(NANOS) arrives as bigint (via nanosAsLong).
        nanos = tuple(c for c in _nanos_of(footer) if spark_types.get(c) == "bigint")
        if footer is not None:
            memo[path] = _Resolved(confs, files, footer, df.schema, nanos)
    for c in nanos:
        # Integer `div`, NOT `/`: epoch-nanos (~1.7e18) exceed double's
        # 53-bit mantissa, so float division would corrupt microseconds.
        df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    return df


def table_names(sf_dir: str, ext: str = ".parquet") -> list[str]:
    """Tables present in a dataset directory (catalog scan of the at-rest
    namespace — the parquet analogue of `pg_tables`, clone_databases.sh:415).
    `ext` selects the at-rest format (".orc" for ORC namespaces)."""
    return [
        f[: -len(ext)] for f in sorted(os.listdir(sf_dir)) if f.endswith(ext)
    ]
