"""The clone pipeline — the reference's main surface, Spark-first.

Reference behavior re-expressed (clone_databases.sh entry points §3):
- work list: comma-split + trim (:1025,:1030)
- skip-if-exists idempotence guard (:227-231,:791-794)
- optional timestamped backup before overwrite (:203-217,:768-781)
- the clone itself: distributed read -> write with the namespace rename
  applied IN the writer (single pass, like mongorestore --nsFrom/--nsTo,
  :817-818 — never restore-then-rename)
- principals/grants provisioning as metadata tables (:292-477)
- verification: content fingerprints + write round-trip (stronger than
  the reference's existence/connectivity probes, SURVEY.md tier [V])
- credential summary + password reports + log (:554-609,:447-470,:24-34)
- exit contract: success iff success_count == total_count (:1095-1103)

Deliberate improvements over the reference for 100 TB:
- PARALLEL per-table cloning (the reference is strictly sequential,
  :1029-1084): tables are submitted as concurrent Spark jobs from a
  thread pool, largest-first so the long pole starts immediately.
- Zero driver staging (the reference's Mongo path round-trips the full
  dataset through client disk, :805-818): executors stream source
  row-groups straight to target files.
- Content verification is a constant-memory distributed reduction, not a
  row dump, and it does not re-read the source: the write observes the
  source's row count and fingerprint in the same pass, and only the
  target is read back (one source scan per table). The read-back names
  the source's schema once pyarrow has checked the written files'
  column names, and its fingerprint is one more Spark job: two jobs per
  verified table, one unverified. The write probe runs on the driver.
"""

from __future__ import annotations

import os
import shutil
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field, replace
from datetime import datetime, timezone
from functools import partial

from pyspark.sql import SparkSession

from database_cloner_spark.pipeline import admission
from database_cloner_spark.pipeline import principals as prin
from database_cloner_spark.pipeline import probe, reports, verify
from database_cloner_spark.sources import jdbc, parquet
from database_cloner_spark.sources.parquet import load, table_names


@dataclass
class CloneConfig:
    source_dir: str
    target_dir: str
    db_prefix: str = "clone_"
    # At-rest format of the SOURCE namespace: 'parquet' (default),
    # 'orc' (sources/orc.py), 'mongoexport' (sources/bson.py — one
    # extended-JSON `<table>.json` collection per table, wrapper types
    # decoded during the clone; the executable mongodump path,
    # CS:810,:817-818), or 'jdbc' (sources/jdbc.py — the live-
    # server face, clone_databases.sh:137-190). The clone lands as
    # parquet unless jdbc_target is set — which makes the pipeline the
    # one-pass distributed format converter for neighbour-team ORC
    # tables (SCALE.md engine-wide rule 7) AND the dump half of the
    # reference's dump/restore (CS:209-210), with re-partitioning and
    # sort-within-partitions applied in the same pass.
    source_format: str = "parquet"
    # Live-server endpoints (sources/jdbc.py). source_format='jdbc'
    # requires jdbc_source + a per-table JdbcPartitionSpec in
    # jdbc_partition (the pipeline REFUSES an unpartitioned JDBC read —
    # one connection serializing a table through one executor is never
    # acceptable); jdbc_target redirects the write side to a server
    # (the restore half, CS:817-818). Either side may be live
    # independently: jdbc->parquet is the dump, parquet->jdbc the
    # restore, jdbc->jdbc the cross-server clone (same-server clones
    # should instead ship jdbc.server_side_clone_sql, CS:245-246).
    jdbc_source: jdbc.JdbcTarget | None = None
    jdbc_target: jdbc.JdbcTarget | None = None
    jdbc_partition: dict[str, jdbc.JdbcPartitionSpec] | None = None
    # Comma-separated work list (DATABASES_TO_CLONE, PC:22) or explicit list.
    tables: str | list[str] | None = None
    create_backup_before_clone: bool = False
    # table -> partition column: clones written partitionBy(col) so
    # downstream reads get partition pruning (PartitionFilters at the
    # scan). The 100 TB lever the reference's byte-copy can't offer:
    # re-layout during the clone.
    partition_by: dict[str, str] | None = None
    # table -> sort column: rows sorted within write partitions so
    # parquet row-group min/max stats become tight, selective ranges —
    # point/range predicates then skip whole row groups at scan time
    # (data skipping; complements partition pruning at finer grain).
    sort_within_partitions_by: dict[str, str] | None = None
    parallelism: int = 8
    verify_clone: bool = True
    overwrite: bool = False  # False => skip-if-exists (reference semantics)
    # Admission control (clone_databases.sh:625-708): refuse to mutate a
    # target table while the active-writers registry holds entries for it.
    # force=True mirrors the operator choosing to proceed anyway after
    # reading the kill advice — it does NOT clear the registry.
    force: bool = False
    host: str = "pg-lb.internal"
    port: int = 5432
    # Post-clone principal probes (clone_databases.sh:480-551): gated on
    # the TEST_USER_CONNECTIONS toggle (:880-884) AND on a configured
    # load-balancer endpoint (:495-498) exactly like the reference.
    test_user_connections: bool = True
    lb_host: str | None = None
    # Admin credential (conf ADMIN_PASSWORD or CLI --prompt, CS:107-109).
    # The parquet namespace has no auth endpoint, so this is carried for
    # conf-precedence parity only; it is never logged or written to any
    # report (password reports contain only per-db generated creds).
    admin_password: str | None = None
    # Password seed: None (default) => OS CSPRNG, like the reference's
    # /dev/urandom. Set ONLY for reproducible test fixtures.
    seed: int | None = None
    # Role-name prefixes of the provisioned principals: the conf's
    # APP_ROLE_PREFIX / OWNER_ROLE_PREFIX, which the CLI's postgresql
    # check defaults to r_rw_ / r_rc_ (clone_databases.sh:86-89).
    app_role_prefix: str = "app_role_"
    owner_role_prefix: str = "owner_role_"


@dataclass
class TableResult:
    table: str
    target_table: str
    status: str  # cloned | skipped | failed
    rows: int = 0
    verified: bool | None = None
    error: str | None = None


@dataclass
class CloneRunResult:
    results: list[TableResult] = field(default_factory=list)
    principals: list[prin.DbPrincipals] = field(default_factory=list)

    @property
    def success_count(self) -> int:
        return sum(1 for r in self.results if r.status in ("cloned", "skipped"))

    @property
    def total_count(self) -> int:
        return len(self.results)

    @property
    def ok(self) -> bool:
        """Exit-code contract (clone_databases.sh:1095-1103)."""
        return self.success_count == self.total_count and self.total_count > 0


# At-rest file extension of a source table per source_format (parquet
# for any other format).
_EXT = {"orc": ".orc", "mongoexport": ".json"}


def _source_ext(source_format: str) -> str:
    return _EXT.get(source_format, ".parquet")


def _parse_worklist(
    tables: str | list[str] | None, source_dir: str, source_format: str = "parquet"
) -> list[str]:
    """Comma-split + whitespace-trim (clone_databases.sh:1025,:1030)."""
    if tables is None:
        if source_format == "jdbc":
            # No server catalog to enumerate offline; the reference's
            # jdbc-face work list is always explicit (DATABASES_TO_CLONE).
            raise ValueError(
                "source_format='jdbc' requires an explicit tables work list"
            )
        return table_names(source_dir, ext=_source_ext(source_format))
    if isinstance(tables, str):
        return [t.strip() for t in tables.split(",") if t.strip()]
    return [t.strip() for t in tables]


class ClonePipeline:
    def __init__(self, spark: SparkSession, config: CloneConfig):
        self.spark = spark
        self.cfg = config
        self.log = reports.LogSink(os.path.join(config.target_dir, "_clone_log"))

    # -- single table ------------------------------------------------------

    def _source_path(self, table: str) -> str:
        return os.path.join(
            self.cfg.source_dir, f"{table}{_source_ext(self.cfg.source_format)}"
        )

    def _load_source(self, table: str):
        """Read one source table in the configured at-rest format. The
        target side is parquet unless cfg.jdbc_target redirects it."""
        if self.cfg.source_format == "orc":
            from database_cloner_spark.sources.orc import load_orc

            return load_orc(self.spark, self._source_path(table))
        if self.cfg.source_format == "mongoexport":
            from database_cloner_spark.sources.bson import mongoexport_scan

            # Wrapper types ($oid/$date/$numberLong/$binary) decode IN
            # the clone pass, so the landed parquet is typed — the
            # restore half of the reference's mongodump path without a
            # BSON decoder dependency (CS:817-818).
            return mongoexport_scan(self.spark, self._source_path(table))
        if self.cfg.source_format == "jdbc":
            if self.cfg.jdbc_source is None:
                raise ValueError(
                    "source_format='jdbc' requires CloneConfig.jdbc_source"
                )
            spec = (self.cfg.jdbc_partition or {}).get(table)
            # read_options (inside load_table) refuses spec=None — the
            # unpartitioned-read guard lives in ONE place.
            return jdbc.load_table(self.spark, self.cfg.jdbc_source, table, spec)
        return load(self.spark, self.cfg.source_dir, table)

    def _target_path(self, table: str) -> str:
        # Rename-in-writer: the prefix is applied to the sink name in the
        # same pass as the copy (mongorestore --nsFrom/--nsTo semantics,
        # clone_databases.sh:817-818).
        return os.path.join(self.cfg.target_dir, f"{self.cfg.db_prefix}{table}.parquet")

    def _backup(self, target_path: str, table: str) -> None:
        """Timestamped snapshot before mutation (clone_databases.sh:203-217)."""
        ts = datetime.now(timezone.utc).strftime("%Y%m%d_%H%M%S")
        backup_dir = os.path.join(self.cfg.target_dir, "_backups")
        dst = os.path.join(backup_dir, f"{self.cfg.db_prefix}{table}_{ts}.parquet")
        os.makedirs(backup_dir, exist_ok=True)
        shutil.copytree(target_path, dst)

    def _clone_table(self, table: str) -> TableResult:
        tgt_name = f"{self.cfg.db_prefix}{table}"
        tgt_path = self._target_path(table)
        try:
            # Idempotence guard (clone_databases.sh:227-231).
            if os.path.exists(tgt_path) and not self.cfg.overwrite:
                self.log.info(f"Database {tgt_name} already exists, skipping clone")
                return TableResult(table, tgt_name, "skipped")
            # Admission gate (clone_databases.sh:645): refuse while the
            # target table has registered active writers.
            if not self.cfg.force:
                writers = admission.active_writers(self.cfg.target_dir, tgt_name)
                if writers:
                    advice = admission.kill_advice(writers)
                    self.log.error(
                        f"Cannot clone {table} -> {tgt_name}: {advice}"
                    )
                    return TableResult(
                        table, tgt_name, "failed",
                        error=f"active writers on {tgt_name}: {advice}",
                    )
            if os.path.exists(tgt_path) and self.cfg.create_backup_before_clone:
                self._backup(tgt_path, table)

            t0 = time.perf_counter()
            src = self._load_source(table)
            out = src
            sort_col = (self.cfg.sort_within_partitions_by or {}).get(table)
            if sort_col:
                out = out.sortWithinPartitions(sort_col)
            # The write reports the source's row count and fingerprint:
            # verification reads only the target back.
            out, seen = verify.observe_fingerprint(out)
            t1 = time.perf_counter()
            if self.cfg.jdbc_target is not None:
                check = self._write_jdbc(table, tgt_name, src, out)
            else:
                writer = out.write.mode("overwrite")
                part_col = (self.cfg.partition_by or {}).get(table)
                if part_col:
                    writer = writer.partitionBy(part_col)
                writer.parquet(tgt_path)
                # load() normalized events-style nanos columns to
                # micros, so the written files match src.schema, which
                # verification reads them back through.
                check = None
                if self.cfg.verify_clone:
                    check = partial(verify.verify_written, self.spark, src, tgt_path)
            t2 = time.perf_counter()
            result = self._written(table, tgt_name, seen, check)
            t3 = time.perf_counter()
            self.log.info(
                f"Phases of {table} -> {tgt_name}: load {(t1 - t0) * 1e3:.0f} ms, "
                f"write {(t2 - t1) * 1e3:.0f} ms, verify {(t3 - t2) * 1e3:.0f} ms"
            )
            return result
        except Exception as ex:  # noqa: BLE001 — per-db error isolation (CS:1057-1059)
            self.log.error(f"Failed to clone {table}: {ex}")
            return TableResult(table, tgt_name, "failed", error=str(ex))

    def _write_jdbc(self, table, tgt_name, src, out):
        """Live-server restore half (clone_databases.sh:817-818):
        executors stream straight into batched inserts, one connection
        per partition. The filesystem guards above (skip-if-exists,
        backup, admission) probe target_dir paths a server doesn't
        have, so here the reference's skip-vs-overwrite choice maps to
        the writer mode: overwrite=False -> mode='error' (an existing
        target table fails THAT table's result — surfaced, never
        silently replaced), overwrite=True -> mode='overwrite'.
        Returns the check `_written` runs: verification re-reads the
        written table through the same partitioned reader when a
        partition spec exists for the table; without one the re-read
        would be a single-connection scan, so it is skipped and verified
        stays None (recorded, not hidden)."""
        jdbc.save_table(
            out,
            self.cfg.jdbc_target,
            tgt_name,
            mode="overwrite" if self.cfg.overwrite else "error",
        )
        spec = (self.cfg.jdbc_partition or {}).get(table)
        if not self.cfg.verify_clone or spec is None:
            return None
        dst = jdbc.load_table(self.spark, self.cfg.jdbc_target, tgt_name, spec)
        return partial(verify.verify_clone, src, dst)

    def _written(self, table, tgt_name, seen, check) -> TableResult:
        """Result of a table whose write succeeded. Its rows are the count
        `seen` observed on the write; given `check`, which verifies the
        target against that observed source fingerprint and returns
        `verify_clone`'s report, the clone is verified first."""
        src_fp = verify.observed_fingerprint(seen)
        verified: bool | None = None
        n = src_fp.n_rows
        if check is not None:
            report = check(src_fp)
            verified = report["match"]
            if not verified:
                return TableResult(
                    table, tgt_name, "failed", rows=report["dst_rows"],
                    verified=False, error=f"fingerprint mismatch: {report}",
                )
            n = report["dst_rows"]
        self.log.success(f"Successfully cloned {table} -> {tgt_name} ({n} rows)")
        return TableResult(table, tgt_name, "cloned", rows=n, verified=verified)

    def _recorded_passwords(self, results: list[TableResult]) -> dict[str, dict[str, str]]:
        """{target_db: {"owner_password": ..., "app_password": ...}} from
        the `_principals` table an earlier run wrote; read only when some
        table was skipped."""
        path = os.path.join(self.cfg.target_dir, "_principals")
        if not any(r.status == "skipped" for r in results) or not os.path.exists(path):
            return {}
        recorded: dict[str, dict[str, str]] = {}
        for row in reports.read_rows(path):
            recorded.setdefault(row["target_db"], {})[f"{row['user_kind']}_password"] = row["password"]
        return recorded

    # -- run ---------------------------------------------------------------

    def run(self) -> CloneRunResult:
        cfg = self.cfg
        os.makedirs(cfg.target_dir, exist_ok=True)
        work = _parse_worklist(cfg.tables, cfg.source_dir, cfg.source_format)

        # Pre-flight: write round-trip on the target namespace — the
        # reference's connectivity/write probe (clone_databases.sh:933-937).
        if not verify.write_round_trip(cfg.target_dir):
            raise RuntimeError(f"target namespace {cfg.target_dir} failed write probe")

        # Largest-first scheduling: the long pole starts immediately, so
        # wall-clock ~ max(table) instead of sum(tail) (fixes CS:1029).
        def size_of(t: str) -> int:
            p = self._source_path(t)
            if not os.path.exists(p):
                return 0
            return sum(size for _name, size, _mtime in parquet._files(p))

        work = sorted(work, key=size_of, reverse=True)

        result = CloneRunResult()
        with ThreadPoolExecutor(max_workers=cfg.parallelism) as pool:
            for r in pool.map(self._clone_table, work):
                result.results.append(r)

        # Principals/grants for every successfully-present target db. A
        # skipped db keeps the passwords recorded when it was cloned;
        # only a db with no recorded principals gets new ones.
        now = datetime.now(timezone.utc).strftime("%Y-%m-%d %H:%M:%S")
        recorded = self._recorded_passwords(result.results)
        for r in result.results:
            if r.status in ("cloned", "skipped"):
                p = prin.make_principals(
                    r.target_table,
                    cfg.db_prefix,
                    app_role_prefix=cfg.app_role_prefix,
                    owner_role_prefix=cfg.owner_role_prefix,
                    seed=cfg.seed,
                )
                if r.status == "skipped" and r.target_table in recorded:
                    p = replace(p, **recorded[r.target_table])
                result.principals.append(p)

        # Metadata tables (queryable ACL model), per-db password files and
        # the credential summary: a few rows each, written by the driver
        # (no Spark job), then the post-clone principal probes (CS:473
        # calls test_user_connections right after provisioning). A failed
        # connect-severity probe fails that db's result, mirroring the
        # function's `return 1`.
        if result.principals:
            ps = result.principals
            for name, columns, rows in (
                ("_principals", prin.PRINCIPAL_COLUMNS, prin.principal_rows(ps)),
                ("_grants", prin.GRANT_COLUMNS, prin.grant_rows(ps)),
                # Ownership-transfer record (clone_databases.sh:406-438).
                ("_ownership", prin.OWNERSHIP_COLUMNS, prin.ownership_rows(ps)),
            ):
                reports.write_rows(os.path.join(cfg.target_dir, name), columns, rows)
            for p in ps:
                reports.write_text_report(
                    reports.password_file_lines(p, cfg.host, cfg.port, now),
                    os.path.join(cfg.target_dir, f"_passwords_{p.target_db}"),
                )
            reports.write_text_report(
                reports.credential_summary_lines(ps, cfg.host, cfg.port, now),
                os.path.join(cfg.target_dir, "_credential_summary"),
            )

            report = probe.test_user_connections(
                cfg.target_dir,
                db_prefix=cfg.db_prefix,
                enabled=cfg.test_user_connections,
                lb_host=cfg.lb_host,
            )
            if report.skipped:
                self.log.info(report.skip_reason)
            else:
                reports.write_rows(
                    os.path.join(cfg.target_dir, "_principal_probes"),
                    probe.ProbeRow._fields,
                    report.rows,
                )
                failed_rows = [r for r in report.rows if r.status == "failed"]
                for row in failed_rows:
                    msg = f"probe {row.probe} failed for {row.user_name} on {row.target_db}"
                    (self.log.error if row.severity == "error" else self.log.warning)(msg)
                if not report.ok:
                    failed_dbs = {
                        row.target_db
                        for row in failed_rows
                        if row.severity == "error"
                    }
                    for r in result.results:
                        if r.target_table in failed_dbs and r.status != "failed":
                            r.status = "failed"
                            r.error = "principal connect probe failed"

        self.log.info(
            f"Cloning process finished: {result.success_count}/{result.total_count} successful"
        )
        self.log.flush()
        return result
