"""Post-clone principal probes — the reference's user-connection tests.

The reference validates each provisioned principal by CONNECTING as it
through the load balancer and running probe queries
(clone_databases.sh:480-551): `SELECT 1` as the app user, a DML probe
against `information_schema.tables`, `SELECT 1` + a DDL probe as the
owner user, and a `SHOW search_path` sanity check; the Mongo path gates
the whole thing behind TEST_USER_CONNECTIONS (:880-884) and routes via
MONGO_USER_CONNSTRING_TEMPLATE when set (:904-916).

Spark has no auth endpoint, and this engine models grants as DATA
(pipeline/principals.py). So "can principal X do Y" is a lookup in the
written `_principals` / `_grants` metadata tables plus the cloned
namespace catalog — the same assertion the reference makes, answered
from the grant matrix instead of a live socket. Failure semantics
mirror the reference: a failed connect probe is an ERROR (fails the
test, :519/:538 `return 1`), a failed DML/DDL/search-path probe is a
WARNING (:513/:532/:547 log_warning, no early return).

The metadata tables hold a few rows per database, so the probes read
them with pyarrow and evaluate in one driver-side loop: no Spark job,
and a cost that is constant whether the clone was 10 MB or 100 TB.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from typing import NamedTuple

from database_cloner_spark.pipeline.reports import read_rows
from database_cloner_spark.sources.parquet import table_names

# (probe name, user_kind it applies to, object_kind, privilege, severity
# on failure). Severities follow clone_databases.sh:480-551.
PROBES = (
    # psql -c "SELECT 1" as each user: the user must exist and its role
    # must hold CONNECT on the database (:504-506, :523-525).
    ("connect", "app", "database", "CONNECT", "error"),
    ("connect", "owner", "database", "CONNECT", "error"),
    # App-user DML probe: SELECT over the cloned schema's tables (:510-512).
    ("dml_select", "app", "tables", "SELECT", "warning"),
    # Owner-user DDL probe: CREATE on the schema (:529-531).
    ("ddl_create", "owner", "schema", "CREATE", "warning"),
)


class ProbeRow(NamedTuple):
    """One probe outcome; the fields are the `_principal_probes` columns."""

    target_db: str
    user_name: str
    user_kind: str
    probe: str
    severity: str
    status: str  # passed | failed


@dataclass
class ProbeReport:
    ok: bool  # False iff any error-severity probe failed
    rows: list[ProbeRow] = field(default_factory=list)
    skipped: bool = False
    skip_reason: str | None = None


def probe_rows(target_dir: str, db_prefix: str = "clone_") -> list[ProbeRow]:
    """Every probe, as rows: one per (target_db, user_name, probe) with
    status passed / failed — the queryable analogue of the reference's
    per-user probe log lines. Read from the WRITTEN metadata tables, so a
    grant removed on disk fails its probe.

    - PROBES: the principal's role (granted_role) must hold the probe's
      (object_kind, privilege) on the principal's own target_db in
      `_grants`. The DML probe also requires the cloned table to be
      present in the namespace (the reference's information_schema.tables
      count, :511): a grant on a table that never landed is a failure.
    - search_path (`SHOW search_path`, :544-548; warning): the app user's
      implied schema "<app user>_owner" (the reference's schema-per-owner
      layout) must be a provisioned owner principal of the SAME target_db.
    """
    principals = read_rows(os.path.join(target_dir, "_principals"))
    granted = {
        (g["target_db"], g["role_name"], g["object_kind"], g["privilege"])
        for g in read_rows(os.path.join(target_dir, "_grants"))
    }
    # Which target dbs actually materialized in the namespace (catalog
    # scan, the information_schema analogue).
    present = {t for t in table_names(target_dir) if t.startswith(db_prefix)}
    owners = {
        (p["target_db"], p["user_name"]) for p in principals if p["user_kind"] == "owner"
    }

    def row(p: dict, probe: str, severity: str, passed: bool) -> ProbeRow:
        return ProbeRow(
            p["target_db"], p["user_name"], p["user_kind"], probe, severity,
            "passed" if passed else "failed",
        )

    rows = [
        row(p, probe, severity,
            (p["target_db"], p["granted_role"], kind, priv) in granted
            and (probe != "dml_select" or p["target_db"] in present))
        for p in principals
        for probe, user_kind, kind, priv, severity in PROBES
        if user_kind == p["user_kind"]
    ]
    rows += [
        row(p, "search_path", "warning", (p["target_db"], f"{p['user_name']}_owner") in owners)
        for p in principals
        if p["user_kind"] == "app"
    ]
    return rows


def test_user_connections(
    target_dir: str,
    db_prefix: str = "clone_",
    enabled: bool = True,
    lb_host: str | None = None,
) -> ProbeReport:
    """Run every probe; the reference's skip semantics are preserved:
    TEST_USER_CONNECTIONS=false (:880-884) and unset LB_HOST (:495-498)
    both skip cleanly with a log line, succeeding. The probes run on the
    driver and start no Spark job."""
    if not enabled:
        return ProbeReport(
            ok=True, skipped=True,
            skip_reason="User connection testing skipped (TEST_USER_CONNECTIONS=false)",
        )
    if not lb_host:
        return ProbeReport(
            ok=True, skipped=True,
            skip_reason="Load balancer not configured. Skipping user connection testing.",
        )
    rows = probe_rows(target_dir, db_prefix)
    n_errors = sum(1 for r in rows if r.status == "failed" and r.severity == "error")
    return ProbeReport(ok=n_errors == 0, rows=rows)
