"""Principals / roles / grants metadata model.

Spark has no native GRANT machinery, so the reference's ACL provisioning
(clone_databases.sh:292-477 for PostgreSQL, :828-888 for MongoDB) is
modeled as engine-maintained metadata TABLES: small all-string parquet
tables (`_principals`, `_grants`, `_ownership`) that the driver writes
(pipeline/reports.write_rows) and that read back like any other
DataFrame. The reference asserts its grants with probe queries
(clone_databases.sh:510-543); pipeline/probe.py asserts them over these
tables.

Naming fidelity (clone_databases.sh:303-316):
  owner user = "{DB_PREFIX}{base}_user_owner"
  app user   = "{DB_PREFIX}{base}_user"
  app role   = "{APP_ROLE_PREFIX}{DB_PREFIX}{base}"
  owner role = "{OWNER_ROLE_PREFIX}{DB_PREFIX}{base}"

Grant matrix fidelity (clone_databases.sh:351-404):
  app role   : CONNECT, USAGE(schema), SELECT/INSERT/UPDATE/DELETE(tables),
               USAGE(sequences), EXECUTE(functions)
  owner role : CONNECT, USAGE+CREATE(schema), SELECT/INSERT/UPDATE/DELETE,
               USAGE(sequences), TEMPORARY(db), CREATE(db)
"""

from __future__ import annotations

from dataclasses import dataclass

from database_cloner_spark.queries.udfs import _CHARSET

APP_GRANTS = (
    ("database", "CONNECT"),
    ("schema", "USAGE"),
    ("tables", "SELECT"),
    ("tables", "INSERT"),
    ("tables", "UPDATE"),
    ("tables", "DELETE"),
    ("sequences", "USAGE"),
    ("functions", "EXECUTE"),
)

OWNER_GRANTS = (
    ("database", "CONNECT"),
    ("database", "TEMPORARY"),
    ("database", "CREATE"),
    ("schema", "USAGE"),
    ("schema", "CREATE"),
    ("tables", "SELECT"),
    ("tables", "INSERT"),
    ("tables", "UPDATE"),
    ("tables", "DELETE"),
    ("sequences", "USAGE"),
)

# ALTER DEFAULT PRIVILEGES (clone_databases.sh:364-373 — tables :364,
# sequences :370, functions :373): privileges on
# objects the owner creates IN THE FUTURE, granted to the app role now.
# Distinct object_kind namespace ("default:*") so a query can separate
# present-object grants from default-privilege rules, exactly as
# pg_default_acl is a separate catalog from information_schema grants.
APP_DEFAULT_GRANTS = (
    ("default:tables", "SELECT"),
    ("default:tables", "INSERT"),
    ("default:tables", "UPDATE"),
    ("default:tables", "DELETE"),
    ("default:sequences", "USAGE"),
    ("default:sequences", "SELECT"),
    ("default:functions", "EXECUTE"),
)


@dataclass(frozen=True)
class DbPrincipals:
    """The four principals provisioned per cloned database."""

    target_db: str
    owner_user: str
    app_user: str
    owner_role: str
    app_role: str
    owner_password: str
    app_password: str


def generate_password(seed: int | None = None) -> str:
    """Twin of `tr -dc 'A-Za-z0-9' < /dev/urandom | head -c 16`
    (clone_databases.sh:256-261). SECURE BY DEFAULT: seed=None draws
    from the OS CSPRNG like the reference does; a seed is an explicit
    test/reproducibility override only — a seeded default would make
    every provisioned credential derivable from the db name (ADVICE r1).
    Driver-side (one per database, not per row — the per-row vectorized
    form lives in queries/udfs.py)."""
    if seed is None:
        import secrets

        return "".join(secrets.choice(_CHARSET) for _ in range(16))
    import numpy as np

    rng = np.random.RandomState(seed & 0x7FFFFFFF)
    idx = rng.randint(0, len(_CHARSET), size=16)
    return "".join(_CHARSET[i] for i in idx)


def make_principals(
    target_db: str,
    db_prefix: str,
    app_role_prefix: str = "app_role_",
    owner_role_prefix: str = "owner_role_",
    seed: int | None = None,
) -> DbPrincipals:
    """Derive the principal set for one target database
    (clone_databases.sh:297-316). Passwords come from the OS CSPRNG
    unless a seed is explicitly given (tests/oracle fixtures)."""
    import zlib

    base = target_db[len(db_prefix):] if target_db.startswith(db_prefix) else target_db
    if seed is None:
        owner_pw, app_pw = generate_password(), generate_password()
    else:
        # crc32, not hash(): Python's hash is salted per process and would
        # make seeded passwords non-reproducible across runs.
        db_seed = seed ^ zlib.crc32(target_db.encode())
        owner_pw, app_pw = generate_password(db_seed), generate_password(db_seed + 1)
    return DbPrincipals(
        target_db=target_db,
        owner_user=f"{db_prefix}{base}_user_owner",
        app_user=f"{db_prefix}{base}_user",
        app_role=f"{app_role_prefix}{db_prefix}{base}",
        owner_role=f"{owner_role_prefix}{db_prefix}{base}",
        owner_password=owner_pw,
        app_password=app_pw,
    )


# Column order of each metadata table; every column is a string.
PRINCIPAL_COLUMNS = ("target_db", "user_name", "user_kind", "granted_role", "password")
GRANT_COLUMNS = ("target_db", "role_name", "object_kind", "privilege")
OWNERSHIP_COLUMNS = ("target_db", "object_kind", "object_name", "owner")


def principal_rows(sets: list[DbPrincipals]) -> list[tuple[str, ...]]:
    """`pg_user`-style metadata table: one row per user, role membership
    included (the GRANT role TO user step, clone_databases.sh:408-414)."""
    rows = []
    for p in sets:
        rows.append((p.target_db, p.owner_user, "owner", p.owner_role, p.owner_password))
        rows.append((p.target_db, p.app_user, "app", p.app_role, p.app_password))
    return rows


def grant_rows(sets: list[DbPrincipals]) -> list[tuple[str, ...]]:
    """`information_schema.role_table_grants`-style table: one row per
    (role, object_kind, privilege) — the matrix of clone_databases.sh:351-404."""
    rows = []
    for p in sets:
        for kind, priv in APP_GRANTS:
            rows.append((p.target_db, p.app_role, kind, priv))
        for kind, priv in APP_DEFAULT_GRANTS:
            rows.append((p.target_db, p.app_role, kind, priv))
        for kind, priv in OWNER_GRANTS:
            rows.append((p.target_db, p.owner_role, kind, priv))
    return rows


def ownership_rows(sets: list[DbPrincipals]) -> list[tuple[str, ...]]:
    """Object-ownership metadata — the reference's post-clone ownership
    transfer (clone_databases.sh:406-438: ALTER TABLE/SEQUENCE/VIEW …
    OWNER TO the schema owner, looped over information_schema). In this
    engine each cloned namespace entry is one table object; sequences
    and views have no parquet analogue, so the table records the table
    rows and the loop shape generalizes if such objects appear."""
    return [(p.target_db, "table", p.target_db, p.owner_user) for p in sets]
