"""CLI entry point — the `./clone_databases.sh` surface, Spark-first.

The reference is invoked as a shell command that sources a key=value
conf, optionally takes a database list, runs the clone loop, prints a
per-db progress narrative, and exits 0 iff every database succeeded
(clone_databases.sh:1008-1118, exit contract :1095-1103). This module
is that surface for the Spark engine:

    python -m database_cloner_spark --conf clone.conf \
        --source-dir /data/src --target-dir /data/tgt [db1,db2 ...]

Conf keys honored (postgresql_db_clone.conf.example:6-45 naming):
DATABASES_TO_CLONE (comma list), DB_PREFIX, CREATE_BACKUP_BEFORE_CLONE
(true/false), PG_HOST, PG_PORT. CLI positional databases override the
conf list (same precedence as the reference's "$@" over
DATABASES_TO_CLONE, clone_databases.sh:1019-1030).
"""

from __future__ import annotations

import argparse
import sys


def prompt_password(prompt_text: str, *, reader=None) -> str:
    """Interactive credential prompt with confirmation loop
    (clone_databases.sh:264-289): hidden input, empty password rejected,
    must be typed twice identically; loops until both hold.

    `reader` defaults to getpass.getpass (injected in tests)."""
    import getpass

    read = reader or getpass.getpass
    err = sys.stderr
    while True:
        password = read(f"{prompt_text}: ")
        if not password:
            print("Error: Password cannot be empty", file=err)
            continue
        confirm = read("Confirm password: ")
        if password != confirm:
            print("Error: Passwords do not match", file=err)
            continue
        return password


# Per-DB_TYPE conf schemas (clone_databases.sh:75-130): required keys
# checked IN ORDER (the reference exits at the first missing one) and
# type-specific defaults applied for the optional keys. mysql is the
# reference's validated-then-rejected "planned" type (README.md:3,
# mysql_db_clone.conf.example "planned"): it falls through to the
# else-branch "Unsupported database type" exit, and so does any unknown
# type (clone_databases.sh:128-130).
_DB_TYPE_REQUIRED = {
    "postgresql": (
        "PG_HOST", "PG_PORT", "PG_SUPERUSER", "DB_PREFIX",
        "DATABASES_TO_CLONE",
    ),
    "mongodb": (
        "MONGO_PRIMARY_HOST", "MONGO_PRIMARY_PORT", "MONGO_ADMIN_USER",
        "DB_PREFIX", "DATABASES_TO_CLONE",
    ),
}
_DB_TYPE_DEFAULTS = {
    "postgresql": {
        "APP_ROLE_PREFIX": "r_rw_",
        "OWNER_ROLE_PREFIX": "r_rc_",
        "SOURCE_SCHEMA_NAME": "public",
    },
    "mongodb": {
        "MONGO_AUTH_DATABASE": "admin",
        "MONGO_APP_USER_SUFFIX": "_app_user",
        "TEST_USER_CONNECTIONS": "true",
    },
}


def validate_db_conf(conf: dict[str, str]) -> dict[str, str] | None:
    """DB_TYPE dispatch parity with the reference's load_config
    (clone_databases.sh:12, :75-130): when the conf declares DB_TYPE,
    validate that type's required keys in reference order (first
    missing key errors, like the reference's per-var exit 1), apply the
    type's optional-key defaults, and reject mysql/unknown types with
    the reference's "Unsupported database type" posture. A conf WITHOUT
    a DB_TYPE key keeps the lenient parquet-native path — the reference
    carries the type in the environment and the conf FILENAME
    (${DB_TYPE}_db_clone.conf); with a single --conf flag the explicit
    key is the carrier. Returns the defaulted conf, or None (caller
    exits 1)."""
    err = sys.stderr
    db_type = conf.get("DB_TYPE")
    if db_type is None:
        return dict(conf)
    if db_type not in _DB_TYPE_REQUIRED:
        print(f"Error: Unsupported database type: {db_type}", file=err)
        return None
    for key in _DB_TYPE_REQUIRED[db_type]:
        if not conf.get(key):
            print(
                f"Error: Required configuration variable not set: {key}",
                file=err,
            )
            return None
    # Per-key falsy merge, not {**defaults, **conf}: the reference's
    # ${VAR:-default} substitutes the default for EMPTY strings too
    # (clone_databases.sh :-default expansions), so an explicitly blank
    # conf value (APP_ROLE_PREFIX=) must also fall back to the default.
    merged = dict(conf)
    for key, default in _DB_TYPE_DEFAULTS[db_type].items():
        if not merged.get(key):
            merged[key] = default
    return merged


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="python -m database_cloner_spark",
        description="Clone a parquet namespace with verification, "
        "principals provisioning, and reports.",
    )
    p.add_argument("databases", nargs="?", default=None,
                   help="comma-separated table list (overrides conf DATABASES_TO_CLONE)")
    p.add_argument("--conf", default=None, help="key=value config file (clone.conf)")
    p.add_argument("--source-dir", required=True)
    p.add_argument("--target-dir", required=True)
    p.add_argument("--db-prefix", default=None, help="default clone_ (conf DB_PREFIX)")
    p.add_argument("--overwrite", action="store_true",
                   help="overwrite existing targets (default: skip-if-exists)")
    p.add_argument("--backup", action="store_true",
                   help="timestamped backup before overwrite (conf CREATE_BACKUP_BEFORE_CLONE)")
    p.add_argument("--force", action="store_true",
                   help="proceed despite registered active writers")
    p.add_argument("--no-verify", action="store_true")
    p.add_argument("--parallelism", type=int, default=8)
    p.add_argument("--seed", type=int, default=None,
                   help="password seed (reproducible fixtures only; default CSPRNG)")
    p.add_argument("--prompt", action="store_true",
                   help="prompt interactively for the admin password when the "
                   "conf does not provide ADMIN_PASSWORD (reference first-run "
                   "behavior, clone_databases.sh:107-109)")
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)

    from database_cloner_spark.pipeline import CloneConfig, ClonePipeline
    from database_cloner_spark.session import get_spark

    spark = get_spark("database-cloner-cli")

    conf: dict[str, str] = {}
    if args.conf:
        from database_cloner_spark.sources.kv_config import read_config

        conf = read_config(spark, args.conf)
        validated = validate_db_conf(conf)
        if validated is None:
            return 1  # reference exit contract (clone_databases.sh:128-130)
        conf = validated

    # Admin credential precedence mirrors the reference (CS:107-109):
    # conf key wins; --prompt fills the gap interactively (confirmation
    # loop, empty rejected). Never echoed, never written to any report.
    admin_password = conf.get("ADMIN_PASSWORD")
    if args.prompt and not admin_password:
        admin_password = prompt_password("Enter admin password")

    tables = args.databases or conf.get("DATABASES_TO_CLONE") or None
    truthy = ("true", "1", "yes")
    cfg = CloneConfig(
        source_dir=args.source_dir,
        target_dir=args.target_dir,
        db_prefix=args.db_prefix or conf.get("DB_PREFIX", "clone_"),
        tables=tables,
        create_backup_before_clone=(
            args.backup
            or conf.get("CREATE_BACKUP_BEFORE_CLONE", "").lower() in truthy
        ),
        parallelism=args.parallelism,
        verify_clone=not args.no_verify,
        overwrite=args.overwrite,
        force=args.force,
        host=conf.get("PG_HOST", "pg-lb.internal"),
        port=int(conf.get("PG_PORT", "5432")),
        seed=args.seed,
        admin_password=admin_password,
        test_user_connections=conf.get(
            "TEST_USER_CONNECTIONS", "true"
        ).lower() in truthy,
        lb_host=conf.get("LB_HOST") or None,
        app_role_prefix=conf.get("APP_ROLE_PREFIX", CloneConfig.app_role_prefix),
        owner_role_prefix=conf.get(
            "OWNER_ROLE_PREFIX", CloneConfig.owner_role_prefix
        ),
    )
    result = ClonePipeline(spark, cfg).run()

    # Per-db narrative + summary, mirroring the reference's output
    # (clone_databases.sh:1040-1103).
    for r in result.results:
        mark = {"cloned": "OK", "skipped": "SKIP", "failed": "FAIL"}[r.status]
        line = f"[{mark:4}] {r.table} -> {r.target_table}"
        if r.status == "cloned":
            line += f" ({r.rows} rows" + (
                ", verified)" if r.verified else ")"
            )
        elif r.error:
            line += f": {r.error}"
        print(line)
    print(
        f"Cloning process finished: {result.success_count}/{result.total_count} successful"
    )
    # Exit contract (clone_databases.sh:1095-1103).
    return 0 if result.ok else 1


if __name__ == "__main__":
    sys.exit(main())
