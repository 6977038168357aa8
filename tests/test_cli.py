"""CLI surface (python -m database_cloner_spark) — the reference's
./clone_databases.sh entry point: conf + positional list, narrative
output, success-ratio exit contract (clone_databases.sh:1008-1118)."""

from __future__ import annotations

import os

from database_cloner_spark.__main__ import main

SF = "/root/testdata/sf0.001"


def test_cli_conf_driven_clone(spark, tmp_path, capsys):
    conf = tmp_path / "clone.conf"
    conf.write_text(
        "# test conf\n"
        'DATABASES_TO_CLONE=region, nation\n'
        'DB_PREFIX="clone_"\n'
        "CREATE_BACKUP_BEFORE_CLONE=false\n"
        'PG_HOST="pg-lb.internal"\n'
        "PG_PORT=5432\n"
    )
    target = str(tmp_path / "out")
    rc = main([
        "--conf", str(conf), "--source-dir", SF, "--target-dir", target,
        "--parallelism", "2", "--seed", "7",
    ])
    out = capsys.readouterr().out
    assert rc == 0
    assert "Cloning process finished: 2/2 successful" in out
    assert os.path.exists(os.path.join(target, "clone_region.parquet"))
    assert os.path.exists(os.path.join(target, "clone_nation.parquet"))


def test_cli_positional_overrides_conf_and_failure_exit(spark, tmp_path, capsys):
    conf = tmp_path / "clone.conf"
    conf.write_text("DATABASES_TO_CLONE=region\nDB_PREFIX=clone_\n")
    target = str(tmp_path / "out2")
    # positional list overrides conf; one bogus table -> nonzero exit
    rc = main([
        "supplier,nope_missing", "--conf", str(conf),
        "--source-dir", SF, "--target-dir", target, "--seed", "7",
    ])
    out = capsys.readouterr().out
    assert rc == 1
    assert "[OK  ] supplier -> clone_supplier" in out
    assert "[FAIL] nope_missing" in out
    assert "1/2 successful" in out
    assert not os.path.exists(os.path.join(target, "clone_region.parquet"))


def test_prompt_password_confirmation_loop(capsys):
    """clone_databases.sh:264-289: empty rejected, mismatch re-prompts,
    matching confirmation returns."""
    from database_cloner_spark.__main__ import prompt_password

    answers = iter(["", "hunter2", "wrong", "hunter2", "hunter2"])
    pw = prompt_password("Enter admin password", reader=lambda _p: next(answers))
    assert pw == "hunter2"
    err = capsys.readouterr().err
    assert "Password cannot be empty" in err
    assert "Passwords do not match" in err


def test_cli_prompt_flag_reads_password(tmp_path, monkeypatch):
    """--prompt wires the interactive credential into CloneConfig; conf
    ADMIN_PASSWORD wins over the prompt (CS:107-109 precedence)."""
    import database_cloner_spark.__main__ as cli

    seen = {}

    class FakePipeline:
        def __init__(self, spark, cfg):
            seen["cfg"] = cfg

        def run(self):
            from database_cloner_spark.pipeline.clone import CloneRunResult, TableResult

            r = CloneRunResult()
            r.results.append(TableResult("region", "clone_region", "cloned", rows=5))
            return r

    monkeypatch.setattr("database_cloner_spark.pipeline.ClonePipeline", FakePipeline)
    monkeypatch.setattr(
        "getpass.getpass", lambda prompt="": "prompted-secret"
    )
    rc = cli.main([
        "region",
        "--source-dir", "/root/testdata/sf0.001",
        "--target-dir", str(tmp_path / "t"),
        "--prompt",
    ])
    assert rc == 0
    assert seen["cfg"].admin_password == "prompted-secret"

    conf = tmp_path / "clone.conf"
    conf.write_text("ADMIN_PASSWORD=from-conf\n")
    rc = cli.main([
        "region",
        "--source-dir", "/root/testdata/sf0.001",
        "--target-dir", str(tmp_path / "t2"),
        "--conf", str(conf),
        "--prompt",
    ])
    assert rc == 0
    assert seen["cfg"].admin_password == "from-conf"


def test_cli_db_type_postgresql_validates_and_runs(spark, tmp_path, capsys):
    """DB_TYPE=postgresql: the reference's required-var check
    (clone_databases.sh:77-84) — a complete conf clones; dropping
    PG_SUPERUSER errors with the reference's message and exits 1
    before any clone work."""
    complete = (
        "DB_TYPE=postgresql\n"
        "PG_HOST=pg-lb.internal\nPG_PORT=5432\nPG_SUPERUSER=postgres\n"
        "DB_PREFIX=clone_\nDATABASES_TO_CLONE=region\n"
    )
    conf = tmp_path / "pg.conf"
    conf.write_text(complete)
    target = str(tmp_path / "pg_out")
    rc = main([
        "--conf", str(conf), "--source-dir", SF, "--target-dir", target,
        "--parallelism", "2", "--seed", "7",
    ])
    assert rc == 0
    assert "1/1 successful" in capsys.readouterr().out
    assert os.path.exists(os.path.join(target, "clone_region.parquet"))
    # the conf check's role-prefix defaults (r_rw_ / r_rc_) name the
    # provisioned roles
    from database_cloner_spark.pipeline.reports import read_rows

    roles = {r["role_name"] for r in read_rows(os.path.join(target, "_grants"))}
    assert roles == {"r_rw_clone_region", "r_rc_clone_region"}

    conf.write_text(complete.replace("PG_SUPERUSER=postgres\n", ""))
    rc = main([
        "--conf", str(conf), "--source-dir", SF,
        "--target-dir", str(tmp_path / "pg_out2"), "--seed", "7",
    ])
    captured = capsys.readouterr()
    assert rc == 1
    assert (
        "Required configuration variable not set: PG_SUPERUSER"
        in captured.err
    )
    assert not os.path.exists(str(tmp_path / "pg_out2"))


def test_cli_db_type_mongodb_validates_and_runs(spark, tmp_path, capsys):
    """DB_TYPE=mongodb: the hybrid-approach required vars
    (clone_databases.sh:92-99); first missing var reported, reference
    order."""
    conf = tmp_path / "mongo.conf"
    conf.write_text(
        "DB_TYPE=mongodb\n"
        "MONGO_PRIMARY_HOST=mongo-0.internal\nMONGO_PRIMARY_PORT=27017\n"
        "MONGO_ADMIN_USER=admin\nDB_PREFIX=clone_\n"
        "DATABASES_TO_CLONE=region\n"
    )
    target = str(tmp_path / "mongo_out")
    rc = main([
        "--conf", str(conf), "--source-dir", SF, "--target-dir", target,
        "--parallelism", "2", "--seed", "7",
    ])
    assert rc == 0
    assert os.path.exists(os.path.join(target, "clone_region.parquet"))

    conf.write_text("DB_TYPE=mongodb\nDB_PREFIX=clone_\n")
    rc = main([
        "--conf", str(conf), "--source-dir", SF,
        "--target-dir", str(tmp_path / "mongo_out2"), "--seed", "7",
    ])
    captured = capsys.readouterr()
    assert rc == 1
    assert (
        "Required configuration variable not set: MONGO_PRIMARY_HOST"
        in captured.err
    )


def test_cli_db_type_mysql_rejected_as_planned(spark, tmp_path, capsys):
    """DB_TYPE=mysql is the reference's validated-then-rejected
    'planned' type (README.md:3): falls to the unsupported-type exit
    (clone_databases.sh:128-130) no matter how complete the conf is."""
    conf = tmp_path / "mysql.conf"
    conf.write_text(
        "DB_TYPE=mysql\nMYSQL_HOST=db.internal\nMYSQL_PORT=3306\n"
        "DB_PREFIX=clone_\nDATABASES_TO_CLONE=region\n"
    )
    rc = main([
        "--conf", str(conf), "--source-dir", SF,
        "--target-dir", str(tmp_path / "my_out"), "--seed", "7",
    ])
    captured = capsys.readouterr()
    assert rc == 1
    assert "Unsupported database type: mysql" in captured.err
    assert not os.path.exists(str(tmp_path / "my_out"))


def test_validate_db_conf_defaults_applied():
    """Type defaults mirror the reference's optional-var fallbacks
    (clone_databases.sh:86-89, :101-103); explicit conf values win."""
    from database_cloner_spark.__main__ import validate_db_conf

    pg = validate_db_conf(
        {
            "DB_TYPE": "postgresql", "PG_HOST": "h", "PG_PORT": "5432",
            "PG_SUPERUSER": "postgres", "DB_PREFIX": "clone_",
            "DATABASES_TO_CLONE": "region",
        }
    )
    assert pg["APP_ROLE_PREFIX"] == "r_rw_"
    assert pg["OWNER_ROLE_PREFIX"] == "r_rc_"
    assert pg["SOURCE_SCHEMA_NAME"] == "public"

    mg = validate_db_conf(
        {
            "DB_TYPE": "mongodb", "MONGO_PRIMARY_HOST": "m",
            "MONGO_PRIMARY_PORT": "27017", "MONGO_ADMIN_USER": "admin",
            "DB_PREFIX": "clone_", "DATABASES_TO_CLONE": "region",
            "MONGO_AUTH_DATABASE": "custom",
        }
    )
    assert mg["MONGO_AUTH_DATABASE"] == "custom"  # explicit wins
    assert mg["MONGO_APP_USER_SUFFIX"] == "_app_user"
    assert mg["TEST_USER_CONNECTIONS"] == "true"


def test_validate_db_conf_empty_value_falls_back_to_default():
    """An explicitly EMPTY conf value takes the default, matching the
    reference's ${VAR:-default} expansion which substitutes for empty
    strings too (clone_databases.sh:86-89) — not just for unset keys."""
    from database_cloner_spark.__main__ import validate_db_conf

    pg = validate_db_conf(
        {
            "DB_TYPE": "postgresql", "PG_HOST": "h", "PG_PORT": "5432",
            "PG_SUPERUSER": "postgres", "DB_PREFIX": "clone_",
            "DATABASES_TO_CLONE": "region",
            "APP_ROLE_PREFIX": "",  # blank, as APP_ROLE_PREFIX= in a conf
            "SOURCE_SCHEMA_NAME": "",
        }
    )
    assert pg["APP_ROLE_PREFIX"] == "r_rw_"
    assert pg["SOURCE_SCHEMA_NAME"] == "public"
