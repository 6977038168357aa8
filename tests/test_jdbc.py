"""Serverless contract tests for the live-server faces.

No database server exists in this environment (SURVEY.md §7), so these
tests pin the parts that are testable without one: the option
dictionaries every JDBC read/write must carry, the unpartitioned-read
refusal, the server-side clone DDL's parity with the reference, the
ClonePipeline dispatch wiring, and the read of an exported Mongo
collection.
"""

from __future__ import annotations

import json
import os

import pytest

from database_cloner_spark.pipeline.clone import (
    CloneConfig,
    ClonePipeline,
    _parse_worklist,
)
from database_cloner_spark.sources import jdbc

PG = jdbc.JdbcTarget(
    url="jdbc:postgresql://db.example.test:5432/appdb",
    user="clone_runner",
    password="s3cret",
)
SPEC = jdbc.JdbcPartitionSpec(
    column="o_orderkey", lower_bound=0, upper_bound=6_000_000, num_partitions=32
)


# -- option contracts --------------------------------------------------------


def test_read_options_always_partitioned():
    opts = jdbc.read_options(PG, "orders", SPEC)
    # Connection identity.
    assert opts["url"] == PG.url
    assert opts["user"] == "clone_runner"
    assert opts["password"] == "s3cret"
    assert opts["driver"] == "org.postgresql.Driver"
    assert opts["dbtable"] == "orders"
    # The 100 TB contract: EVERY read carries the full partition spec.
    assert opts["partitionColumn"] == "o_orderkey"
    assert opts["lowerBound"] == "0"
    assert opts["upperBound"] == "6000000"
    assert opts["numPartitions"] == "32"


def test_read_refuses_unpartitioned():
    with pytest.raises(ValueError, match="unpartitioned"):
        jdbc.read_options(PG, "orders", None)


def test_read_refuses_single_connection_spec():
    one = jdbc.JdbcPartitionSpec("o_orderkey", 0, 100, num_partitions=1)
    with pytest.raises(ValueError, match="single-connection"):
        jdbc.read_options(PG, "orders", one)


def test_read_refuses_empty_bound_range():
    bad = jdbc.JdbcPartitionSpec("o_orderkey", 100, 100, num_partitions=8)
    with pytest.raises(ValueError, match="empty bound range"):
        jdbc.read_options(PG, "orders", bad)


def test_write_options_batched():
    opts = jdbc.write_options(PG, "clone_orders")
    assert opts["dbtable"] == "clone_orders"
    assert opts["batchsize"] == "10000"
    assert opts["url"] == PG.url


def test_server_side_clone_sql_matches_reference_ddl():
    """String parity with clone_databases.sh:245-246's fast path:
    CREATE DATABASE "<target>" WITH TEMPLATE "<source>"."""
    assert (
        jdbc.server_side_clone_sql("appdb", "clone_appdb")
        == 'CREATE DATABASE "clone_appdb" WITH TEMPLATE "appdb"'
    )


# -- pipeline wiring ---------------------------------------------------------


def _jdbc_cfg(tmp_path, **kw) -> CloneConfig:
    return CloneConfig(
        source_dir=str(tmp_path / "src"),
        target_dir=str(tmp_path / "tgt"),
        source_format="jdbc",
        tables="orders",
        **kw,
    )


def test_pipeline_requires_jdbc_source(spark, tmp_path):
    pipe = ClonePipeline(spark, _jdbc_cfg(tmp_path))
    with pytest.raises(ValueError, match="jdbc_source"):
        pipe._load_source("orders")


def test_pipeline_refuses_unpartitioned_jdbc_read(spark, tmp_path):
    pipe = ClonePipeline(
        spark, _jdbc_cfg(tmp_path, jdbc_source=PG, jdbc_partition={})
    )
    with pytest.raises(ValueError, match="unpartitioned"):
        pipe._load_source("orders")


def test_pipeline_dispatches_partitioned_jdbc_read(spark, tmp_path, monkeypatch):
    """source_format='jdbc' routes through jdbc.load_table with the
    table's own partition spec — the seam VERDICT r9 found unwired."""
    calls = []

    def fake_load_table(sp, target, table, spec):
        calls.append((target, table, spec))
        return "sentinel-df"

    monkeypatch.setattr(jdbc, "load_table", fake_load_table)
    pipe = ClonePipeline(
        spark,
        _jdbc_cfg(tmp_path, jdbc_source=PG, jdbc_partition={"orders": SPEC}),
    )
    assert pipe._load_source("orders") == "sentinel-df"
    assert calls == [(PG, "orders", SPEC)]


def test_pipeline_jdbc_worklist_must_be_explicit():
    with pytest.raises(ValueError, match="explicit tables"):
        _parse_worklist(None, "/nonexistent", "jdbc")


def test_pipeline_jdbc_target_write_modes(spark, tmp_path, monkeypatch):
    """parquet -> live-server restore: save_table gets mode='error'
    under the reference's default don't-clobber posture and
    'overwrite' under --overwrite; no parquet target is written."""
    sf = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")
    saves = []
    monkeypatch.setattr(
        jdbc, "save_table", lambda df, target, table, mode: saves.append(
            (target, table, mode, df.count())
        )
    )
    for overwrite, want_mode in ((False, "error"), (True, "overwrite")):
        saves.clear()
        cfg = CloneConfig(
            source_dir=sf,
            target_dir=str(tmp_path / f"tgt_{want_mode}"),
            tables="region",
            jdbc_target=PG,
            overwrite=overwrite,
            verify_clone=False,
            test_user_connections=False,
        )
        res = ClonePipeline(spark, cfg).run()
        assert res.ok, [r.error for r in res.results]
        (target, table, mode, n) = saves[0]
        assert (target, table, mode) == (PG, "clone_region", want_mode)
        assert n == res.results[0].rows > 0
        assert not os.path.exists(
            os.path.join(cfg.target_dir, "clone_region.parquet")
        )


# -- exported Mongo collection -----------------------------------------------


def test_bson_json_fallback_reads_exported_collection(spark, tmp_path):
    """A mongoexport'd collection (`<root>/<db>/<collection>.json`,
    line-delimited) reads through the engine's document source."""
    from database_cloner_spark.sources.json import load_json

    d = tmp_path / "dump" / "appdb"
    d.mkdir(parents=True)
    rows = [{"_id": i, "name": f"u{i}"} for i in range(5)]
    (d / "users.json").write_text("\n".join(json.dumps(r) for r in rows))
    df = load_json(spark, str(d / "users.json"))
    got = sorted((r["_id"], r["name"]) for r in df.collect())
    assert got == [(i, f"u{i}") for i in range(5)]
