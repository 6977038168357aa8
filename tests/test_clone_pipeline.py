"""Round-trip tests for the clone pipeline (SURVEY.md §5.2 item 3):
clone sf0.001 -> verify fingerprints -> idempotent second run -> reports.
"""

from __future__ import annotations

import os
import re

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import DataFrameWriter

from database_cloner_spark.pipeline import CloneConfig, ClonePipeline, reports
from database_cloner_spark.pipeline.verify import diff_counts, verify_clone
from database_cloner_spark.sources.parquet import load
from tests.spark_jobs import jobs_started

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def clone_run(spark, tmp_path_factory):
    target = str(tmp_path_factory.mktemp("clone_target"))
    cfg = CloneConfig(
        source_dir=SF,
        target_dir=target,
        tables="region, nation, customer,supplier",  # messy CSV on purpose
        parallelism=4,
    )
    result = ClonePipeline(spark, cfg).run()
    return cfg, result


def test_all_tables_cloned_and_verified(clone_run):
    cfg, result = clone_run
    assert result.ok
    assert result.total_count == 4
    assert {r.status for r in result.results} == {"cloned"}
    assert all(r.verified for r in result.results)


def test_clone_content_identical(spark, clone_run):
    cfg, _ = clone_run
    src = load(spark, SF, "customer")
    dst = spark.read.parquet(os.path.join(cfg.target_dir, "clone_customer.parquet"))
    assert diff_counts(src, dst) == (0, 0)
    assert verify_clone(src, dst)["match"]


def test_clone_logs_phase_times_per_table(clone_run):
    """One INFO line per cloned table with its load, write and verify
    milliseconds; a skipped rerun adds none."""
    cfg, result = clone_run
    log = reports.read_rows(os.path.join(cfg.target_dir, "_clone_log"))
    phases = [
        r["message"] for r in log
        if r["level"] == "INFO" and r["message"].startswith("Phases of ")
    ]
    assert sorted(m.split()[2] for m in phases) == sorted(r.table for r in result.results)
    for m in phases:
        assert re.search(r": load \d+ ms, write \d+ ms, verify \d+ ms$", m), m


def test_second_run_is_idempotent_skip(spark, clone_run):
    cfg, _ = clone_run
    result2 = ClonePipeline(spark, cfg).run()
    assert result2.ok
    assert {r.status for r in result2.results} == {"skipped"}


def test_principals_and_grants_metadata(spark, clone_run):
    cfg, result = clone_run
    pdf = spark.read.parquet(os.path.join(cfg.target_dir, "_principals"))
    gdf = spark.read.parquet(os.path.join(cfg.target_dir, "_grants"))
    # Reference naming fidelity (clone_databases.sh:303-316).
    users = {r.user_name for r in pdf.collect()}
    assert "clone_region_user_owner" in users
    assert "clone_region_user" in users
    app_privs = {
        r.privilege
        for r in gdf.filter(
            (gdf.role_name == "app_role_clone_region") & (gdf.object_kind == "tables")
        ).collect()
    }
    assert app_privs == {"SELECT", "INSERT", "UPDATE", "DELETE"}
    owner_db_privs = {
        r.privilege
        for r in gdf.filter(
            (gdf.role_name == "owner_role_clone_region") & (gdf.object_kind == "database")
        ).collect()
    }
    assert owner_db_privs == {"CONNECT", "TEMPORARY", "CREATE"}


def test_reports_written(spark, clone_run):
    cfg, result = clone_run
    summary = spark.read.text(os.path.join(cfg.target_dir, "_credential_summary"))
    text = "\n".join(r.value for r in summary.collect())
    assert "Credential Summary" in text
    for p in result.principals:
        assert p.target_db in text
    log = spark.read.parquet(os.path.join(cfg.target_dir, "_clone_log"))
    assert log.filter(log.level == "SUCCESS").count() >= 4


def test_failed_table_isolated(spark, tmp_path):
    cfg = CloneConfig(
        source_dir=SF,
        target_dir=str(tmp_path / "t"),
        tables="region,nope_missing_table",
        parallelism=2,
    )
    result = ClonePipeline(spark, cfg).run()
    assert not result.ok
    by_name = {r.table: r for r in result.results}
    assert by_name["region"].status == "cloned"
    assert by_name["nope_missing_table"].status == "failed"


def test_partitioned_clone_prunes(spark, tmp_path):
    from pyspark.sql import functions as F

    target = str(tmp_path / "part_target")
    cfg = CloneConfig(
        source_dir=SF,
        target_dir=target,
        tables=["lineitem"],
        partition_by={"lineitem": "l_returnflag"},
        parallelism=1,
    )
    result = ClonePipeline(spark, cfg).run()
    assert result.ok
    assert result.results[0].verified is True  # column-order-proof fingerprint

    clone = spark.read.parquet(os.path.join(target, "clone_lineitem.parquet"))
    pruned = clone.filter(F.col("l_returnflag") == "A")
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(l_returnflag" in plan or (
        "PartitionFilters" in plan and "l_returnflag" in plan.split("PartitionFilters")[1][:120]
    ), f"no partition pruning:\n{plan[:1500]}"
    want = load(spark, SF, "lineitem").filter(F.col("l_returnflag") == "A").count()
    assert pruned.count() == want


def test_sorted_clone_has_tight_rowgroup_stats(spark, tmp_path):
    import pyarrow.parquet as pq

    target = str(tmp_path / "sorted_target")
    cfg = CloneConfig(
        source_dir=SF,
        target_dir=target,
        tables=["orders"],
        sort_within_partitions_by={"orders": "o_orderkey"},
        parallelism=1,
    )
    result = ClonePipeline(spark, cfg).run()
    assert result.ok and result.results[0].verified is True

    # Within every output file, consecutive row groups must cover
    # non-overlapping, increasing o_orderkey ranges — the property that
    # lets a point/range predicate skip whole row groups.
    out_dir = os.path.join(target, "clone_orders.parquet")
    files = [f for f in os.listdir(out_dir) if f.endswith(".parquet")]
    assert files
    checked = 0
    for fname in files:
        md = pq.ParquetFile(os.path.join(out_dir, fname)).metadata
        idx = next(
            i for i in range(len(md.schema))
            if md.schema.column(i).name == "o_orderkey"
        )
        prev_max = None
        for rg in range(md.num_row_groups):
            stats = md.row_group(rg).column(idx).statistics
            assert stats.min <= stats.max
            if prev_max is not None:
                assert stats.min >= prev_max  # sorted => disjoint ranges
            prev_max = stats.max
            checked += 1
    assert checked >= len(files)


def test_admission_gate_refuses_then_proceeds(spark, tmp_path):
    """Reference clone_databases.sh:625-708: refuse to clone while the
    target has active writers; proceed once they're gone."""
    from database_cloner_spark.pipeline import admission

    target = str(tmp_path / "gated")
    cfg = CloneConfig(source_dir=SF, target_dir=target, tables=["region"])
    os.makedirs(target, exist_ok=True)
    admission.acquire(target, holder="etl-job-7", table="clone_region")

    refused = ClonePipeline(spark, cfg).run()
    assert not refused.ok
    r = refused.results[0]
    assert r.status == "failed" and "active writer" in r.error
    assert "etl-job-7" in r.error  # kill advice names the holder
    # Refusal must not have touched the target.
    assert not os.path.exists(os.path.join(target, "clone_region.parquet"))

    # The registry names the holder the gate refused on.
    writers = admission.active_writers(target)
    assert len(writers) == 1
    assert writers[0]["holder"] == "etl-job-7"

    assert admission.release(target, holder="etl-job-7") == 1
    ok = ClonePipeline(spark, cfg).run()
    assert ok.ok and ok.results[0].status == "cloned"


def test_admission_gate_force_overrides(spark, tmp_path):
    from database_cloner_spark.pipeline import admission

    target = str(tmp_path / "forced")
    os.makedirs(target, exist_ok=True)
    admission.acquire(target, holder="stuck-writer", table="clone_nation")
    cfg = CloneConfig(
        source_dir=SF, target_dir=target, tables=["nation"], force=True
    )
    result = ClonePipeline(spark, cfg).run()
    assert result.ok and result.results[0].status == "cloned"
    # force proceeds but does NOT clear the registry.
    assert len(admission.active_writers(target)) == 1


def test_partitioned_clone_bigint_column_verifies(spark, tmp_path):
    """ADVICE r1: partitionBy on an integer-typed column writes it into
    directory names; read-back inference returns int where the source
    was bigint, and xxhash64 is type-sensitive — verification must cast
    back to the source schema instead of reporting a false mismatch."""
    target = str(tmp_path / "bigint_part")
    cfg = CloneConfig(
        source_dir=SF,
        target_dir=target,
        tables=["nation"],
        partition_by={"nation": "n_regionkey"},  # bigint in the source
        parallelism=1,
    )
    result = ClonePipeline(spark, cfg).run()
    assert result.ok
    assert result.results[0].verified is True


_GUARD_SOURCE = pa.table({
    "k": pa.array([1, 2, 3], pa.int32()),
    "v": pa.array(["a", "b", None], pa.string()),
    "z": pa.array([None, None, None], pa.int32()),  # all NULL
})


@pytest.mark.parametrize(
    "written",
    [
        pytest.param(_GUARD_SOURCE.drop_columns(["z"]), id="all_null_column_dropped"),
        pytest.param(
            _GUARD_SOURCE.append_column("extra", pa.array([0, 0, 0], pa.int64())),
            id="extra_column",
        ),
        pytest.param(
            _GUARD_SOURCE.set_column(0, "k", _GUARD_SOURCE.column("k").cast(pa.string())),
            id="int_column_as_digit_strings",
        ),
    ],
)
def test_read_back_guard_fails_a_differing_target(spark, tmp_path, monkeypatch, written):
    """The clone's write is replaced by a hand-built target that differs
    from the source: verification must fail and the table with it. The
    read-back names the source's schema, so a dropped all-NULL column
    must not read back as NULLs, nor digit strings cast back to int."""
    src_dir = tmp_path / "src"
    src_dir.mkdir()
    pq.write_table(_GUARD_SOURCE, str(src_dir / "t.parquet"))
    real_write = DataFrameWriter.parquet

    def write_by_hand(self, path, *args, **kwargs):
        if not os.path.basename(path).startswith("clone_"):
            return real_write(self, path, *args, **kwargs)
        # The real write still runs, elsewhere: it reports the source
        # fingerprint the target is checked against.
        real_write(self, str(tmp_path / "discarded"), *args, **kwargs)
        os.makedirs(path)
        pq.write_table(written, os.path.join(path, "part-00000.parquet"))

    monkeypatch.setattr(DataFrameWriter, "parquet", write_by_hand)
    cfg = CloneConfig(
        source_dir=str(src_dir),
        target_dir=str(tmp_path / "target"),
        tables="t",
        test_user_connections=False,
    )
    result = ClonePipeline(spark, cfg).run()
    (r,) = result.results
    assert not result.ok
    assert r.status == "failed" and r.verified is not True, r
    if set(written.column_names) != set(_GUARD_SOURCE.column_names):
        assert r.verified is False and "column sets differ" in r.error, r
    else:  # the read through the source's schema refuses the strings
        assert "PARQUET_COLUMN_DATA_TYPE_MISMATCH" in r.error, r


def test_passwords_secure_by_default_seeded_on_request():
    """ADVICE r1: default passwords come from the OS CSPRNG (two draws
    differ); a seed is an explicit reproducibility override."""
    from database_cloner_spark.pipeline.principals import make_principals

    a = make_principals("clone_db1", "clone_")
    b = make_principals("clone_db1", "clone_")
    assert a.owner_password != b.owner_password  # 1/62^16 false-fail odds
    assert a.owner_password != a.app_password

    s1 = make_principals("clone_db1", "clone_", seed=7)
    s2 = make_principals("clone_db1", "clone_", seed=7)
    assert s1.owner_password == s2.owner_password
    assert s1.app_password == s2.app_password


def test_skipped_rerun_keeps_recorded_credentials(spark, tmp_path):
    """A rerun that skips an existing clone re-provisions it with the
    passwords the first run recorded, not fresh CSPRNG draws (seed=None)."""
    from database_cloner_spark.pipeline.reports import read_rows

    cfg = CloneConfig(source_dir=SF, target_dir=str(tmp_path / "t"), tables=["region"])

    def credentials():
        principals = sorted(
            tuple(r.values()) for r in read_rows(os.path.join(cfg.target_dir, "_principals"))
        )
        path = os.path.join(cfg.target_dir, "_passwords_clone_region")
        passwords = [r.value for r in spark.read.text(path).collect() if r.value.startswith("Password: ")]
        return principals, passwords

    assert ClonePipeline(spark, cfg).run().results[0].status == "cloned"
    first = credentials()
    assert ClonePipeline(spark, cfg).run().results[0].status == "skipped"
    assert credentials() == first
    assert len(first[0]) == 2 and len(first[1]) == 2


# -- principal probes (clone_databases.sh:480-551, :880-884) ---------------


def test_principal_probes_pass_on_healthy_clone(spark, tmp_path):
    from database_cloner_spark.pipeline import probe

    cfg = CloneConfig(
        source_dir=SF,
        target_dir=str(tmp_path / "probe_ok"),
        tables="region,nation",
        parallelism=2,
        test_user_connections=True,
        lb_host="pg-lb.internal",
    )
    result = ClonePipeline(spark, cfg).run()
    assert result.ok
    frame = spark.read.parquet(os.path.join(cfg.target_dir, "_principal_probes"))
    rows = frame.collect()
    # 2 dbs x (2 connect + 1 dml + 1 ddl + 1 search_path)
    assert len(rows) == 10
    assert all(r.status == "passed" for r in rows)


def test_principal_probe_fails_when_grant_row_missing(spark, tmp_path):
    """VERDICT r2 #6 exit criterion: removing a grant row must fail the
    probe — the queryable twin of 'app user cannot connect via LB'."""
    from pyspark.sql import functions as F

    from database_cloner_spark.pipeline import probe

    cfg = CloneConfig(
        source_dir=SF,
        target_dir=str(tmp_path / "probe_bad"),
        tables="region",
        parallelism=1,
        lb_host="pg-lb.internal",
    )
    result = ClonePipeline(spark, cfg).run()
    assert result.ok

    # Sabotage: drop the app role's CONNECT grant, rewrite _grants.
    gpath = os.path.join(cfg.target_dir, "_grants")
    gr = spark.read.parquet(gpath)
    cut = gr.filter(
        ~((F.col("privilege") == "CONNECT") & F.col("role_name").startswith("app_role_"))
    )
    cut.cache().count()  # materialize before overwriting the source files
    cut.repartition(1).write.mode("overwrite").parquet(gpath + "_new")
    import shutil

    shutil.rmtree(gpath)
    os.rename(gpath + "_new", gpath)

    report = probe.test_user_connections(
        cfg.target_dir, enabled=True, lb_host="pg-lb.internal"
    )
    assert not report.ok
    failed = [r for r in report.rows if r.status == "failed"]
    assert any(r.probe == "connect" and r.severity == "error" for r in failed)


def test_search_path_probe_is_per_database(spark, tmp_path):
    """`SHOW search_path` (:544-548) resolves the app user's schema within
    its OWN database: an owner row of that name filed under another
    target_db must not satisfy it."""
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    from database_cloner_spark.pipeline import probe

    cfg = CloneConfig(
        source_dir=SF,
        target_dir=str(tmp_path / "probe_search_path"),
        tables="region,nation",
        parallelism=2,
        lb_host="pg-lb.internal",
    )
    assert ClonePipeline(spark, cfg).run().ok

    ppath = os.path.join(cfg.target_dir, "_principals")
    rows = pq.read_table(ppath).to_pylist()
    for r in rows:
        if r["user_name"] == "clone_region_user_owner":
            r["target_db"] = "clone_nation"
    shutil.rmtree(ppath)
    os.makedirs(ppath)
    pq.write_table(pa.Table.from_pylist(rows), os.path.join(ppath, "part-00000.parquet"))

    report = probe.test_user_connections(
        cfg.target_dir, enabled=True, lb_host="pg-lb.internal"
    )
    search_path = {r.user_name: r.status for r in report.rows if r.probe == "search_path"}
    assert search_path == {"clone_region_user": "failed", "clone_nation_user": "passed"}


@pytest.fixture(scope="module")
def seeded_clone(spark, tmp_path_factory):
    cfg = CloneConfig(
        source_dir=SF,
        target_dir=str(tmp_path_factory.mktemp("seeded_clone")),
        tables="region",
        parallelism=1,
        lb_host="pg-lb.internal",
        seed=11,
    )
    result = ClonePipeline(spark, cfg).run()
    assert result.ok
    return cfg, result


def test_password_file_bytes(spark, seeded_clone):
    """The password file (clone_databases.sh:447-470) is exactly the
    formatted lines, each newline-terminated, and reads back as them."""
    import glob

    from database_cloner_spark.pipeline.reports import password_file_lines

    cfg, result = seeded_clone
    (p,) = result.principals
    path = os.path.join(cfg.target_dir, f"_passwords_{p.target_db}")
    (part,) = glob.glob(os.path.join(path, "part-*.txt"))
    with open(part, "rb") as fh:
        data = fh.read().decode("utf-8")
    generated_on = data.split("\n")[1].removeprefix("Generated on: ")
    lines = password_file_lines(p, cfg.host, cfg.port, generated_on)
    assert data == "\n".join(lines) + "\n"
    assert [r.value for r in spark.read.text(path).collect()] == lines


def test_metadata_phase_starts_no_spark_job(spark, seeded_clone):
    """Principals, grants, ownership, text reports, the log and the
    probes are a few rows each: writing and probing them runs on the
    driver and must not start a Spark job."""
    from database_cloner_spark.pipeline import principals as prin
    from database_cloner_spark.pipeline import probe, reports

    cfg, result = seeded_clone
    ps, target = result.principals, cfg.target_dir

    def metadata_phase() -> None:
        for name, columns, rows in (
            ("_principals", prin.PRINCIPAL_COLUMNS, prin.principal_rows(ps)),
            ("_grants", prin.GRANT_COLUMNS, prin.grant_rows(ps)),
            ("_ownership", prin.OWNERSHIP_COLUMNS, prin.ownership_rows(ps)),
        ):
            reports.write_rows(os.path.join(target, name), columns, rows)
        reports.write_text_report(
            reports.credential_summary_lines(ps, cfg.host, cfg.port, "2026-01-01 00:00:00"),
            os.path.join(target, "_credential_summary"),
        )
        log = reports.LogSink(os.path.join(target, "_clone_log"))
        log.info("metadata phase probe")
        log.flush()
        report = probe.test_user_connections(target, lb_host="pg-lb.internal")
        assert report.ok and len(report.rows) == 5

    assert jobs_started(spark, metadata_phase) == 0
    # control: jobs from this thread are seen
    assert jobs_started(spark, lambda: spark.range(1).count()) >= 1


def test_write_round_trip_starts_no_job(spark, tmp_path):
    """The clone pre-flight writes its one-row probe, reads it back and
    removes it on the driver: no Spark job."""
    from database_cloner_spark.pipeline import verify

    ok = []
    assert jobs_started(spark, lambda: ok.append(verify.write_round_trip(str(tmp_path)))) == 0
    assert ok == [True]
    assert not os.path.exists(tmp_path / "_write_probe.parquet")


def test_failed_write_probe_refuses_the_clone(spark, tmp_path, monkeypatch):
    """A target namespace that cannot take the probe's write is refused
    before any table is cloned."""
    from database_cloner_spark.pipeline import verify

    def refuse(*args, **kwargs):
        raise OSError("read-only file system")

    monkeypatch.setattr(verify.pq, "write_table", refuse)
    target = tmp_path / "refused"
    cfg = CloneConfig(source_dir=SF, target_dir=str(target), tables="region,nation")
    with pytest.raises(OSError, match="read-only"):
        ClonePipeline(spark, cfg).run()
    assert not [d for d in os.listdir(target) if d.startswith("clone_")]


def test_principal_probe_skip_semantics(spark, tmp_path):
    """TEST_USER_CONNECTIONS=false and unset LB_HOST both skip cleanly."""
    from database_cloner_spark.pipeline import probe

    cfg = CloneConfig(
        source_dir=SF,
        target_dir=str(tmp_path / "probe_skip"),
        tables="region",
        parallelism=1,
        test_user_connections=False,
        lb_host="pg-lb.internal",
    )
    result = ClonePipeline(spark, cfg).run()
    assert result.ok
    assert not os.path.exists(os.path.join(cfg.target_dir, "_principal_probes"))
    log = spark.read.parquet(os.path.join(cfg.target_dir, "_clone_log"))
    assert log.filter("message LIKE '%TEST_USER_CONNECTIONS=false%'").count() == 1

    toggled = probe.test_user_connections(cfg.target_dir, enabled=True, lb_host=None)
    assert toggled.skipped and toggled.ok
    assert "Load balancer not configured" in toggled.skip_reason


def test_ownership_and_default_privileges_metadata(spark, clone_run):
    """CS:406-438 ownership transfer + CS:370-373 default privileges
    must be recorded as queryable metadata."""
    from pyspark.sql import functions as F

    cfg, result = clone_run
    own = spark.read.parquet(os.path.join(cfg.target_dir, "_ownership"))
    rows = {(r.object_name, r.owner) for r in own.collect()}
    for p in result.principals:
        assert (p.target_db, p.owner_user) in rows
    assert own.filter(F.col("object_kind") != "table").count() == 0

    gr = spark.read.parquet(os.path.join(cfg.target_dir, "_grants"))
    dflt = gr.filter(F.col("object_kind").startswith("default:"))
    # 7 default-privilege rules per db (tables CS:364, sequences CS:370,
    # functions CS:373), all granted to the app role
    assert dflt.count() == 7 * len(result.principals)
    assert dflt.filter(~F.col("role_name").startswith("app_role_")).count() == 0
    kinds = {
        (r.object_kind, r.privilege) for r in dflt.collect()
    }
    assert kinds == {
        ("default:tables", "SELECT"),
        ("default:tables", "INSERT"),
        ("default:tables", "UPDATE"),
        ("default:tables", "DELETE"),
        ("default:sequences", "USAGE"),
        ("default:sequences", "SELECT"),
        ("default:functions", "EXECUTE"),
    }


def test_clone_from_orc_source_converts_to_parquet(spark, tmp_path):
    """Mixed-format lake: ClonePipeline pointed at an ORC namespace acts
    as the one-pass distributed converter (SCALE.md rule 7) — auto
    worklist from *.orc, content-verified parquet clones out."""
    from database_cloner_spark.sources.orc import export_orc

    src_dir = str(tmp_path / "orc_ns")
    os.makedirs(src_dir)
    for t in ("region", "nation"):
        export_orc(load(spark, SF, t), os.path.join(src_dir, f"{t}.orc"))

    target = str(tmp_path / "orc_clone_target")
    result = ClonePipeline(
        spark,
        CloneConfig(
            source_dir=src_dir,
            target_dir=target,
            source_format="orc",
            parallelism=2,
            seed=7,
        ),
    ).run()
    assert result.ok and result.total_count == 2
    assert all(r.verified for r in result.results)

    dst = spark.read.parquet(os.path.join(target, "clone_nation.parquet"))
    src = load(spark, SF, "nation")
    assert sorted(dst.collect()) == sorted(src.collect())


def test_mongoexport_clone_runs_largest_first(spark, tmp_path):
    """Largest-first scheduling sizes each source in its own format: a
    mongoexport namespace's <table>.json collections (Spark-written
    directories of parts) put supplier ahead of the smaller region."""
    from database_cloner_spark.sources.json import export_json

    src = tmp_path / "mongo_ns"
    for t in ("region", "supplier"):
        export_json(load(spark, SF, t), str(src / f"{t}.json"))
    cfg = CloneConfig(
        source_dir=str(src),
        target_dir=str(tmp_path / "mongo_out"),
        source_format="mongoexport",
        verify_clone=False,
        parallelism=1,
    )
    result = ClonePipeline(spark, cfg).run()
    assert [r.table for r in result.results] == ["supplier", "region"]


def test_clone_from_mongoexport_source(spark, tmp_path):
    """source_format='mongoexport' (VERDICT r10 item 2): the pipeline
    discovers <table>.json collections, decodes extended-JSON wrappers
    IN the clone pass, and lands typed parquet that verifies."""
    from database_cloner_spark.sources.bson import orders_mongoexport
    import shutil

    src = tmp_path / "mongo_src"
    src.mkdir()
    shutil.copytree(
        orders_mongoexport(spark, SF), src / "orders.json"
    )
    target = str(tmp_path / "mongo_clone")
    cfg = CloneConfig(
        source_dir=str(src),
        target_dir=target,
        source_format="mongoexport",
    )
    result = ClonePipeline(spark, cfg).run()
    assert result.ok and result.total_count == 1
    landed = spark.read.parquet(os.path.join(target, "clone_orders.parquet"))
    dt = dict(landed.dtypes)
    assert dt["placed"] == "timestamp"       # $date decoded
    assert dt["total_cents"] == "bigint"     # $numberLong decoded
    assert dt["payload"] == "binary"         # $binary decoded
    assert landed.count() == load(spark, SF, "orders").count()
