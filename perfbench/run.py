"""Benchmark entry point: one workload, one JSON result line.

    python3 perfbench/run.py --workload olap_mix --seed 1 --seconds 12 --trace 0

Run from the root of a checkout of the repository. The run reads the
repository's sf0.01 test fixtures, kept byte for byte under
`perfbench/fixtures/`, starts one Spark session sized to the machine
(`local[nproc]`), sets the workload up
(session start, seeded inputs, expected outputs and one checked warm-up
execution of every operation, all counted in `setup_s`), then runs whole
passes over the workload's operations until `--seconds` have elapsed.

`--trace 0` prints the end-to-end metrics. `--trace 1` alternates traced
and untraced passes and prints the per-layer metrics, with the traced run's
cost as `trace.overhead`; its spans are written to `.bench_run/`.
`--self-test` plants one wrong expectation; the run must then report
`correct: false`. See README.md in this directory for every metric.

Everything the run prints except the result goes to stderr. The last line
on stdout is the result:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {name: {"value", "unit"}}}
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shlex
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback
from collections import defaultdict

from tracing import COUNTERS, SparkCounters, Tracer
from workloads import TRACED_KEYS, WORKLOADS, CloneSync, Ctx

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

FIXTURES = os.path.join(HERE, "fixtures")
SF = "sf0.01"  # fixture scale: 60k lineitem rows; every workload is job-overhead-bound at it
DRIVER_MEMORY = "2g"  # well inside the RAM of a small box; the engine default is 16g


def _log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def _configure(work: str, cpus: int) -> None:
    """Keep every file the run, Spark and the JVM write inside `work`."""
    tmp, local, warehouse = (os.path.join(work, d) for d in ("tmp", "local", "warehouse"))
    for d in (tmp, local, warehouse):
        os.makedirs(d, exist_ok=True)
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ.update(
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=local,
        SPARK_GRAFT_WAREHOUSE=warehouse,
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEMORY,
        SPARK_GRAFT_CPUS=str(cpus),
        PYTHONWARNINGS="ignore::FutureWarning",
        PYSPARK_SUBMIT_ARGS=" ".join(
            [
                "--driver-java-options", shlex.quote(java_opts),
                "--conf", "spark.ui.showConsoleProgress=false",
                "pyspark-shell",
            ]
        ),
    )
    tempfile.tempdir = tmp
    sys.path.insert(0, ROOT)


# -- processes ---------------------------------------------------------------


def _descendants(pid: int) -> set[int]:
    parent: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    parent[int(entry)] = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
    found, frontier = set(), [pid]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p and c not in found]
        found.update(kids)
        frontier.extend(kids)
    return found


def _fixtures() -> str:
    """The fixture directory, after checking every file against its digest."""
    with open(os.path.join(FIXTURES, f"{SF}.sha256")) as fh:
        for line in fh:
            digest, name = line.split()
            with open(os.path.join(FIXTURES, name), "rb") as data:
                if hashlib.sha256(data.read()).hexdigest() != digest:
                    raise RuntimeError(f"fixture {name} does not match its digest")
    return os.path.join(FIXTURES, SF)


def _reset_peak_rss() -> None:
    """Restart this process's VmHWM from its current resident set."""
    with open("/proc/self/clear_refs", "w") as fh:
        fh.write("5")


def _vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _stop_spark() -> None:
    """Stop the session and the JVM, and wait until every process this run
    started (the JVM and its Python workers) has ended."""
    from pyspark import SparkContext

    procs = _descendants(os.getpid())
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001 — a JVM that will not exit is killed below
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + 30
    while procs and time.monotonic() < deadline:
        procs = {p for p in procs if os.path.exists(f"/proc/{p}")}
        time.sleep(0.1)
    for p in procs:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


# -- tracing hooks ---------------------------------------------------------------


def _install_wrappers(tracer) -> None:
    from database_cloner_spark.pipeline import clone, incremental, probe, reports, verify
    from database_cloner_spark.sources import parquet

    engine = [m for n, m in list(sys.modules.items())
              if n == "database_cloner_spark" or n.startswith("database_cloner_spark.")]
    tracer.wrap_everywhere(engine, parquet.load, "sources.load")
    tracer.wrap(clone.ClonePipeline, "_clone_table", "pipeline.clone.table")
    tracer.wrap(verify, "verify_clone", "pipeline.verify")
    tracer.wrap(reports, "write_text_report", "pipeline.reports")
    tracer.wrap(probe, "test_user_connections", "pipeline.probe")
    tracer.wrap(incremental, "changed_chunks", "pipeline.incremental.changed_chunks")


# -- metrics -----------------------------------------------------------------------


def layer_metrics(tracer, n: int, session_s: float, overhead: float) -> dict[str, float]:
    """Per-layer figures from the traced passes, each per pass (totals / n)
    unless it is a ratio. A layer the workload does not reach reads 0."""

    children = tracer.children()
    spans = defaultdict(list)
    for s in tracer.spans:
        spans[s.name].append(s)

    def total(name: str, f=lambda s: s.ms) -> float:
        return sum(f(s) for s in spans[name])

    def ratio(a: float, b: float) -> float:
        return a / b if b else 0.0

    m: dict[str, float] = {"session.start_s": session_s}
    load_ms = total("sources.load")
    m["sources.load.calls"] = len(spans["sources.load"]) / n
    m["sources.load.ms"] = load_ms / n
    m["sources.load.ms_per_call"] = ratio(load_ms, len(spans["sources.load"]))

    m["queries.build_ms"] = total("queries.build") / n
    m["queries.build_jobs"] = total("queries.build", lambda s: s.attrs["spark"]["jobs"]) / n
    m["queries.build_job_ms"] = total("queries.build", lambda s: s.attrs["spark"]["job_ms"]) / n
    m["queries.exec_ms"] = total("queries.exec") / n
    for key in TRACED_KEYS:
        for phase in ("build", "exec"):
            m[f"queries.{key}.{phase}_ms"] = sum(
                s.ms for s in spans[f"queries.{phase}"] if s.attrs["key"] == key) / n

    for c in COUNTERS:
        m[f"spark.{c}"] = total("op", lambda s, c=c: s.attrs["spark"][c]) / n
    m["spark.plan_ms"] = total("spark.plan", lambda s: s.attrs["plan_ms"]) / n

    tables, probes = spans["pipeline.clone.table"], spans["pipeline.probe"]
    metadata_ms = long_pole_ms = 0.0
    for run in spans["pipeline.clone.run"]:
        mine = [t for t in tables if run.start <= t.start <= run.end]
        window = (max(t.end for t in mine) - min(t.start for t in mine)) * 1000 if mine else 0.0
        long_pole_ms += max((t.ms for t in mine), default=0.0)
        metadata_ms += run.ms - window - sum(p.ms for p in probes if run.start <= p.start <= run.end)
    m["pipeline.clone.tables_ms"] = total("pipeline.clone.table") / n
    m["pipeline.clone.long_pole_ms"] = long_pole_ms / n
    m["pipeline.clone.metadata_ms"] = metadata_ms / n
    clone_ops = [s for s in spans["op"] if s.attrs["op"] == "clone"]
    m["pipeline.clone.rows_per_s"] = ratio(
        sum(s.attrs["rows"] for s in clone_ops), total("pipeline.clone.run") / 1000)
    m["pipeline.verify.calls"] = len(spans["pipeline.verify"]) / n
    m["pipeline.verify.ms"] = total("pipeline.verify") / n
    m["pipeline.reports.ms"] = total("pipeline.reports") / n
    m["pipeline.probe.ms"] = total("pipeline.probe") / n

    inc = spans["pipeline.incremental"]
    resync_ops = [s for s in spans["op"] if s.attrs["op"] == "resync"]
    m["pipeline.incremental.fingerprint_ms"] = total("pipeline.incremental.changed_chunks") / n
    m["pipeline.incremental.rewrite_ms"] = sum(tracer.self_ms(s, children) for s in inc) / n
    m["pipeline.incremental.chunks_changed"] = total("pipeline.incremental", lambda s: s.attrs["chunks_changed"]) / n
    m["pipeline.incremental.rewrite_ratio"] = ratio(
        total("pipeline.incremental", lambda s: s.attrs["rows_rewritten"]),
        total("pipeline.incremental", lambda s: s.attrs["changed_rows"]))
    m["pipeline.incremental.rows_per_s"] = ratio(
        sum(s.attrs["rows"] for s in resync_ops), total("pipeline.incremental") / 1000)

    cdc_ops = [s for s in spans["op"] if s.attrs["op"] == "cdc"]
    changes = total("streaming.cdc", lambda s: s.attrs["changes"])
    m["streaming.cdc.ms"] = total("streaming.cdc") / n
    m["streaming.cdc.chunks_touched"] = total("streaming.cdc", lambda s: s.attrs["chunks_touched"]) / n
    m["streaming.cdc.rewrite_ratio"] = ratio(sum(s.attrs.get("rows_rewritten", 0) for s in cdc_ops), changes)
    m["streaming.cdc.changes_per_s"] = ratio(changes, total("streaming.cdc") / 1000)

    drain = f"streaming.ops.{CloneSync.DRAIN}"
    drain_ops = [s for s in spans["op"] if s.attrs["op"] == CloneSync.DRAIN]
    m[f"{drain}.drain_s"] = total(drain) / 1000 / n
    m["streaming.ops.rows_per_s"] = ratio(sum(s.attrs["rows"] for s in drain_ops), total(drain) / 1000)
    m["trace.overhead"] = overhead
    return m


def _declared(trace: bool) -> dict[str, str]:
    """Metric name -> unit, as BENCHMARK.json declares them for this mode."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


# -- the run -------------------------------------------------------------------------


def run(args, work: str) -> dict:
    cpus = len(os.sched_getaffinity(0))
    _configure(work, cpus)
    data_dir = _fixtures()

    tracer = Tracer() if args.trace else None
    counters = None
    tally = {"attempted": 0, "failed": 0}
    python_peak_kb = 0

    def execute(op, label: str, traced: bool = False) -> tuple[float, str | None]:
        """Run one operation, time it and check its output. The Python
        process's peak memory is taken over the run alone, not the check."""
        nonlocal python_peak_kb
        if traced:
            tracer.rid = label
            mark = counters.mark()
            span = tracer.open("op", op=op.name, rows=op.rows)
        err, out = None, None
        _reset_peak_rss()
        t = time.perf_counter()
        try:
            out = op.run()
        except Exception as exc:  # noqa: BLE001 — a failed operation is counted, not fatal
            err = f"{type(exc).__name__}: {exc}"[:300]
        dt = time.perf_counter() - t
        python_peak_kb = max(python_peak_kb, _vm_hwm_kb(os.getpid()))
        if traced:
            tracer.close(span)
            span.attrs["spark"] = counters.since(mark)
        if err is None:
            try:
                err = op.check(out)
            except Exception as exc:  # noqa: BLE001
                err = f"check raised {type(exc).__name__}: {exc}"[:300]
        if traced:
            span.attrs.update(op.stats)
        if err:
            _log(f"{label} failed: {err}")
        return dt, err

    def count(err: str | None) -> None:
        tally["attempted"] += 1
        tally["failed"] += bool(err)

    t0 = time.perf_counter()
    from database_cloner_spark.session import get_spark

    spark = get_spark("perfbench", cpus=str(cpus))
    session_s = time.perf_counter() - t0
    ctx = Ctx(spark, data_dir, work, args.seed, cpus, self_test=args.self_test)
    workload = WORKLOADS[args.workload](ctx)
    workload.setup()
    warm = []
    for op in workload.warmup_ops():
        dt, err = execute(op, f"{args.workload}:warm-up:{op.name}")
        count(err)
        warm.append(f"{op.name} {dt:.2f}")
    setup_s = time.perf_counter() - t0
    python_peak_kb = 0  # the peak counts timed operations only
    _log(f"session {session_s:.2f}s; warm-up: {', '.join(warm)}")
    _log(f"{args.workload}: local[{cpus}], driver heap {DRIVER_MEMORY}, clone parallelism "
         f"{cpus}, fixtures {SF}; set-up {setup_s:.2f}s")

    if args.trace:
        counters = SparkCounters(spark)
    pass_s: dict[bool, list[float]] = {False: [], True: []}
    latency: dict[str, list[float]] = defaultdict(list)
    deadline = time.perf_counter() + args.seconds
    p = 0
    while p < (2 if args.trace else 1) or time.perf_counter() < deadline:
        traced = bool(args.trace) and p % 2 == 0  # traced first: its pass is the colder one
        ops = workload.pass_ops(p)
        if traced:
            _install_wrappers(tracer)
            ctx.tracer, ctx.counters = tracer, counters
        elapsed, shown = 0.0, []
        try:
            for op in ops:
                dt, err = execute(op, f"{args.workload}:{p}:{op.name}", traced)
                count(err)
                elapsed += dt
                shown.append(f"{op.name} {dt:.2f}")
                if not traced:
                    latency[op.name].append(dt)
        finally:
            if traced:
                tracer.unwrap_all()
                ctx.tracer = ctx.counters = None
        pass_s[traced].append(elapsed)
        _log(f"pass {p}{' (traced)' if traced else ''}: {elapsed:.3f}s ({', '.join(shown)})")
        p += 1

    if args.trace:
        overhead = statistics.median(pass_s[True]) / statistics.median(pass_s[False])
        metrics = layer_metrics(tracer, len(pass_s[True]), session_s, overhead)
        tracer.dump(os.path.join(ROOT, ".bench_run", f"trace-{args.workload}-{args.seed}.jsonl"))
    else:
        jvm = spark.sparkContext._gateway.proc.pid
        metrics = {
            "setup_s": setup_s,
            "mix_pass_s": statistics.median(pass_s[False]),
            "op_gmean_ms": 1000 * statistics.geometric_mean(statistics.median(v) for v in latency.values()),
            "peak_rss_mb": (_vm_hwm_kb(jvm) + python_peak_kb) * 1024 / 1e6,
        }
    units = _declared(bool(args.trace))
    if set(units) != set(metrics):
        raise RuntimeError(f"metrics {sorted(metrics)} differ from BENCHMARK.json's {sorted(units)}")
    return {
        "correct": tally["failed"] == 0,
        "attempted": tally["attempted"],
        "failed": tally["failed"],
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true",
                    help="plant one wrong expectation; the result must read correct: false")
    args = ap.parse_args(argv)

    for needed in ("database_cloner_spark/__init__.py", "tests/oracle_harness.py"):
        if not os.path.isfile(os.path.join(ROOT, needed)):
            _log(f"{needed} not found under {ROOT}: run from a checkout of the repository")
            return 2

    result_out = os.fdopen(os.dup(1), "w")
    os.dup2(2, 1)  # the JVM and any stray print go to stderr; stdout carries the result only
    work = os.path.join(ROOT, ".bench_run", f"{args.workload}-{os.getpid()}")
    try:
        result = run(args, work)
    except Exception:  # noqa: BLE001 — no result line: the run failed
        traceback.print_exc()
        return 1
    finally:
        if "pyspark" in sys.modules:
            _stop_spark()
        shutil.rmtree(work, ignore_errors=True)
    result_out.write(json.dumps(result) + "\n")
    result_out.flush()
    return 0


if __name__ == "__main__":
    sys.exit(main())
