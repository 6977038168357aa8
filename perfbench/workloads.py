"""The benchmark's workloads.

A workload is a list of operations run as passes. Before timing starts,
`setup` seeds inputs and computes expected outputs, and the operations of
`warmup_ops` run once, checked. `pass_ops(p)` gives the operations of
timed pass `p`, each with an untimed check of its output.

The workload seed drives the per-pass key order (olap_mix) and the drifted
chunks and CDC change sets (clone_sync). The engine receives only the
fixture tables and the generated inputs, as parquet files; the generated
ones are written under the run's work directory.
"""

from __future__ import annotations

import os
import random
import shutil
import uuid
from collections.abc import Callable
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from tracing import SparkCounters, Tracer, plan_ms

# bench.py's HEADLINE keys as of this benchmark's first version, pinned
# here so that an edit to bench.py cannot silently change the workload.
HEADLINE = (
    "q1_pricing_summary",
    "q_agg_count_by_group",
    "q_agg_rollup",
    "q_agg_distinct",
    "q_sort",
    "q_topk",
    "q_filter_conj",
    "q_union_append",
    "q_except_diff",
    "q_scan_document",
    "q_join_multiway",
    "q_join_asof",
    "q_win_rownum_dedup",
    "q_dedup_exact",
    "q_dedup_minhash",
    "q_sim_topk",
    "q_corr_subquery",
    "q_sample_split",
)
# Keys whose build and execution times the traced run reports one by one.
TRACED_KEYS = ("q1_pricing_summary", "q_filter_conj", "q_join_multiway", "q_dedup_minhash")

RESYNC_CHUNKS = 256  # incremental_clone's default chunk count
DRIFT_CHUNKS = 4  # chunks whose rows change before each re-sync
DRIFT_ROW_SHARE = 0.25  # of their rows; a re-sync still rewrites whole chunks
CDC_UPSERT_SHARE = 0.01
CDC_DELETE_SHARE = 0.005
CDC_INSERT_SHARE = 0.003
CDC_DOUBLE_UPDATES = 10  # keys changed twice in one batch; the later seq must win


@dataclass
class Op:
    """One timed operation. `run` is timed; `check(result)` is not, and
    returns None when the output is right, else what was wrong."""

    name: str
    run: Callable[[], object]
    check: Callable[[object], str | None]
    rows: int = 0  # rows the operation moves, for rows-per-second figures
    stats: dict = field(default_factory=dict)  # filled by `check`


@dataclass
class Ctx:
    spark: object
    data_dir: str
    work_dir: str
    seed: int
    cpus: int
    tracer: Tracer | None = None
    counters: SparkCounters | None = None
    self_test: bool = False


# -- olap_mix ----------------------------------------------------------------


class OlapMix:
    """The 18 headline query keys, each a builder call plus a `noop` sink.
    Checked once against the DuckDB oracle during set-up."""

    name = "olap_mix"
    keys = HEADLINE

    def __init__(self, ctx: Ctx):
        from database_cloner_spark.registry import specs

        self.ctx = ctx
        self.specs = specs()

    def setup(self) -> None:
        pass

    def warmup_ops(self) -> list[Op]:
        """Every key once through the DuckDB oracle comparison, which raises
        on a wrong result."""
        from tests.oracle_harness import compare_query

        ops = []
        for i, key in enumerate(self.keys):
            spec = self.specs[key]
            oracle = spec.oracle
            if self.ctx.self_test and i == 0:
                oracle = f"SELECT * FROM ({oracle}) AS wrong LIMIT 1"
            ops.append(Op(key, lambda s=spec, o=oracle: compare_query(
                self.ctx.spark, s.name, s.builder, o, self.ctx.data_dir), lambda _out: None))
        return ops

    def pass_ops(self, p: int) -> list[Op]:
        order = list(self.keys)
        random.Random(f"{self.ctx.seed}:{p}").shuffle(order)
        return [Op(k, self._runner(k), lambda _out: None) for k in order]

    def _runner(self, key: str) -> Callable[[], object]:
        ctx, builder = self.ctx, self.specs[key].builder

        def run():
            if ctx.tracer is None:
                builder(ctx.spark, ctx.data_dir).write.format("noop").mode("overwrite").save()
                return None
            m0 = ctx.counters.mark()
            with ctx.tracer.span("queries.build", key=key) as build:
                df = builder(ctx.spark, ctx.data_dir)
            m1 = ctx.counters.mark()
            build.attrs["spark"] = ctx.counters.since(m0, m1)
            with ctx.tracer.span("spark.plan", key=key) as plan:
                plan.attrs["plan_ms"] = plan_ms(df)
            m2 = ctx.counters.mark()
            with ctx.tracer.span("queries.exec", key=key) as ex:
                df.write.format("noop").mode("overwrite").save()
            ex.attrs["spark"] = ctx.counters.since(m2)
            return None

        return run


# -- clone_sync ----------------------------------------------------------------


def _canonical(table: pa.Table) -> pa.Table:
    """Order-, layout- and timezone-insensitive form of a table: columns by
    name, timestamps as epoch integers, rows sorted on every scalar column."""
    cols = {}
    for name in sorted(table.column_names):
        col = table.column(name).combine_chunks()
        if pa.types.is_timestamp(col.type):
            col = col.cast(pa.timestamp("us")).cast(pa.int64())
        elif pa.types.is_dictionary(col.type):
            col = col.cast(col.type.value_type)
        elif pa.types.is_list(col.type) or pa.types.is_large_list(col.type):
            col = col.cast(pa.list_(col.type.value_type))
        cols[name] = col
    out = pa.table(cols)
    keys = [(n, "ascending") for n in out.column_names if not pa.types.is_list(out.schema.field(n).type)]
    return out.sort_by(keys)


def _same(got: pa.Table, want: pa.Table) -> str | None:
    got, want = _canonical(got), _canonical(want)
    if got.column_names != want.column_names:
        return f"columns {got.column_names} != {want.column_names}"
    if got.num_rows != want.num_rows:
        return f"{got.num_rows} rows, expected {want.num_rows}"
    for name in got.column_names:
        if not got.column(name).equals(want.column(name)):
            return f"column {name} differs"
    return None


def _read_chunked(path: str) -> pa.Table:
    """A chunk-partitioned parquet target, with its chunk column. The chunk
    directories start with `_`, which pyarrow skips unless told not to."""
    return pq.read_table(path, partitioning="hive", ignore_prefixes=[".", "_SUCCESS"])


class CloneSync:
    """The write side: a full clone of the namespace, a re-sync after a
    seeded drift, a seeded CDC batch, and a stateful stream drain."""

    name = "clone_sync"
    DRAIN = "user_sessions_stream"  # the stateful sessionizer: state store plus Python workers

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.inputs = os.path.join(ctx.work_dir, "inputs")
        self.resync_target = os.path.join(ctx.work_dir, "resync_target")
        self.cdc_target = os.path.join(ctx.work_dir, "cdc_target")
        os.makedirs(self.inputs, exist_ok=True)
        self.source = {
            f[: -len(".parquet")]: pq.read_table(os.path.join(ctx.data_dir, f))
            for f in sorted(os.listdir(ctx.data_dir))
            if f.endswith(".parquet")
        }

    # set-up -----------------------------------------------------------------

    def setup(self) -> None:
        """Compute the drain's expected output with its batch twin."""
        from database_cloner_spark.sources import load
        from database_cloner_spark.streaming import ops

        events = load(self.ctx.spark, self.ctx.data_dir, "events")
        self.twins = {
            (r.user_id, r.session_idx): (r.n_events, r.duration_us, r.start_us)
            for r in ops.user_sessions_batch(events).collect()
        }

    def warmup_ops(self) -> list[Op]:
        """Seed the re-sync and CDC targets and run the drain. Seeding runs
        the parquet write and fingerprint paths the clone shares. The clone
        itself is not warmed up: a warm-up clone would add about 10 s to
        every run, and the run budget has no room for it."""
        return [self._seed_resync_op(), self._seed_cdc_op(), self._drain_op()]

    def _seed_resync_op(self) -> Op:
        from database_cloner_spark.pipeline import incremental
        from database_cloner_spark.sources import load

        ctx = self.ctx
        self.lineitem = self.source["lineitem"]

        def run():
            src = load(ctx.spark, ctx.data_dir, "lineitem")
            return incremental.incremental_clone(ctx.spark, src, self.resync_target, "l_orderkey")

        def check(_rep) -> str | None:
            # A full write commits with a _SUCCESS marker; the re-syncs that
            # follow read its absence as "no target" and copy in full again.
            if not os.path.exists(os.path.join(self.resync_target, "_SUCCESS")):
                return "re-sync target has no _SUCCESS marker"
            seeded = _read_chunked(self.resync_target)
            # Which chunk each lineitem row landed in, so that a drift can be
            # confined to a few chunks.
            chunk_of = dict(zip(seeded.column("l_orderkey").to_pylist(),
                                seeded.column(incremental.CHUNK_COL).to_pylist()))
            self.line_chunk = np.array(
                [chunk_of[k] for k in self.lineitem.column("l_orderkey").to_pylist()], dtype=np.int64)
            return _same(seeded.drop_columns([incremental.CHUNK_COL]), self.lineitem)

        return Op("seed_resync", run, check, rows=self.lineitem.num_rows)

    def _seed_cdc_op(self) -> Op:
        from database_cloner_spark.pipeline.incremental import CHUNK_COL
        from database_cloner_spark.sources import load
        from database_cloner_spark.streaming.cdc import apply_cdc_batch

        ctx = self.ctx
        orders = self.source["orders"]
        first = orders.append_column("op", pa.array(["upsert"] * orders.num_rows)).append_column(
            "seq", pa.array(np.ones(orders.num_rows, dtype=np.int64)))
        pq.write_table(first, os.path.join(self.inputs, "cdc_initial.parquet"))
        self.orders = orders.to_pandas().set_index("o_orderkey", drop=False)

        def run():
            return apply_cdc_batch(load(ctx.spark, self.inputs, "cdc_initial"), self.cdc_target, "o_orderkey")

        def check(_rep) -> str | None:
            return _same(_read_chunked(self.cdc_target).drop_columns([CHUNK_COL]), orders)

        return Op("seed_cdc", run, check, rows=orders.num_rows)

    # one pass -----------------------------------------------------------------

    def pass_ops(self, p: int) -> list[Op]:
        rng = np.random.default_rng([self.ctx.seed, p + 1])
        return [
            self._clone_op(p),
            self._resync_op(p, rng),
            self._cdc_op(p, rng),
            self._drain_op(),
        ]

    def _clone_op(self, p: int) -> Op:
        from database_cloner_spark.pipeline.clone import CloneConfig, ClonePipeline

        ctx, source = self.ctx, self.source
        target = os.path.join(ctx.work_dir, f"clone_{p + 1}")
        cfg = CloneConfig(
            source_dir=ctx.data_dir,
            target_dir=target,
            verify_clone=True,
            overwrite=True,
            seed=ctx.seed,
            parallelism=ctx.cpus,
            lb_host="lb.invalid",  # enables the principal probes; nothing connects
        )

        def run():
            pipeline = ClonePipeline(ctx.spark, cfg)
            if ctx.tracer is None:
                return pipeline.run()
            with ctx.tracer.span("pipeline.clone.run"):
                return pipeline.run()

        def check(run) -> str | None:
            try:
                if not run.ok:
                    return f"clone run not ok: {[(r.table, r.status, r.error) for r in run.results]}"
                for r in run.results:
                    if r.status != "cloned" or r.verified is not True:
                        return f"{r.table}: status {r.status}, verified {r.verified}"
                    src = source[r.table]
                    if r.rows != src.num_rows:
                        return f"{r.table}: {r.rows} rows cloned, source has {src.num_rows}"
                    bad = _same(pq.read_table(os.path.join(target, f"{cfg.db_prefix}{r.table}.parquet")), src)
                    if bad:
                        return f"{r.table}: {bad}"
                if len(run.results) != len(source):
                    return f"{len(run.results)} tables cloned, expected {len(source)}"
                return None
            finally:
                shutil.rmtree(target, ignore_errors=True)

        return Op("clone", run, check, rows=sum(t.num_rows for t in source.values()))

    def _resync_op(self, p: int, rng: np.random.Generator) -> Op:
        from database_cloner_spark.pipeline import incremental
        from database_cloner_spark.sources import load

        ctx = self.ctx
        drift = rng.choice(RESYNC_CHUNKS, DRIFT_CHUNKS, replace=False)
        hit = np.isin(self.line_chunk, drift) & (rng.random(len(self.line_chunk)) < DRIFT_ROW_SHARE)
        drifted = len(np.unique(self.line_chunk[hit]))
        qty = self.lineitem.column("l_quantity").to_numpy() + hit
        new = self.lineitem.set_column(
            self.lineitem.column_names.index("l_quantity"), "l_quantity", pa.array(qty))
        src_dir = os.path.join(self.inputs, f"resync_{p + 1}")
        os.makedirs(src_dir, exist_ok=True)
        pq.write_table(new, os.path.join(src_dir, "lineitem.parquet"))
        changed_rows = int(hit.sum())
        self.lineitem = new

        def run():
            src = load(ctx.spark, src_dir, "lineitem")
            if ctx.tracer is None:
                return incremental.incremental_clone(ctx.spark, src, self.resync_target, "l_orderkey")
            with ctx.tracer.span("pipeline.incremental", changed_rows=changed_rows) as span:
                rep = incremental.incremental_clone(ctx.spark, src, self.resync_target, "l_orderkey")
            span.attrs.update(chunks_changed=rep["changed"], rows_rewritten=rep["rows_rewritten"])
            return rep

        def check(rep) -> str | None:
            if rep["mode"] != "incremental" or rep["changed"] != drifted:
                return f"re-sync report {rep}, expected {drifted} changed chunks"
            got = _read_chunked(self.resync_target).drop_columns([incremental.CHUNK_COL])
            return _same(got, new)

        return Op("resync", run, check, rows=new.num_rows)

    def _cdc_op(self, p: int, rng: np.random.Generator) -> Op:
        from database_cloner_spark.pipeline.incremental import CHUNK_COL
        from database_cloner_spark.sources import load
        from database_cloner_spark.streaming.cdc import apply_cdc_batch

        ctx = self.ctx
        live = self.orders
        n = len(live)
        picked = rng.choice(live.index.to_numpy(), int(n * (CDC_UPSERT_SHARE + CDC_DELETE_SHARE)), replace=False)
        n_up = int(n * CDC_UPSERT_SHARE)
        ups = live.loc[picked[:n_up]].copy()
        ups["o_totalprice"] = (ups["o_totalprice"] + 1.0).round(2)
        dels = live.loc[picked[n_up:]].copy()
        new_keys = int(live.index.max()) + 1 + np.arange(int(n * CDC_INSERT_SHARE))
        ins = live.loc[rng.choice(live.index.to_numpy(), len(new_keys))].copy()
        ins["o_orderkey"] = new_keys
        ins.index = new_keys
        twice = ups.iloc[:CDC_DOUBLE_UPDATES].copy()
        twice["o_totalprice"] = (twice["o_totalprice"] + 0.5).round(2)
        seq = 10 * (p + 2)
        batch = [
            ups.assign(op="upsert", seq=seq),
            dels.assign(op="delete", seq=seq),
            ins.assign(op="upsert", seq=seq),
            twice.assign(op="upsert", seq=seq + 1),
        ]
        batch_df = pd.concat(batch, ignore_index=True)
        name = f"cdc_{p + 1}"
        pq.write_table(pa.Table.from_pandas(batch_df, preserve_index=False), os.path.join(self.inputs, f"{name}.parquet"))
        expected = live.drop(index=dels.index)
        final_ups = pd.concat([ups, ins])
        final_ups.loc[twice.index, "o_totalprice"] = twice["o_totalprice"]
        expected = pd.concat([expected.drop(index=final_ups.index, errors="ignore"), final_ups])
        self.orders = expected
        want = pa.Table.from_pandas(
            expected.iloc[1:] if ctx.self_test else expected, preserve_index=False)
        stats: dict = {}

        def run():
            batch = load(ctx.spark, self.inputs, name)
            if ctx.tracer is None:
                return apply_cdc_batch(batch, self.cdc_target, "o_orderkey")
            with ctx.tracer.span("streaming.cdc", changes=len(batch_df)) as span:
                rep = apply_cdc_batch(batch, self.cdc_target, "o_orderkey")
            span.attrs["chunks_touched"] = len(rep["touched"])
            return rep

        def check(rep) -> str | None:
            got = _read_chunked(self.cdc_target)
            touched = pc.is_in(got.column(CHUNK_COL).cast(pa.int64()), pa.array(rep["touched"], pa.int64()))
            stats["rows_rewritten"] = int(pc.sum(touched).as_py() or 0)
            return _same(got.drop_columns([CHUNK_COL]), want)

        return Op("cdc", run, check, rows=len(batch_df), stats=stats)

    def _drain_op(self) -> Op:
        from database_cloner_spark.streaming import events_stream, ops

        ctx = self.ctx
        query_name = f"drain_{uuid.uuid4().hex[:12]}"

        def drain():
            q = (
                ops.user_sessions_stream(events_stream(ctx.spark, ctx.data_dir))
                .writeStream.outputMode("update")
                .format("memory")
                .queryName(query_name)
                .trigger(availableNow=True)
                .start()
            )
            try:
                q.processAllAvailable()
            finally:
                q.stop()

        def run():
            if ctx.tracer is None:
                return drain()
            with ctx.tracer.span(f"streaming.ops.{self.DRAIN}"):
                return drain()

        def check(_out) -> str | None:
            try:
                rows = ctx.spark.table(query_name).collect()
            finally:
                ctx.spark.catalog.dropTempView(query_name)
            got: dict = {}
            for r in rows:  # latest emission per session: n_events only grows
                k = (r.user_id, r.session_idx)
                if k not in got or r.n_events > got[k][0]:
                    got[k] = (r.n_events, r.duration_us, r.start_us)
            return None if got == self.twins else f"{self.DRAIN} differs from its batch twin"

        return Op(self.DRAIN, run, check, rows=self.source["events"].num_rows)


WORKLOADS = {w.name: w for w in (OlapMix, CloneSync)}
