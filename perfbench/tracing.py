"""Tracing for the benchmark's traced run, recorded from outside the engine.

Nothing in the engine is edited. Spans are opened by the benchmark itself,
either around its own calls into a layer or by temporarily rebinding a
layer's public function (`Tracer.wrap`) and putting the original back
when the run ends. Spark-side counts come from the application status
store, which Spark keeps whether or not the UI runs.

A span is (name, start, end, parent, request id). A layer's self time is
its span minus the part of that interval its child spans cover. Spans stay
in memory and are written out once, when the run ends.
"""

from __future__ import annotations

import json
import re
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    rid: str
    parent: int | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


class Tracer:
    """In-memory span recorder.

    Spans opened on the benchmark's thread nest through a stack. A span
    opened on another thread (the clone pipeline's table pool) with no
    open span of its own takes the innermost span open on the benchmark's
    thread as its parent, so per-table work lands under the clone run."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.rid = ""
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main = threading.get_ident()
        self._main_stack: list[Span] = []
        self._patches: list[tuple[object, str, object]] = []

    def _stack(self) -> list[Span]:
        if threading.get_ident() == self._main:
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def open(self, name: str, **attrs) -> Span:
        stack = self._stack()
        parent = stack[-1] if stack else (self._main_stack[-1] if self._main_stack else None)
        with self._lock:
            span = Span(len(self.spans), name, self.rid, parent.id if parent else None,
                        time.perf_counter(), attrs=attrs)
            self.spans.append(span)
        stack.append(span)
        return span

    def close(self, span: Span) -> None:
        span.end = time.perf_counter()
        stack = self._stack()
        if stack and stack[-1] is span:
            stack.pop()

    @contextmanager
    def span(self, name: str, **attrs):
        span = self.open(name, **attrs)
        try:
            yield span
        finally:
            self.close(span)

    def wrap(self, owner: object, attr: str, name: str) -> None:
        """Rebind `owner.attr` to a traced wrapper until `unwrap_all`."""
        original = getattr(owner, attr)
        tracer = self

        def traced(*args, **kwargs):
            with tracer.span(name):
                return original(*args, **kwargs)

        setattr(owner, attr, traced)
        self._patches.append((owner, attr, original))

    def wrap_everywhere(self, modules: list, function, name: str) -> None:
        """Rebind `function` in every module that imported it by name."""
        for mod in modules:
            for attr, value in list(vars(mod).items()):
                if value is function:
                    self.wrap(mod, attr, name)

    def unwrap_all(self) -> None:
        for owner, attr, original in reversed(self._patches):
            setattr(owner, attr, original)
        self._patches.clear()

    def children(self) -> dict[int, list[Span]]:
        out: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                out.setdefault(s.parent, []).append(s)
        return out

    def self_ms(self, span: Span, children: dict[int, list[Span]]) -> float:
        """Span duration minus the union of its children's intervals."""
        covered, cur_lo, cur_hi = 0.0, None, None
        for c in sorted(children.get(span.id, []), key=lambda c: c.start):
            lo, hi = max(c.start, span.start), min(c.end, span.end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        return span.ms - covered * 1000.0

    def dump(self, path: str) -> None:
        children = self.children()
        with open(path, "w") as fh:
            for s in self.spans:
                row = asdict(s)
                row["self_ms"] = round(self.self_ms(s, children), 3)
                fh.write(json.dumps(row) + "\n")


_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_SIZE_RE = re.compile(r"([\d.,]+) (B|KiB|MiB|GiB|TiB)")


def _metric_number(text: str, metric_type: str) -> float:
    """Parse a SQL metric as the status store formats it. Sums read
    `12,345`; sizes read `total (...)\\n438.9 KiB (...)` (3 digits)."""
    if metric_type == "size":
        m = _SIZE_RE.search(text)
        return float(m.group(1).replace(",", "")) * _SIZE_UNITS[m.group(2)] if m else 0.0
    m = re.search(r"[\d,]+", text.splitlines()[-1])
    return float(m.group(0).replace(",", "")) if m else 0.0


# Status-store figures summed per call; `since` also returns `job_ms`.
COUNTERS = ("jobs", "stages", "tasks", "executor_run_ms", "executor_cpu_ms",
            "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
            "python_rows", "python_bytes")


class SparkCounters:
    """Deltas of the Spark status store between two marks.

    The benchmark is one closed-loop client, so every job, stage and SQL
    execution whose id falls between two marks was caused by the call
    made between them, whichever thread submitted it (the clone pool,
    the streaming query thread, or the benchmark's own thread).

    The store is filled from the listener bus, asynchronously. Spark posts
    a job's end event before the action returns, so `mark` and `since`
    first wait until the bus is empty: every event of a call that has
    returned is then in the store. Call them outside timed spans."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self._bus = sc._jsc.sc().listenerBus()
        self._store = sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._no_tasks = sc._jvm.java.util.Collections.emptyList()
        self._no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)

    def mark(self) -> tuple[int, int]:
        self._bus.waitUntilEmpty()
        jobs = self._store.jobsList(None)  # newest first
        last_job = jobs.apply(0).jobId() if jobs.size() else -1
        n_exec = self._sql.executionsCount()
        execs = self._sql.executionsList(n_exec - 1, 1) if n_exec else None
        last_exec = execs.apply(0).executionId() if execs is not None and execs.size() else -1
        return last_job, last_exec

    def since(self, mark: tuple[int, int], until: tuple[int, int] | None = None) -> dict:
        until = until or (1 << 62, 1 << 62)
        self._bus.waitUntilEmpty()
        out = dict.fromkeys(("job_ms", *COUNTERS), 0.0)
        jobs = self._store.jobsList(None)
        seen: set[int] = set()  # a stage shared by two jobs counts once
        for i in range(jobs.size()):
            job = jobs.apply(i)
            jid = job.jobId()
            if jid <= mark[0]:
                break
            if jid > until[0]:
                continue
            out["jobs"] += 1
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                out["job_ms"] += done.get().getTime() - sub.get().getTime()
            stage_ids = job.stageIds()
            for k in range(stage_ids.size()):
                sid = stage_ids.apply(k)
                if sid in seen:
                    continue
                seen.add(sid)
                attempts = self._store.stageData(sid, False, self._no_tasks, False, self._no_quantiles)
                for a in range(attempts.size()):
                    st = attempts.apply(a)
                    if str(st.status()) == "SKIPPED":
                        continue
                    out["stages"] += 1
                    out["tasks"] += st.numCompleteTasks()
                    out["executor_run_ms"] += st.executorRunTime()
                    out["executor_cpu_ms"] += st.executorCpuTime() / 1e6
                    out["shuffle_read_bytes"] += st.shuffleReadBytes()
                    out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                    out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        self._python_metrics(mark[1], until[1], out)
        return out

    def _python_metrics(self, after: int, until: int, out: dict) -> None:
        """Rows returned by, and bytes exchanged with, Python workers: the
        SQL metrics of every plan node that talks to a Python worker."""
        execs = self._sql.executionsList()  # oldest first
        for i in range(execs.size() - 1, -1, -1):
            eid = execs.apply(i).executionId()
            if eid <= after:
                break
            if eid > until:
                continue
            values = self._sql.executionMetrics(eid)
            nodes = self._sql.planGraph(eid).allNodes()
            for n in range(nodes.size()):
                metrics = nodes.apply(n).metrics()
                names = [metrics.apply(k).name() for k in range(metrics.size())]
                if "data returned from Python workers" not in names:
                    continue
                rows_seen = False
                for k in range(metrics.size()):
                    m = metrics.apply(k)
                    v = values.get(m.accumulatorId())
                    if not v.isDefined():
                        continue
                    if m.name() in ("data sent to Python workers", "data returned from Python workers"):
                        out["python_bytes"] += _metric_number(v.get(), "size")
                    elif m.name() == "number of output rows" and not rows_seen:
                        rows_seen = True
                        out["python_rows"] += _metric_number(v.get(), "sum")


def plan_ms(df) -> float:
    """Analysis + optimization + planning time of a DataFrame's own query
    execution, as its phase tracker records them. Forces planning."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    total = 0.0
    for phase in ("analysis", "optimization", "planning"):
        p = phases.get(phase)
        if p.isDefined():
            total += p.get().durationMs()
    return total
