"""Spans around the package's layer entry points, and their join with the
Spark event log.

The tracer patches, from outside the package, the names ``api.py`` looks up
(``discover_files``, ``replay_snapshot``, ``diff_tables``), the functions
those call through module globals (``compute_chunk_spec``,
``merge_into_state_touched``, the manifest listings) and the
``CdcValidator`` methods. Each span records name, start, end, parent span,
thread and op id, and sets the Spark local property ``cdcbench.span`` in
its own thread. PySpark pins each Python thread to a JVM thread, so a job
carries the id of the innermost span open in the thread that submitted it
(``SparkListenerJobStart`` properties). Spans stay in memory; the event log
is read once, after the session stops.

Untraced runs use ``NULL_TRACER``, whose spans do nothing.
"""

from __future__ import annotations

import json
import statistics
import threading
import time
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass, field

SPAN_PROP = "cdcbench.span"


class _NullSpan:
    def __init__(self):
        self.attrs: dict = {}


class NullTracer:
    def span(self, name: str, **attrs):
        return nullcontext(_NullSpan())

    def op(self):
        return nullcontext(_NullSpan())


NULL_TRACER = NullTracer()


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    thread: int
    op: int | None
    t0: float
    t1: float = 0.0
    attrs: dict = field(default_factory=dict)


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.ops: list[Span] = []
        self._stacks: dict[int, list[Span]] = {}
        self._lock = threading.Lock()
        self._op: Span | None = None
        self._patches: list[tuple[object, str, object]] = []

    # ------------------------------------------------------------ spans

    @contextmanager
    def span(self, name: str, **attrs):
        tid = threading.get_ident()
        with self._lock:
            stack = self._stacks.setdefault(tid, [])
            if stack:
                parent = stack[-1]
            else:  # a fan-out worker: the caller is the op thread's top span
                op_stack = self._stacks.get(self._op.thread, []) if self._op else []
                parent = op_stack[-1] if op_stack else self._op
            sp = Span(
                len(self.spans) + 1, name, parent.id if parent else None, tid,
                self._op.id if self._op else None, time.time(), attrs=dict(attrs),
            )
            self.spans.append(sp)
            stack.append(sp)
        prev = self.sc.getLocalProperty(SPAN_PROP)
        self.sc.setLocalProperty(SPAN_PROP, str(sp.id))
        try:
            yield sp
        finally:
            sp.t1 = time.time()
            self.sc.setLocalProperty(SPAN_PROP, prev)
            with self._lock:
                stack.pop()

    @contextmanager
    def op(self):
        """The root span of one timed op."""
        with self.span("op") as sp:
            self._op = sp
            sp.op = sp.id
            self.ops.append(sp)
            try:
                yield sp
            finally:
                self._op = None

    def current(self) -> Span | None:
        stack = self._stacks.get(threading.get_ident())
        return stack[-1] if stack else None

    # ------------------------------------------------------------ patches

    def _patch(self, obj, attr: str, wrapper) -> None:
        self._patches.append((obj, attr, getattr(obj, attr)))
        setattr(obj, attr, wrapper)

    def _wrap(self, fn, name: str, after=None):
        tracer = self

        def wrapper(*args, **kwargs):
            with tracer.span(name) as sp:
                out = fn(*args, **kwargs)
                if after is not None:
                    after(sp, out)
                return out

        wrapper.__wrapped__ = fn
        return wrapper

    def install(self) -> None:
        from rust_cdc_validator_spark import api
        from rust_cdc_validator_spark.operators import diff, state
        from rust_cdc_validator_spark.sources import manifest

        def kept(sp, entries):
            sp.attrs["kept"] = len(entries)

        discover = self._wrap(manifest.discover_files, "manifest.discover", kept)
        self._patch(api, "discover_files", discover)
        self._patch(manifest, "discover_files", discover)  # advance_state's import

        for lister in ("_hadoop_list", "_hadoop_list_date_narrowed"):
            self._patch(manifest, lister, self._counting(getattr(manifest, lister)))

        self._patch(api, "replay_snapshot", self._wrap(api.replay_snapshot, "replay.plan"))

        def diffed(sp, rep):
            sp.attrs["chunks_compared"] = rep.chunks_compared
            sp.attrs["chunks_mismatched"] = len(rep.mismatched_chunks)

        self._patch(api, "diff_tables", self._wrap(api.diff_tables, "diff", diffed))
        self._patch(diff, "compute_chunk_spec", self._wrap(diff.compute_chunk_spec, "diff.spec"))
        self._patch(
            state, "merge_into_state_touched",
            self._wrap(state.merge_into_state_touched, "state.merge"),
        )
        for method in ("snapshot", "snapshot_table", "validate", "advance_state", "advance_states"):
            fn = getattr(api.CdcValidator, method)
            self._patch(api.CdcValidator, method, self._wrap(fn, f"api.{method}"))

    def _counting(self, fn):
        tracer = self

        def wrapper(*args, **kwargs):
            out = fn(*args, **kwargs)
            sp = tracer.current()
            if sp is not None:
                sp.attrs["listed"] = sp.attrs.get("listed", 0) + len(out)
            return out

        return wrapper

    def uninstall(self) -> None:
        for obj, attr, original in reversed(self._patches):
            setattr(obj, attr, original)
        self._patches.clear()


# ---------------------------------------------------------------- event log

_PY_RUN = "time to run Python workers"
_PY_BOOT = "time to start Python workers"
_PY_BYTES = ("data sent to Python workers", "data returned from Python workers")
JOB_FIELDS = (
    "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s", "input_bytes",
    "output_bytes", "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
    "python_run_s", "python_boot_s", "python_bytes",
)
JOB_MAX_FIELDS = ("peak_execution_bytes",)


def read_jobs(event_log: str) -> list[dict]:
    """Jobs of one application's (uncompressed, non-rolling) event log,
    each with its span id, interval and task-metric sums."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    with open(event_log) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                span = (ev.get("Properties") or {}).get(SPAN_PROP)
                job = {
                    "span": int(span) if span else None,
                    "t0": ev["Submission Time"] / 1e3,
                    "t1": ev["Submission Time"] / 1e3,
                    "input_rows": 0,
                    "output_rows": 0,
                    **{k: 0 for k in JOB_FIELDS + JOB_MAX_FIELDS},
                }
                jobs[ev["Job ID"]] = job
                for sid in ev.get("Stage IDs", []):
                    stage_job[sid] = ev["Job ID"]
            elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["t1"] = ev["Completion Time"] / 1e3
            elif kind == "SparkListenerStageCompleted":
                job = jobs.get(stage_job.get(ev["Stage Info"]["Stage ID"]))
                if job is not None:
                    job["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                job = jobs.get(stage_job.get(ev["Stage ID"]))
                if job is not None:
                    _add_task(job, ev)
    return list(jobs.values())


def _add_task(job: dict, ev: dict) -> None:
    tm = ev.get("Task Metrics") or {}
    inp = tm.get("Input Metrics") or {}
    out = tm.get("Output Metrics") or {}
    sw = tm.get("Shuffle Write Metrics") or {}
    sr = tm.get("Shuffle Read Metrics") or {}
    job["tasks"] += 1
    job["executor_run_s"] += tm.get("Executor Run Time", 0) / 1e3
    job["executor_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
    job["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
    job["input_bytes"] += inp.get("Bytes Read", 0)
    job["input_rows"] += inp.get("Records Read", 0)
    job["output_bytes"] += out.get("Bytes Written", 0)
    job["output_rows"] += out.get("Records Written", 0)
    job["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
    job["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    job["spill_bytes"] += tm.get("Disk Bytes Spilled", 0)
    job["peak_execution_bytes"] = max(
        job["peak_execution_bytes"], tm.get("Peak Execution Memory", 0)
    )
    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
        name, upd = acc.get("Name"), acc.get("Update")
        if upd is None:
            continue
        if name == _PY_RUN:
            job["python_run_s"] += int(upd) / 1e3
        elif name == _PY_BOOT:
            job["python_boot_s"] += int(upd) / 1e3
        elif name in _PY_BYTES:
            job["python_bytes"] += int(upd)


# ---------------------------------------------------------------- roll-up


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


class Rollup:
    """Per-op layer metrics from the spans and the jobs joined to them."""

    def __init__(self, tracer: Tracer, jobs: list[dict]):
        self.spans = {s.id: s for s in tracer.spans}
        self.children: dict[int, list[Span]] = {}
        for s in tracer.spans:
            if s.parent is not None:
                self.children.setdefault(s.parent, []).append(s)
        self.jobs_of: dict[int, list[dict]] = {}
        for j in jobs:
            if j["span"] in self.spans:
                self.jobs_of.setdefault(j["span"], []).append(j)
        self.all_jobs = jobs

    def subtree_jobs(self, sp: Span) -> list[dict]:
        out = list(self.jobs_of.get(sp.id, []))
        for c in self.children.get(sp.id, []):
            out += self.subtree_jobs(c)
        return out

    def self_s(self, sp: Span) -> float:
        kids = [(c.t0, c.t1) for c in self.children.get(sp.id, [])]
        return (sp.t1 - sp.t0) - _covered(kids, sp.t0, sp.t1)

    def named(self, op: Span, name: str) -> list[Span]:
        return [s for s in self.spans.values() if s.op == op.id and s.name == name]

    def op_metrics(self, op: Span) -> dict[str, float]:
        m: dict[str, float] = {}

        def dur(name):
            return sum(s.t1 - s.t0 for s in self.named(op, name))

        def jobsum(spans, key):
            return sum(j[key] for s in spans for j in self.subtree_jobs(s))

        def njobs(spans):
            return sum(len(self.subtree_jobs(s)) for s in spans)

        disc = self.named(op, "manifest.discover")
        m["manifest.discover_s"] = dur("manifest.discover")
        m["manifest.files_kept"] = sum(s.attrs.get("kept", 0) for s in disc)
        m["manifest.files_pruned"] = sum(
            s.attrs.get("listed", 0) - s.attrs.get("kept", 0) for s in disc
        )

        plan = self.named(op, "replay.plan")
        write = self.named(op, "bench.snapshot_write")
        m["replay.plan_s"] = dur("replay.plan")
        m["replay.plan_jobs"] = njobs(plan)
        m["replay.exec_s"] = dur("bench.snapshot_write")
        m["replay.input_rows"] = jobsum(write, "input_rows")
        m["replay.shuffle_write_bytes"] = jobsum(write, "shuffle_write_bytes")
        m["replay.output_rows"] = jobsum(write, "output_rows")
        m["replay.bytes_written"] = jobsum(write, "output_bytes")

        m["api.self_s"] = sum(
            self.self_s(s) for s in self.spans.values()
            if s.op == op.id and s.name.startswith("api.")
        )

        diffs = self.named(op, "diff")
        drills = self.named(op, "bench.drill")
        m["diff.s"] = dur("diff")
        m["diff.spec_s"] = dur("diff.spec")
        m["diff.jobs"] = njobs(diffs)
        m["diff.input_bytes"] = jobsum(diffs, "input_bytes")
        m["diff.shuffle_write_bytes"] = jobsum(diffs, "shuffle_write_bytes")
        m["diff.chunks_compared"] = sum(s.attrs.get("chunks_compared", 0) for s in diffs)
        m["diff.chunks_mismatched"] = sum(s.attrs.get("chunks_mismatched", 0) for s in diffs)
        m["diff.drill_s"] = dur("bench.drill")
        m["diff.drill_rows"] = sum(s.attrs.get("rows", 0) for s in drills)
        expected = sum(s.attrs.get("expected", 0) for s in drills)
        m["diff.defects_found_ratio"] = m["diff.drill_rows"] / expected if expected else 0.0

        adv = self.named(op, "api.advance_state")
        m["state.advance_s"] = dur("api.advance_state")
        m["state.merge_s"] = dur("state.merge")
        m["state.jobs"] = njobs(adv)
        m["state.bytes_written"] = jobsum(adv, "output_bytes")
        for key in ("state.delta_rows", "state.buckets_touched_ratio",
                    "state.bytes_carried", "state.write_amp"):
            m[key] = op.attrs.get(key, 0.0)

        # engine totals: every job submitted while the op ran
        jobs = [j for j in self.all_jobs if op.t0 <= j["t0"] <= op.t1]
        m["spark.jobs"] = len(jobs)
        for key in JOB_FIELDS:
            m[f"spark.{key}"] = sum(j[key] for j in jobs)
        for key in JOB_MAX_FIELDS:
            m[f"spark.{key}"] = max((j[key] for j in jobs), default=0)
        m["spark.driver_s"] = (op.t1 - op.t0) - _covered(
            [(j["t0"], j["t1"]) for j in jobs], op.t0, op.t1
        )
        return m

    def summary(self, ops: list[Span]) -> dict[str, float]:
        """Median over ops of each per-op metric."""
        per_op = [self.op_metrics(op) for op in ops]
        return {k: statistics.median(d[k] for d in per_op) for k in per_op[0]}

