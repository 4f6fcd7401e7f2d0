"""Benchmark of the CDC validator's public API on seeded inputs.

    python3 cdcbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run it from the repository root; it imports ``rust_cdc_validator_spark``
from there and exits non-zero without a result if the package is absent.
One process, one Spark session on ``local[4]``, one client in a closed
loop: the next op starts when the previous one has finished and has been
checked. Workloads are in ``workloads.py``.

Phases and what they report:

* set-up: interpreter and Spark start, then ``prepare`` (input generation)
  three times into fresh directories, then ``warm`` (state seeding where
  the workload has state, and one untimed op). ``setup_s`` is Spark start
  + the median ``prepare`` + ``warm``.
* timed loop: ops until their summed wall time reaches ``--seconds`` and
  at least the workload's ``MIN_OPS`` ops have run. Each op's outputs are
  checked after its timer stops; an op that raises or fails its check
  counts as failed.
* ``--trace 0`` prints the end-to-end metrics; ``--trace 1`` wraps the
  layers in spans, records the Spark event log, and prints the per-layer
  metrics (median per op) plus ``trace.op_s_p50``, the traced op median
  (tracing overhead = traced minus untraced ``op_s_p50``).

Every file the run writes (inputs, Spark local and warehouse dirs, Derby
home, event log, temp dirs) lives under ``.cdcbench/<run>/`` in the
working directory, deleted when the run exits.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.
The line before it is a human-readable summary that also gives
``failed_ops_ratio``, ``peak_rss_mb`` (this process plus the JVM during
the timed loop) and, for runs of at least 20 ops, ``op_s_tail`` with its
percentile. The last two are not in the JSON: runs hold too few ops for a
tail, and under the program's own heap policy resident memory follows the
collector's heap sizing, which varies from run to run by more than any
bound a comparison could use.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import traceback


def _process_start() -> float:
    """Wall-clock time this process started, from /proc."""
    with open("/proc/self/stat") as f:
        ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - uptime + ticks / os.sysconf("SC_CLK_TCK")


T_PROCESS = _process_start()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CPUS = 4
SETUP_REPS = 3

UNITS = {
    "setup_s": "s", "op_s_p50": "s", "rows_per_s": "rows/s",
    "trace.op_s_p50": "s",
}


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class PeakRss:
    """Samples the summed resident memory of the given processes."""

    def __init__(self, pids: list[int], period_s: float = 0.02):
        self.pids, self.period_s, self.peak_kb = pids, period_s, 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._sample, daemon=True)

    def _sample(self) -> None:
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, sum(_rss_kb(p) for p in self.pids))
            self._stop.wait(self.period_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


def _isolate(run_dir: str) -> None:
    """Point every temp and scratch location at ``run_dir`` before Spark
    starts (the JVM inherits the environment)."""
    import tempfile

    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "local")
    for d in (tmp, local):
        os.makedirs(d)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    # the driver heap is the program's own default, whatever the caller's
    # environment says
    os.environ.pop("SPARK_DRIVER_MEM", None)
    tempfile.tempdir = None  # re-read TMPDIR


def _spark(workload: str, run_dir: str, trace: bool):
    from rust_cdc_validator_spark.session import get_spark

    conf = {
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
        "spark.driver.extraJavaOptions": (
            f"-Dderby.system.home={os.path.join(run_dir, 'derby')}"
            f" -Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"
        ),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        events = os.path.join(run_dir, "events")
        os.makedirs(events)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file:" + events,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark(f"cdcbench-{workload}", extra_conf=conf)


def _stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _tail(durations: list[float]) -> tuple[str, float] | None:
    """Highest percentile with at least ten ops beyond it (>= 20 ops)."""
    n = len(durations)
    if n < 20:
        return None
    return f"p{100 * (n - 10) / n:.0f}", sorted(durations)[n - 11]


def run(args, run_dir: str) -> dict:
    from cdcbench.trace import NULL_TRACER, Rollup, Tracer, read_jobs
    from cdcbench.workloads import WORKLOADS

    _isolate(run_dir)
    spark = _spark(args.workload, run_dir, args.trace)
    try:
        t_spark = time.time() - T_PROCESS
        tracer = Tracer(spark) if args.trace else NULL_TRACER
        wl = WORKLOADS[args.workload](spark, args.seed, tracer)
        prep = []
        for rep in range(SETUP_REPS):
            root = os.path.join(run_dir, f"inputs{rep}")
            t0 = time.time()
            wl.prepare(root)
            prep.append(time.time() - t0)
            if rep:
                shutil.rmtree(os.path.join(run_dir, f"inputs{rep - 1}"))
        if args.trace:
            tracer.install()
        t0 = time.time()
        warm_errors = wl.warm()
        setup_s = t_spark + statistics.median(prep) + (time.time() - t0)

        jvm_pid = int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
        durations, rows, failed, errors = [], 0, 0, []
        with PeakRss([os.getpid(), jvm_pid]) as rss:
            while sum(durations) < args.seconds or len(durations) < wl.MIN_OPS:
                t0 = time.perf_counter()
                try:
                    with tracer.op() as op_span:
                        res = wl.op()
                    durations.append(time.perf_counter() - t0)
                except Exception:
                    durations.append(time.perf_counter() - t0)
                    failed += 1
                    errors.append(traceback.format_exc())
                    continue
                rows += res.rows
                if args.trace and hasattr(wl, "trace_detail"):
                    op_span.attrs.update(wl.trace_detail(res))
                errs = wl.check(res)
                if errs:
                    failed += 1
                    errors.extend(errs)
        final = wl.final_check()
        if final:
            failed = min(len(durations), failed + 1)
            errors.extend(final)
        if warm_errors:  # every op is checked against a set-up that is wrong
            failed = len(durations)
            errors.extend(f"set-up: {e}" for e in warm_errors)
        for e in errors:
            print(f"CHECK FAILED: {e}", file=sys.stderr)

        out = {
            "attempted": len(durations),
            "failed": failed,
            "correct": failed == 0,
            "durations": durations,
        }
        if not args.trace:
            out["metrics"] = {
                "setup_s": setup_s,
                "op_s_p50": statistics.median(durations),
                "rows_per_s": rows / sum(durations),
            }
            out["info"] = {
                "peak_rss_mb": round(rss.peak_kb / 1024.0, 1),
                "spark_s": t_spark, "prepare_s": prep,
            }
            return out
        tracer.uninstall()
        app_id = spark.sparkContext.applicationId
        events = os.path.join(run_dir, "events")
    finally:
        _stop_spark(spark)
    rollup = Rollup(tracer, read_jobs(os.path.join(events, app_id)))
    metrics = rollup.summary(tracer.ops)
    metrics["trace.op_s_p50"] = statistics.median(durations)
    out["metrics"] = metrics
    return out


def _terminate(signum, frame) -> None:
    """A terminated run still stops its JVM and removes its directory;
    a second signal must not interrupt that clean-up."""
    signal.signal(signal.SIGTERM, signal.SIG_IGN)
    sys.exit(128 + signum)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    args.trace = bool(args.trace)

    if not os.path.isfile(os.path.join(ROOT, "rust_cdc_validator_spark", "__init__.py")):
        print(f"rust_cdc_validator_spark not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from cdcbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        p.error(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    run_dir = os.path.join(os.getcwd(), ".cdcbench", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(run_dir)
    signal.signal(signal.SIGTERM, _terminate)
    try:
        out = run(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_dir))
        except OSError:
            pass

    durations = out.pop("durations")
    if not args.trace:
        tail = _tail(durations)
        tail_s = f"op_s_tail({tail[0]})={tail[1]:.4f}s" if tail else "op_s_tail=n/a(<20 ops)"
        m = out["metrics"]
        print(
            f"{args.workload} seed={args.seed}: ops={len(durations)} "
            f"failed_ops_ratio={out['failed'] / max(1, len(durations)):.4f} "
            f"setup_s={m['setup_s']:.3f}s op_s_p50={m['op_s_p50']:.4f}s {tail_s} "
            f"rows_per_s={m['rows_per_s']:.1f}rows/s "
            f"{json.dumps(out.pop('info'))} "
            f"op_s={[round(d, 3) for d in durations]}"
        )
    else:
        print(f"{args.workload} seed={args.seed}: traced ops={len(durations)} "
              f"op_s={[round(d, 3) for d in durations]}")
    units = lambda k: UNITS.get(k) or _layer_unit(k)  # noqa: E731
    result = {
        "correct": out["correct"],
        "attempted": out["attempted"],
        "failed": out["failed"],
        "metrics": {k: {"value": v, "unit": units(k)} for k, v in out["metrics"].items()},
    }
    print(json.dumps(result))
    return 0


def _layer_unit(name: str) -> str:
    if "bytes" in name:
        return "bytes"
    if name.endswith(("_s", ".s")):
        return "s"
    if name.endswith(("_ratio", "write_amp")):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
