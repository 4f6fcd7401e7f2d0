"""Collect benchmark runs, and compare a parent's runs with a change's.

Collect (from the root of each checkout; appends one JSON line per run,
each run as long as ``run_seconds`` in ``BENCHMARK.json``):

    python3 cdcbench/compare.py collect --out parent.jsonl \\
        --workload state_advance --seeds 1-10 --trace both

Compare:

    python3 cdcbench/compare.py report parent.jsonl change.jsonl

For each workload and end-to-end metric the report prints both sides'
median and quartiles, the share of same-seed pairs the change won (ties
count for neither side), and a verdict under the bounds in
``BENCHMARK.json``:

* improved   -- the change won at least 90% of the pairs and the medians
  differ by more than the parent's interquartile range;
* worse      -- the change's median is worse than the parent's by more
  than the bound;
* unresolved -- the parent's own spread (IQR / median) exceeds the bound,
  unless every change run beats every parent run;
* unchanged  -- otherwise.

Every row also gives the failed ops of both sides (summed over the
workload's runs). When the change fails more ops than the parent, every
verdict of that workload is ``worse``: a gain does not count when more ops
fail. ``collect`` stops at the first run whose outputs are not correct.

Under each row it prints the per-layer metrics (traced runs) whose median
moved most, so a claimed saving can be located in a layer, and the tracing
overhead (traced minus untraced ``op_s_p50``).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
from collections import defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TOP_LAYERS = 6              # per-layer rows shown under each workload


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def collect(args) -> int:
    traces = {"0": [0], "1": [1], "both": [0, 1]}[args.trace]
    seconds = _spec()["run_seconds"]
    with open(args.out, "a") as out:
        for seed in _seeds(args.seeds):
            for trace in traces:
                cmd = [
                    sys.executable, os.path.join(ROOT, "cdcbench", "run.py"),
                    "--workload", args.workload, "--seed", str(seed),
                    "--seconds", str(seconds), "--trace", str(trace),
                ]
                proc = subprocess.run(cmd, capture_output=True, text=True, timeout=300)
                lines = proc.stdout.strip().splitlines()
                if proc.returncode != 0 or not lines:
                    print(f"seed {seed} trace {trace}: exit {proc.returncode}\n"
                          f"{proc.stderr[-2000:]}", file=sys.stderr)
                    return 1
                rec = {"workload": args.workload, "seed": seed, "trace": trace,
                       "result": json.loads(lines[-1])}
                out.write(json.dumps(rec) + "\n")
                out.flush()
                print(lines[-2] if len(lines) > 1 else lines[-1])
                if not rec["result"]["correct"]:
                    print(f"seed {seed} trace {trace}: outputs not correct, "
                          f"{rec['result']['failed']} failed ops\n{proc.stderr[-2000:]}",
                          file=sys.stderr)
                    return 1
    return 0


def _load(path: str) -> tuple[dict, dict]:
    """{(workload, trace): {seed: metrics}} and {workload: failed ops}
    from a collect file."""
    runs: dict = defaultdict(dict)
    failed: dict = defaultdict(int)
    with open(path) as f:
        for line in f:
            rec = json.loads(line)
            metrics = {k: v["value"] for k, v in rec["result"]["metrics"].items()}
            runs[(rec["workload"], rec["trace"])][rec["seed"]] = metrics
            failed[rec["workload"]] += rec["result"]["failed"]
    return runs, failed


def _quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def verdict(parent: list[float], change: list[float], pairs: list[tuple[float, float]],
            bound: float, lower_is_better: bool) -> tuple[str, float]:
    sign = -1.0 if lower_is_better else 1.0
    won = sum(1 for p, c in pairs if sign * (c - p) > 0)
    share = won / len(pairs) if pairs else 0.0
    p1, pm, p3 = _quartiles(parent)
    cm = statistics.median(change)
    if share >= 0.9 and sign * (cm - pm) > (p3 - p1):
        return "improved", share
    if sign * (cm - pm) < -bound * abs(pm):
        return "worse", share
    every_better = all(sign * (c - p) > 0 for c in change for p in parent)
    if pm and (p3 - p1) / abs(pm) > bound and not every_better:
        return "unresolved", share
    return "unchanged", share


def report(args) -> int:
    spec = _spec()
    (parent, p_failed), (change, c_failed) = _load(args.parent), _load(args.change)
    workloads = sorted({w for w, _ in parent} & {w for w, _ in change})
    for w in workloads:
        more_failed = c_failed[w] > p_failed[w]
        print(f"== {w}" + ("  (change fails more ops: every verdict is worse)"
                           if more_failed else ""))
        p_runs, c_runs = parent.get((w, 0), {}), change.get((w, 0), {})
        for m in spec["end_to_end"]:
            name = m["name"]
            pv = [r[name] for r in p_runs.values() if name in r]
            cv = [r[name] for r in c_runs.values() if name in r]
            if not pv or not cv:
                continue
            pairs = [(p_runs[s][name], c_runs[s][name]) for s in p_runs if s in c_runs]
            v, share = verdict(pv, cv, pairs, m["bound"], m["better"] == "lower")
            if more_failed:
                v = "worse"
            p1, pm, p3 = _quartiles(pv)
            c1, cm, c3 = _quartiles(cv)
            print(f"  {name:14s} parent {pm:.4g} [{p1:.4g}, {p3:.4g}] n={len(pv)}  "
                  f"change {cm:.4g} [{c1:.4g}, {c3:.4g}] n={len(cv)}  "
                  f"won {share:.0%} of {len(pairs)}  {v} (bound {m['bound']:.0%})  "
                  f"failed ops {p_failed[w]} -> {c_failed[w]}")
        _layer_deltas(parent.get((w, 1), {}), change.get((w, 1), {}))
        for side, runs in (("parent", parent), ("change", change)):
            traced = [r["trace.op_s_p50"] for r in runs.get((w, 1), {}).values()]
            plain = [r["op_s_p50"] for r in runs.get((w, 0), {}).values()]
            if traced and plain:
                over = statistics.median(traced) - statistics.median(plain)
                print(f"  tracing overhead ({side}): {over:+.4f} s per op")
    return 0


def _layer_deltas(p_runs: dict, c_runs: dict) -> None:
    if not p_runs or not c_runs:
        return
    names = set.intersection(*(set(r) for r in [*p_runs.values(), *c_runs.values()]))
    moves = []
    for n in names:
        pm = statistics.median(r[n] for r in p_runs.values())
        cm = statistics.median(r[n] for r in c_runs.values())
        if pm != cm:
            rel = (cm - pm) / abs(pm) if pm else float("inf")
            moves.append((abs(rel), n, pm, cm, rel))
    for _, n, pm, cm, rel in sorted(moves, reverse=True)[:TOP_LAYERS]:
        print(f"    layer {n:45s} {pm:.4g} -> {cm:.4g} ({rel:+.1%})")


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = p.add_subparsers(dest="cmd", required=True)
    c = sub.add_parser("collect")
    c.add_argument("--out", required=True)
    c.add_argument("--workload", required=True)
    c.add_argument("--seeds", default="1-10")
    c.add_argument("--trace", choices=("0", "1", "both"), default="both")
    r = sub.add_parser("report")
    r.add_argument("parent")
    r.add_argument("change")
    args = p.parse_args(argv)
    if args.cmd == "collect":
        return collect(args)
    return report(args)


if __name__ == "__main__":
    sys.exit(main())
