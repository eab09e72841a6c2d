#!/usr/bin/env python3
"""Run one benchmark workload (or all of them) against the engine.

    python3 perfbench/run.py --workload emit_tail --seed 1 --seconds 12 --trace 0
    python3 perfbench/run.py --workload all --trace 1

One run starts a local Spark session on every core, prepares the
workload's inputs from ``--seed``, measures for ``--seconds``, checks
the engine's outputs against a model or an oracle, and prints:

- ``REPORT {...}`` lines with every metric by name and unit;
- as its last line, one JSON object ``{correct, attempted, failed,
  metrics}``. With ``--trace 0`` the metrics are the end-to-end
  metrics of BENCHMARK.json, with ``--trace 1`` its per-layer metrics
  (spans go to ``perfbench/out/``).

``--workload all`` runs each workload in its own process; with
``--trace 1`` it runs each untraced and traced and reports the
difference of the end-to-end values as the tracing overhead.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

WORKLOADS = ("emit_tail", "fleet_fanout", "batch_queries")


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run_workload(workload: str, seed: int, seconds: float, trace: bool, smoke: bool = False):
    """Run one workload in this process; returns the finished Bench."""
    from perfbench.common import Bench

    mod = importlib.import_module(f"perfbench.{workload}")
    b = Bench(workload, seed, seconds, trace)
    try:
        b.start()
        mod.run(b, smoke=smoke)
        b.e2e["mem.peak_rss_mb"] = b.peak_rss_mb()
        if trace:
            b.finish_layers()
            b.trace_file = b.dump_trace()
    finally:
        b.stop()
    return b


def report(b) -> dict:
    out = {
        "workload": b.workload,
        "seed": b.seed,
        "seconds": b.seconds,
        "trace": b.trace,
        "error_rate": b.checks.error_rate,
        "end_to_end": b.e2e,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in sorted(b.detail.items())},
        "layers": b.layers,
        "failures": b.checks.notes,
    }
    if b.trace:
        out["trace_file"] = os.path.relpath(b.trace_file, ROOT)
    return out


def run_all(seed: int, seconds: float, trace: bool) -> dict:
    modes = (False, True) if trace else (False,)
    reports: dict[tuple[str, bool], dict] = {}
    results, metrics = [], {}
    for w in WORKLOADS:
        for t in modes:
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", w,
                   "--seed", str(seed), "--seconds", str(seconds), "--trace", str(int(t))]
            proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True, check=False)
            lines = proc.stdout.strip().splitlines()
            for line in lines[:-1]:
                print(line, flush=True)
                if line.startswith("REPORT "):
                    reports[(w, t)] = json.loads(line[len("REPORT "):])
            if proc.returncode != 0 or not lines:
                raise SystemExit(f"workload {w} (trace={int(t)}) exited {proc.returncode}")
            results.append(json.loads(lines[-1]))
            if not t:
                metrics.update({f"{w}.{k}": v for k, v in results[-1]["metrics"].items()})
    if trace:
        for w in WORKLOADS:
            off, on = reports[(w, False)]["end_to_end"], reports[(w, True)]["end_to_end"]
            overhead = {k: on[k] - off[k] for k in off if k in on}
            print("REPORT " + json.dumps({"workload": w, "tracing_overhead": overhead}))
    return {
        "correct": all(r["correct"] for r in results),
        "attempted": sum(r["attempted"] for r in results),
        "failed": sum(r["failed"] for r in results),
        "metrics": metrics,
    }


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", default="all", choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=None,
                    help="measured seconds per run (default: BENCHMARK.json run_seconds)")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs, for the benchmark's own tests")
    args = ap.parse_args()
    spec = load_spec()
    seconds = args.seconds if args.seconds is not None else spec["run_seconds"]

    if args.workload == "all":
        print(json.dumps(run_all(args.seed, seconds, bool(args.trace))))
        return
    b = run_workload(args.workload, args.seed, seconds, bool(args.trace), args.smoke)
    print("REPORT " + json.dumps(report(b)))
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    shown = {**{k: (v, units[k]) for k, v in {**b.e2e, **b.layers}.items()}, **b.detail}
    shown["error_rate"] = (b.checks.error_rate, "failed/attempted")
    for name, (value, unit) in sorted(shown.items()):
        print(f"  {args.workload:<13} {name:<36} {value:>14.4f} {unit}")
    print(json.dumps(b.result_line(spec["end_to_end"], spec["per_layer"])))


if __name__ == "__main__":
    main()
