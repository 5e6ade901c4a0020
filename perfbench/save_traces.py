#!/usr/bin/env python3
"""Writes perfbench/traces/<workload>.json: one traced run per workload,
with the per-layer numbers, per-layer self time, per-operation layers,
the spans of one pass, and the tracing overhead against untraced runs of
the same seed: the median pass time traced over the median untraced, minus
1, in CPU time (the gated pass_cpu_s) and in wall time, from `--pairs`
interleaved pairs. The traced pass includes the listener bus drain after
each operation.

    python3 perfbench/save_traces.py [--seed 7] [--pairs 2] [workload ...]
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import tempfile

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)


def run(workload, seed, seconds, trace):
    with tempfile.TemporaryDirectory() as d:
        rec = os.path.join(d, "record.json")
        subprocess.run([sys.executable, os.path.join(BENCH, "run.py"),
                        "--workload", workload, "--seed", str(seed),
                        "--seconds", str(seconds), "--trace", str(trace),
                        "--record", rec], cwd=ROOT, check=True,
                       stdout=subprocess.DEVNULL)
        with open(rec) as f:
            return json.load(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=7)
    ap.add_argument("--pairs", type=int, default=2)
    ap.add_argument("workloads", nargs="*")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        seconds = json.load(f)["run_seconds"]
    with open(os.path.join(BENCH, "workloads.json")) as f:
        names = args.workloads or list(json.load(f)["workloads"])
    os.makedirs(os.path.join(BENCH, "traces"), exist_ok=True)
    for w in names:
        plain, traced = [], []
        for _ in range(args.pairs):
            plain.append(run(w, args.seed, seconds, 0))
            traced.append(run(w, args.seed, seconds, 1))
        def median(runs, f):
            return statistics.median(f(r["record"]) for r in runs)
        cpu = lambda r: statistics.median(r["pass_cpu_s"])  # noqa: E731
        wall = lambda r: r["wall"]["pass_s"]  # noqa: E731
        pc, tc = median(plain, cpu), median(traced, cpu)
        p, t = median(plain, wall), median(traced, wall)
        out = traced[-1]["record"]
        out["tracing_overhead"] = {
            "untraced_pass_cpu_s": pc, "traced_pass_cpu_s": tc,
            "cpu_overhead_frac": tc / pc - 1,
            "untraced_pass_s": p, "traced_pass_s": t,
            "wall_overhead_frac": t / p - 1, "pairs": args.pairs}
        out["per_layer_metrics"] = traced[-1]["values"]
        text = json.dumps(out, indent=1).replace(ROOT, "<checkout>")
        with open(os.path.join(BENCH, "traces", f"{w}.json"), "w") as f:
            f.write(text + "\n")
        print(w, f"overhead cpu {tc / pc - 1:+.3f} wall {t / p - 1:+.3f}")


if __name__ == "__main__":
    main()
