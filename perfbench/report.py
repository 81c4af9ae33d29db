#!/usr/bin/env python3
"""Where each workload's time goes, and what tracing costs.

    python3 perfbench/report.py [--seed N] [--seconds S] [--workloads a,b,...]

For each workload, runs perfbench/run.py untraced and then traced with the
same seed, and prints the end-to-end figures of the untraced run, the
self time per layer of the traced run, and the tracing overhead: the
traced run's op_ms and cycle_s against the untraced run's. Run from the
root of a checkout; each run's full report is kept in .bench_build/results.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
RESULTS = os.path.join(".bench_build", "results")


def run(workload, seed, seconds, trace):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    out = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
    if out.returncode != 0:
        sys.exit(f"{workload} trace={trace} failed (exit {out.returncode})")
    path = os.path.join(RESULTS, f"{workload}-seed{seed}-trace{trace}.json")
    with open(path) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--workloads", default="lake_serve,registry_hot,ingest_snapshot")
    args = ap.parse_args()
    for wl in args.workloads.split(","):
        plain = run(wl, args.seed, args.seconds, 0)
        traced = run(wl, args.seed, args.seconds, 1)
        print(plain["header"])
        for f in plain["figures"]:
            print(f"  {f['name']:<34} {f['value']:>14.4f}  {f['unit']:<6} n={f['samples']}")
        fig = {f["name"]: f["value"] for f in plain["figures"]}
        tfig = {f["name"]: f["value"] for f in traced["figures"]}
        for m in ("op_ms", "cycle_s"):
            if fig.get(m):
                print(f"  tracing overhead on {m:<20} {100 * (tfig[m] - fig[m]) / fig[m]:>+8.1f}%"
                      f"  ({fig[m]:.4g} untraced, {tfig[m]:.4g} traced)")
        total = traced["op_ms_total"] or 1.0
        print("  self time by layer in the traced run (share of all measured op time):")
        for row in traced["self_time"]:
            print(f"    {row['name']:<34} self {row['self_ms'] / row['ops']:>10.2f} ms/op"
                  f"  total {row['total_ms'] / row['ops']:>10.2f} ms/op  ops {row['ops']:>4}"
                  f"  share {100 * row['self_ms'] / total:>5.1f}%")
        print()


if __name__ == "__main__":
    main()
