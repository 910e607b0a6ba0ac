#!/usr/bin/env python3
"""Steadiness report: run the benchmark in two sets on the same code and
compare each end-to-end metric's spread and drift with its bound.

Usage (from the root of a checkout):
  python3 ethbench/steady.py [--runs 10] [--sets 2] [--workloads a,b] [--out FILE]

Each set runs every workload --runs times, each run with its own seed, the
workloads interleaved. For each workload and metric it prints, per set, the
median and quartiles (`statistics.quantiles(n=4)`), the spread
(q3 - q1) / median, and the second set's median change against the first, in
the metric's worse direction. A metric is steady when its spread is within
a third of its bound (setup_s is exempt, as in BENCHMARK.json's contract) and
the change is within the bound.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def run_once(workload, seed, seconds):
    r = subprocess.run([sys.executable, os.path.join("ethbench", "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines:
        raise RuntimeError(f"{workload} seed {seed} exited with {r.returncode}")
    res = json.loads(lines[-1])
    if not res["correct"]:
        raise RuntimeError(f"{workload} seed {seed}: {res['failed']} wrong ops")
    return {k: v["value"] for k, v in res["metrics"].items()}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--workloads")
    ap.add_argument("--out")
    a = ap.parse_args()
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    workloads = a.workloads.split(",") if a.workloads else [w["name"] for w in bench["workloads"]]
    values = {}  # (set, workload) -> [metrics per run]
    for s in range(a.sets):
        for i in range(a.runs):
            for w in workloads:
                seed = 1000 * (s + 1) + i
                values.setdefault(f"{s}/{w}", []).append(run_once(w, seed, bench["run_seconds"]))
                print(f"set {s} run {i} {w} done", file=sys.stderr, flush=True)
    ok = True
    print(f"{'workload':14} {'metric':16} {'set':>3} {'median':>10} {'q1':>10} {'q3':>10} "
          f"{'spread':>7} {'bound':>6} {'change':>7}  verdict")
    for w in workloads:
        for m in bench["end_to_end"]:
            name, bound = m["name"], m["bound"]
            first = None
            for s in range(a.sets):
                xs = [r[name] for r in values[f"{s}/{w}"]]
                q1, med, q3 = statistics.quantiles(xs, n=4)
                spread = (q3 - q1) / med
                sign = 1 if m["better"] == "lower" else -1
                change = 0.0 if first is None else sign * (med - first) / first
                first = med if first is None else first
                good = (name == "setup_s" or spread <= bound / 3) and change <= bound
                ok &= good
                print(f"{w:14} {name:16} {s:>3} {med:10.5g} {q1:10.5g} {q3:10.5g} "
                      f"{spread:7.2%} {bound:6.2f} {change:+7.2%}  {'ok' if good else 'NOT STEADY'}")
    if a.out:
        with open(a.out, "w") as f:
            json.dump(values, f, indent=1)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
