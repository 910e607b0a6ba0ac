#!/usr/bin/env python3
"""Regenerate the benchmark's stored calibration (from the root of a checkout).

  python3 ethbench/calibrate.py golden
      Result hashes of the registry_mix queries on the generated corpus, into
      ethbench/golden.json. Each query is also run through graft.Verify and
      compared with its DuckDB oracle by tools/check.py; the verdicts are
      stored beside the hashes.

  python3 ethbench/calibrate.py warmup [--rounds 16]
      Latency of every op class in each warm round of a fresh JVM, per
      workload, into ethbench/warmup.json, with the warm-round count each
      run uses: the first round at which the round time, averaged with the
      next two rounds, comes within 10 % of the median of the last four.

  python3 ethbench/calibrate.py scale [--rounds 10] [--sfs 0.001,0.01,0.03,0.1]
      Warm latency of each registry_mix class on generated corpora of each
      scale, and the share of it that grows with the data: 1 - (latency at
      the smallest scale) / latency. This is what sizes the corpus
      (NOTES.md, "Registry corpus"). golden.json holds the hashes of the
      benchmark's own scale only, so the other scales log "wrong result".
"""
import statistics
import argparse
import json
import os
import shutil
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402

TOLERANCE = 0.10


def converged_round(series):
    """First round r at which the round time (summed over classes), averaged
    over rounds r..r+2, comes within TOLERANCE of the plateau: the median
    round time of the last four rounds. The mean of three, not a single
    round, decides, and a later noisy round does not push the count on:
    on a shared box one slow round would otherwise add rounds of warm-up
    that change nothing."""
    totals = [sum(x) for x in zip(*series.values())]
    plateau = sum(sorted(totals[-4:])[1:3]) / 2
    smooth = [sum(totals[r:r + 3]) / 3 for r in range(len(totals) - 2)]
    return next(r for r, x in enumerate(smooth) if abs(x - plateau) <= TOLERANCE * plateau)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("what", choices=("golden", "warmup", "scale"))
    ap.add_argument("--rounds", type=int, default=16)
    ap.add_argument("--sfs", default="0.001,0.01,0.03,0.1")
    a = ap.parse_args()
    classpath = run.build.build(run.ROOT)
    scratch = os.path.join(run.CACHE, f"calibrate-{os.getpid()}")
    os.makedirs(scratch, exist_ok=True)
    cores = str(len(os.sched_getaffinity(0)))
    try:
        if a.what == "golden":
            golden(classpath, scratch, cores)
        elif a.what == "scale":
            scale(classpath, scratch, cores, a.rounds, [float(x) for x in a.sfs.split(",")])
        else:
            warmup(classpath, scratch, cores, a.rounds)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def golden(classpath, scratch, cores):
    chain, corpus = run.prepare(classpath, scratch)
    out = os.path.join(scratch, "golden.json")
    run.jvm(classpath, scratch, ["golden", "--chain", chain, "--corpus", corpus,
                                 "--cores", cores, "--scratch", scratch, "--out", out], 900)
    with open(out) as f:
        g = json.load(f)
    names = sorted(g["hashes"])
    verify = os.path.join(scratch, "verify")
    tmp = os.path.join(scratch, "tmp")
    cmd = (["java", "-Xmx2g"] + run.ADD_OPENS + [f"-Djava.io.tmpdir={tmp}", "-cp",
           os.pathsep.join(classpath + [os.path.join(os.environ["SPARK_HOME"], "jars", "*")]),
           "graft.Verify", corpus, verify, ",".join(names)])
    subprocess.run(cmd, check=True, stdout=sys.stderr, stderr=sys.stderr, cwd=scratch)
    verdicts = os.path.join(scratch, "verdicts.json")
    subprocess.run([sys.executable, os.path.join(run.ROOT, "tools", "check.py"), verify, corpus,
                    "--only", ",".join(names), "--json", verdicts], stdout=sys.stderr)
    with open(verdicts) as f:
        v = json.load(f)
    rows = v.get("queries", v)
    g["oracle_match"] = {n: bool(rows.get(n, {}).get("hash_match")) for n in names}
    g["corpus"] = run.corpus_key()
    with open(os.path.join(run.BENCH, "golden.json"), "w") as f:
        json.dump(g, f, indent=1, sort_keys=True)
        f.write("\n")
    print(json.dumps(g["oracle_match"]))


def warmup(classpath, scratch, cores, rounds):
    chain, corpus = run.prepare(classpath, scratch)
    trace = {}
    for w in run.WORKLOADS:
        out = os.path.join(scratch, f"warm-{w}.json")
        run.jvm(classpath, scratch, [
            "warmtrace", "--workload", w, "--rounds", str(rounds), "--chain", chain,
            "--corpus", corpus, "--golden", os.path.join(run.BENCH, "golden.json"),
            "--cores", cores, "--scratch", scratch, "--out", out], 900)
        with open(out) as f:
            trace[w] = {k: [round(x, 4) for x in v] for k, v in json.load(f).items()}
    doc = {"rule": f"first round at which the round time (summed over classes, "
                   f"averaged with the next two rounds) comes within {TOLERANCE:.0%} of "
                   "the median of the last four rounds",
           "cores": int(cores),
           "rounds": {w: converged_round(t) for w, t in trace.items()},
           "trace_s": trace}
    with open(os.path.join(run.BENCH, "warmup.json"), "w") as f:
        json.dump(doc, f, indent=1, sort_keys=True)
        f.write("\n")
    print(json.dumps(doc["rounds"]))


def scale(classpath, scratch, cores, rounds, sfs):
    chain, _ = run.prepare(classpath, scratch)
    warm = {}
    for sf in sfs:
        corpus = os.path.join(scratch, f"corpus-sf{sf}")
        subprocess.run([sys.executable, os.path.join(run.BENCH, "gen_corpus.py"), corpus,
                        "--sf", str(sf)], check=True, stdout=sys.stderr)
        out = os.path.join(scratch, f"scale-{sf}.json")
        run.jvm(classpath, scratch, [
            "warmtrace", "--workload", "registry_mix", "--rounds", str(rounds), "--chain", chain,
            "--corpus", corpus, "--golden", os.path.join(run.BENCH, "golden.json"),
            "--cores", cores, "--scratch", scratch, "--out", out], 900)
        with open(out) as f:
            # the warm latency: median of the last half of the rounds
            warm[sf] = {k: statistics.median(v[len(v) // 2:]) for k, v in json.load(f).items()}
    floor = warm[min(sfs)]
    for sf in sfs:
        print(json.dumps({"sf": sf, "warm_s": {k: round(v, 3) for k, v in warm[sf].items()},
                          "data_share": {k: round(1 - floor[k] / v, 2) for k, v in warm[sf].items()}}))


if __name__ == "__main__":
    main()
