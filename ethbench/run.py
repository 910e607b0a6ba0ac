#!/usr/bin/env python3
"""Run one workload of the engine's benchmark and print its metrics.

Usage (from the root of a checkout):
  python3 ethbench/run.py --workload chain_scan --seed 1 --seconds 20 --trace 0

Builds the engine and the benchmark from source (cached by content hash),
prepares the inputs once per checkout (a 60,000-block fixture chain with its
ground truth, and the registry corpus), then starts one JVM: `local[nproc]`,
shuffle partitions = nproc, a fixed heap and one closed-loop client. The last
stdout line is the result: {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are the end-to-end ones; with --trace 1 they are
the per-layer ones of a traced pass (spans go to .cache/traces/). See
NOTES.md for the workloads and metrics.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

BENCH = build.BENCH
CACHE = build.CACHE
ROOT = os.getcwd()
WORKLOADS = ("chain_scan", "chain_lookup", "registry_mix")
HEAP = "2g"
CHAIN_BLOCKS = 60000
CORPUS_SF = 0.05
RUN_TIMEOUT_S = 170
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def sha12(path):
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()[:12]


def jvm(classpath, scratch, args, timeout):
    """Run ethbench.Main; its stdout and stderr both go to our stderr."""
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}"] + ADD_OPENS +
           [f"-Djava.io.tmpdir={tmp}",
            f"-Dlog4j.configurationFile={os.path.join(BENCH, 'log4j2.properties')}",
            "-cp", os.pathsep.join(classpath + [os.path.join(os.environ["SPARK_HOME"], "jars", "*")]),
            "ethbench.Main"] + args)
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, cwd=scratch)
    try:
        rc = proc.wait(timeout=timeout)
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    if rc != 0:
        raise RuntimeError(f"JVM {args[0]} exited with {rc}")


def prepare(classpath, scratch):
    """Chain (keyed by length and generator source) and registry corpus."""
    gen = os.path.join(ROOT, "src", "main", "scala", "graft", "sources", "eth", "EthFixtures.scala")
    chain = os.path.join(CACHE, f"chain-{CHAIN_BLOCKS}-{sha12(gen)}")
    if not os.path.exists(os.path.join(chain, "truth.bin")):
        jvm(classpath, scratch, ["prepare", "--chain", chain], 900)
    corpus = os.path.join(CACHE, f"corpus-{corpus_key()}")
    if not os.path.exists(os.path.join(corpus, "OK")):
        subprocess.run([sys.executable, os.path.join(BENCH, "gen_corpus.py"), corpus,
                        "--sf", str(CORPUS_SF)], check=True, stdout=sys.stderr)
        open(os.path.join(corpus, "OK"), "w").close()
    return chain, corpus


def corpus_key():
    """The registry corpus's identity: its generator's source and scale."""
    return f"{sha12(os.path.join(BENCH, 'gen_corpus.py'))}-sf{CORPUS_SF}"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    load_start = os.getloadavg()
    scratch = os.path.join(CACHE, f"run-{os.getpid()}")
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        classpath = build.build(ROOT)
        os.makedirs(scratch, exist_ok=True)
        chain, corpus = prepare(classpath, scratch)
        with open(os.path.join(BENCH, "golden.json")) as f:
            if json.load(f)["corpus"] != corpus_key():
                raise RuntimeError("golden.json was made from another gen_corpus.py; "
                                   "run ethbench/calibrate.py golden")
        with open(os.path.join(BENCH, "warmup.json")) as f:
            warm = json.load(f)["rounds"][a.workload]
        cores = len(os.sched_getaffinity(0))
        out = os.path.join(scratch, "result.json")
        trace_out = os.path.join(CACHE, "traces", f"{a.workload}-seed{a.seed}.jsonl")
        jvm(classpath, scratch, [
            "run", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--cores", str(cores),
            "--warm", str(warm), "--chain", chain, "--corpus", corpus,
            "--golden", os.path.join(BENCH, "golden.json"), "--scratch", scratch,
            "--out", out, "--trace-out", trace_out], RUN_TIMEOUT_S)
        with open(out) as f:
            r = json.load(f)
        chain_bytes = du(chain)
    except (build.BuildError, RuntimeError, OSError, subprocess.SubprocessError) as e:
        print(f"ethbench: {e}", file=sys.stderr)
        return 2
    finally:
        shutil.rmtree(scratch, ignore_errors=True)

    units = {"setup_s": "s", "ops_per_s": "1/s", "latency_p50_s": "s",
             "latency_tail_s": "s", "peak_rss_mb": "MB"}
    e2e = r["e2e"]
    for k in sorted(units):
        print(f"{a.workload} {k} {e2e[k]:.6g} {units[k]}")
    print(f"{a.workload} error_rate {r['error_rate']:.6g} ({r['failed']} of {r['attempted']} ops)")
    print(f"{a.workload} latency_tail_s is p{100 * r['tail_quantile']:.1f} of {r['samples']} samples")
    print(json.dumps({"provenance": {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "cores": cores, "heap": HEAP, "jvm": r["jvm"],
        "spark": r["spark"], "loadavg_start": load_start, "loadavg_end": os.getloadavg(),
        "chain_blocks": CHAIN_BLOCKS, "chain_dir": os.path.relpath(chain, ROOT),
        "sf_dir": os.path.relpath(corpus, ROOT), "warm_rounds": r["warm_rounds"],
        "tail_quantile": r["tail_quantile"], "samples": r["samples"],
        "error_rate": r["error_rate"], "class_p50_s": r["class_p50_s"],
        "class_counts": r["class_counts"], "chain_bytes": chain_bytes,
        "page_cache_fit": chain_bytes < mem_available()}}))
    if a.trace:
        metrics = {k: {"value": v, "unit": layer_unit(k)} for k, v in r["layers"].items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": units[k]} for k in units}
    print(json.dumps({"correct": r["failed"] == 0, "attempted": r["attempted"],
                      "failed": r["failed"], "metrics": metrics}))
    return 0


def layer_unit(name):
    if "_bytes" in name:
        return "bytes"
    for suffix, unit in (("_per_s", "1/s"), ("_s", "s"), ("_frac", "ratio"),
                         ("_amplification", "ratio")):
        if name.endswith(suffix):
            return unit
    return "count"


def mem_available():
    with open("/proc/meminfo") as f:
        return next(int(l.split()[1]) * 1024 for l in f if l.startswith("MemAvailable:"))


def du(path):
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


if __name__ == "__main__":
    sys.exit(main())
