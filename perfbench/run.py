#!/usr/bin/env python3
"""Runs the benchmark: builds the program and the benchmark from source,
runs one workload (or all of them) in a fresh JVM on local[4], checks
every output, and prints one JSON result as the last line of stdout.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 8 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 8 --trace 0

--trace 0 reports the end-to-end metrics of BENCHMARK.json; --trace 1
reports its per-layer metrics and writes the spans to
.bench_build/perfbench/traces/. See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True
import build  # noqa: E402

WORKLOADS = ["serve", "ingest", "prepare"]
RUN_TIMEOUT_S = 170


def environment(jars):
    spark = next((n[len("spark-core_2.13-"):-len(".jar")] for n in os.listdir(jars)
                  if n.startswith("spark-core_2.13-")), "unknown")
    sha = "none (not a git checkout)"
    if os.path.isdir(os.path.join(build.ROOT, ".git")):
        got = subprocess.run(["git", "-C", build.ROOT, "rev-parse", "HEAD"],
                             capture_output=True, text=True)
        sha = got.stdout.strip() or sha
    stamp = os.path.join(build.OUT, "perfbench.stamp")
    return {"cpus": os.cpu_count(), "master": "local[4]", "heap": build.HEAP, "spark": spark,
            "git_sha": sha, "source_sha256": open(stamp).read() if os.path.exists(stamp) else ""}


def run_jvm(jars, workload, args):
    """Runs one workload; returns its result dict, or None on failure."""
    work = os.path.join(build.OUT, "work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(os.path.join(build.OUT, "traces"), exist_ok=True)
    flags = ["-XX:SharedArchiveFile=" + build.ARCHIVE] if os.path.exists(build.ARCHIVE) else []
    cmd = build.java_command(jars, work, flags, [
        "--workload", workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
        "--trace", str(args.trace)])
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, env=env,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        print("[perfbench] %s: timed out after %d s" % (workload, RUN_TIMEOUT_S), file=sys.stderr)
        return None
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.startswith("PERFBENCH_RESULT ")]
    if proc.returncode != 0 or not lines:
        print("[perfbench] %s: exit code %d, no result" % (workload, proc.returncode),
              file=sys.stderr)
        return None
    return json.loads(lines[-1][len("PERFBENCH_RESULT "):])


def select(result, spec, trace):
    """The metrics BENCHMARK.json names for this mode, in its order; None
    when one is missing."""
    names = [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]
    missing = [n for n in names if n not in result["metrics"]]
    if missing:
        print("[perfbench] missing metrics: %s" % ", ".join(missing), file=sys.stderr)
        return None
    return {n: result["metrics"][n] for n in names}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    args = ap.parse_args()
    try:
        with open(os.path.join(build.ROOT, "BENCHMARK.json")) as fh:
            spec = json.load(fh)
        jars = build.build()
    except (OSError, ValueError, build.BuildError) as e:
        print("[perfbench] cannot run: %s" % e, file=sys.stderr)
        return 2
    workloads = WORKLOADS if args.workload == "all" else [args.workload]
    results = {}
    for w in workloads:
        res = run_jvm(jars, w, args)
        metrics = res and select(res, spec, args.trace)
        if not metrics:
            return 1
        results[w] = dict(res, metrics=metrics)
    print(json.dumps({"environment": environment(jars)}))
    if len(results) == 1:
        final = results[args.workload]
    else:
        for w, res in results.items():
            print(json.dumps({"workload": w, **res}))
        final = {"correct": all(r["correct"] for r in results.values()),
                 "attempted": sum(r["attempted"] for r in results.values()),
                 "failed": sum(r["failed"] for r in results.values()),
                 "metrics": {"%s.%s" % (w, n): m for w, r in results.items()
                             for n, m in r["metrics"].items()}}
    print(json.dumps(final))
    return 0


if __name__ == "__main__":
    sys.exit(main())
