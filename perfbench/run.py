#!/usr/bin/env python3
"""Runs one benchmark workload and prints its result as the last line.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 8 --trace 0

Builds the engine and the benchmark first when a source changed (build.py),
then runs perfbench.Main in one JVM on local[min(4, nproc)]. The result is
one JSON object: {"correct", "attempted", "failed", "metrics"}; with
--trace 0 the metrics are the end-to-end ones of BENCHMARK.json, with
--trace 1 the per-layer ones, and the spans go to <build dir>/traces/.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

import build

WORKLOADS = ("serve", "ingest", "curate")
# Seconds a run may take: 180 for a run, 900 for one that also builds; keep a margin.
LIMIT_S, BUILD_LIMIT_S = 170, 880


def expected_metrics(trace):
    spec = json.load(open(os.path.join(build.ROOT, "BENCHMARK.json")))
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def main():
    t0 = time.monotonic()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    try:
        classpath, opts, built = build.build()
        want = expected_metrics(a.trace)
    except (build.BuildError, OSError, ValueError, KeyError) as e:
        sys.exit(f"benchmark unavailable: {e}")

    work = os.path.join(build.build_dir(), "work", str(os.getpid()))
    traces = os.path.join(build.build_dir(), "traces")
    os.makedirs(traces, exist_ok=True)
    cmd = build.java_cmd(opts, classpath, [a.workload, str(a.seed), str(a.seconds),
                                           str(a.trace), work, traces], work)
    limit = (BUILD_LIMIT_S if built else LIMIT_S) - (time.monotonic() - t0)
    try:
        r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=sys.stderr, text=True,
                           timeout=limit, cwd=build.ROOT, env=build.java_env(work))
    except subprocess.TimeoutExpired:
        sys.exit(f"benchmark run exceeded {limit:.0f} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in r.stdout.splitlines() if l.startswith("{")]
    if r.returncode != 0 or not lines:
        sys.exit(f"benchmark run failed with exit code {r.returncode}")
    result = json.loads(lines[-1])
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if got != want:
        sys.exit(f"metrics differ from BENCHMARK.json: {sorted(set(got.items()) ^ set(want.items()))}")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
