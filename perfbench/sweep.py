#!/usr/bin/env python3
"""Run the benchmark over several seeds and keep the runs as one set.

    python3 perfbench/sweep.py --out DIR [--workloads a,b] [--seeds 1-10]
        [--trace 0|1] [--seconds S]

Runs perfbench/run.py once per workload and seed (workloads interleaved
within each seed), copies each run's saved result into DIR, and prints
each run's last line and wall time. Compare sets with compare.py.
"""
import argparse
import glob
import json
import os
import shutil
import subprocess
import sys
import time


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return range(int(lo), int(hi or lo) + 1)


def main():
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", required=True)
    ap.add_argument("--workloads",
                    default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", default="0")
    ap.add_argument("--seconds", default=str(bench["run_seconds"]))
    a = ap.parse_args()
    os.makedirs(a.out, exist_ok=True)
    results = os.path.join(root, ".bench_build", "results")
    for seed in seeds(a.seeds):
        for w in a.workloads.split(","):
            before = set(glob.glob(os.path.join(results, "*.json")))
            t0 = time.time()
            r = subprocess.run(bench["command"] + [
                "--workload", w, "--seed", str(seed), "--seconds", a.seconds,
                "--trace", a.trace], cwd=root, capture_output=True, text=True)
            took = time.time() - t0
            last = (r.stdout.strip().splitlines() or [""])[-1]
            print(f"{w} seed {seed}: exit {r.returncode} in {took:.1f} s: "
                  f"{last[:300]}", flush=True)
            if r.returncode:
                sys.stderr.write(r.stderr[-3000:])
            for f in set(glob.glob(os.path.join(results, "*.json"))) - before:
                shutil.copy(f, a.out)


if __name__ == "__main__":
    main()
