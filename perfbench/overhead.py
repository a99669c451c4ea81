#!/usr/bin/env python3
"""Tracing overhead: traced minus untraced time of the same work.

    python3 perfbench/overhead.py [--seed N]

Run from the root of a checkout. For each workload it makes one run with
--trace 0 and one with --trace 1 on the same seed, and prints the
untraced end-to-end wall_s, the traced wall of the same operations
(the per-layer build_s + build_parallel_s + refresh_s, or suite_s) and
their difference, one JSON line per workload. One pair is one sample:
the difference includes the run-to-run spread.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TRACED_WALL = {"warehouse": ("build_s", "build_parallel_s", "refresh_s"),
               "ops_index": ("suite_s",)}


def run(workload, seed, trace):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", "1", "--trace", str(trace)],
                       cwd=ROOT, stdout=subprocess.PIPE, text=True, check=True)
    r = json.loads(p.stdout.strip().splitlines()[-1])
    return {k: v["value"] for k, v in r["metrics"].items()}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    seed = ap.parse_args().seed
    for workload, parts in TRACED_WALL.items():
        plain = run(workload, seed, 0)["wall_s"]
        traced_run = run(workload, seed, 1)
        traced = sum(traced_run[k] for k in parts)
        print(json.dumps({"workload": workload, "seed": seed, "untraced_wall_s": round(plain, 3),
                          "traced_wall_s": round(traced, 3),
                          "overhead_s": round(traced - plain, 3),
                          "overhead_share": round((traced - plain) / plain, 4)}))


if __name__ == "__main__":
    main()
