#!/usr/bin/env python3
"""Self-test of the benchmark's own checks and trace.

    python3 perfbench/selftest.py

Run from the root of a checkout. It makes four benchmark runs:

1. warehouse with one row dropped from the parallel build's fact_trade:
   the run must report correct=false and at least one failed operation;
2. warehouse with an extra column written into the refresh's fact_trade:
   the run must report exactly one failed operation (refresh == full
   rebuild on fact_trade);
3. ops_index with one recorded gate digest altered: the run must report
   exactly one failed operation;
4. a traced warehouse run, whose trace must close: within the serial
   build, the Spark-job time inside model spans plus build.driver_gap_s
   must equal build_s, and |build.unexplained_s| must stay within 10% of
   build_s.

Exits 0 when all four hold.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SEED = 1


def run(workload, *extra):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(SEED), "--seconds", "1", *extra]
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
    if p.returncode != 0:
        sys.exit(f"FAIL: {' '.join(cmd)} exited {p.returncode}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def covered(intervals):
    """Total length of the union of (start, end) intervals."""
    total, cur = 0.0, None
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if cur is None or a > cur[1]:
            if cur:
                total += cur[1] - cur[0]
            cur = [a, b]
        else:
            cur[1] = max(cur[1], b)
    return total + (cur[1] - cur[0] if cur else 0.0)


def clip(jobs, s):
    return [(max(j["start_ms"], s["start_ms"]), min(j["end_ms"], s["end_ms"])) for j in jobs]


def closure(trace):
    """(build wall, job time inside model spans, gap with no job) in ms."""
    spans, jobs = trace["spans"], trace["jobs"]
    build = next(s for s in spans if s["name"] == "build" and s["layer"] == "build")
    models = [s for s in spans if s["layer"] in ("bronze", "silver", "gold")
              and s["start_ms"] >= build["start_ms"] and s["end_ms"] <= build["end_ms"]]
    wall = build["end_ms"] - build["start_ms"]
    in_models = sum(covered(clip(jobs, m)) for m in models)
    gap = wall - covered(clip(jobs, build))
    return wall, in_models, gap


def main():
    failures = []

    r = run("warehouse", "--corrupt", "drop_row")
    print(f"drop_row: correct={r['correct']} attempted={r['attempted']} failed={r['failed']}")
    if r["correct"] or r["failed"] < 1:
        failures.append("a dropped fact_trade row was not reported as a failed operation")

    r = run("warehouse", "--corrupt", "extra_column")
    print(f"extra_column: correct={r['correct']} attempted={r['attempted']} failed={r['failed']}")
    if r["correct"] or r["failed"] != 1:
        failures.append("an extra column in a refreshed model was not reported as exactly one failed operation")

    r = run("ops_index", "--corrupt", "gate_digest")
    print(f"gate_digest: correct={r['correct']} attempted={r['attempted']} failed={r['failed']}")
    if r["correct"] or r["failed"] != 1:
        failures.append("an altered gate digest was not reported as exactly one failed operation")

    r = run("warehouse", "--trace", "1")
    m = {k: v["value"] for k, v in r["metrics"].items()}
    with open(os.path.join(ROOT, ".bench_build", "traces", f"warehouse-seed{SEED}.json")) as fh:
        wall, in_models, gap = closure(json.load(fh))
    err = abs(in_models + gap - wall) / wall
    print(f"closure: build {wall / 1e3:.2f} s = jobs in model spans {in_models / 1e3:.2f} s"
          f" + driver gap {gap / 1e3:.2f} s (error {err:.2%});"
          f" build.unexplained_s {m['build.unexplained_s']:.2f} of build_s {m['build_s']:.2f}")
    if not r["correct"]:
        failures.append("the traced warehouse run failed a check")
    if err > 0.02:
        failures.append(f"layer job time + driver gap misses build_s by {err:.1%}")
    if abs(m["build.unexplained_s"]) > 0.1 * m["build_s"]:
        failures.append("|build.unexplained_s| exceeds 10% of build_s")

    for f in failures:
        print(f"FAIL: {f}")
    print("selftest", "failed" if failures else "passed")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
