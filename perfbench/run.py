#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run compiles the program's
sources together with the benchmark driver (perfbench/build.sbt) into
.bench_build/; later runs reuse that build while the sources are
unchanged. Each run starts one JVM (local[nproc] Spark), which writes
its inputs, intermediate tables and trace under .bench_build/ and removes
all but the trace before exiting. The last line of stdout is the result
JSON; everything else goes to stderr. Traced runs (--trace 1) also
leave their spans and jobs in .bench_build/traces/.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "sbt", "scala-2.13", "classes")
STAMP = os.path.join(BUILD, "stamp")
WORKLOADS = ("warehouse", "ops_index")
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of every source and build file the build reads."""
    h = hashlib.sha256()
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for base in (PROGRAM_SRC, os.path.join(HERE, "src")):
        for d, _, names in sorted(os.walk(base)):
            files += [os.path.join(d, n) for n in sorted(names) if n.endswith(".scala")]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    stamp = source_stamp()
    if os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return
    log("compiling program + benchmark (sbt compile)")
    env = dict(os.environ, SPARK_HOME=spark_home())
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos} -Dsbt.offline=true -Xmx2g")
    # no hsperfdata file under /tmp
    env["SBT_OPTS"] = env.get("SBT_OPTS", "") + " -XX:-UsePerfData"
    t0 = time.time()
    r = subprocess.run(["sbt", "-batch", "-Dsbt.server.autostart=false", "compile"],
                       cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                       timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0:
        sys.exit(f"build failed (sbt exit {r.returncode})")
    os.makedirs(BUILD, exist_ok=True)
    with open(STAMP, "w") as fh:
        fh.write(stamp)
    log(f"build took {time.time() - t0:.1f} s")


def spark_home():
    """SPARK_HOME, else the installation whose spark-submit is on PATH."""
    submit = shutil.which("spark-submit")
    candidates = [os.environ.get("SPARK_HOME")] + (
        [os.path.dirname(os.path.dirname(p)) for p in (submit, os.path.realpath(submit))]
        if submit else [])
    for home in candidates:
        if home and os.path.isdir(os.path.join(home, "jars")):
            return home
    sys.exit("Spark not found: set SPARK_HOME or put spark-submit on PATH")


def java_cmd(args, work, result, trace_file):
    java_home = os.environ.get("JAVA_HOME")
    java = os.path.join(java_home, "bin", "java") if java_home else "java"
    jars = os.path.join(spark_home(), "jars", "*")
    cmd = [java, "-Xmx4g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
           "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{CLASSES}{os.pathsep}{jars}", "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--data", os.path.join(HERE, "data"),
            "--result", result, "--trace-file", trace_file]
    if args.corrupt:
        cmd += ["--corrupt", args.corrupt]
    return cmd


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # self-test only: corrupt one output so its check must fail
    ap.add_argument("--corrupt", choices=("drop_row", "extra_column", "gate_digest"))
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(PROGRAM_SRC, "graft")):
        sys.exit(f"program sources not found under {PROGRAM_SRC}: "
                 "run from the root of a full checkout")
    build()

    work = os.path.join(BUILD, "work", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    result = os.path.join(work, "result.json")
    trace_file = os.path.join(BUILD, "traces", f"{args.workload}-seed{args.seed}.json")
    proc = subprocess.Popen(java_cmd(args, work, result, trace_file),
                            cwd=work, stdout=sys.stderr, stderr=sys.stderr)
    try:
        code = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(f"benchmark JVM exceeded {JVM_TIMEOUT_S} s")
    except BaseException:
        proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        raise
    try:
        with open(result) as fh:
            line = fh.read().strip()
        out = json.loads(line)
    except (OSError, ValueError) as e:
        out = None
        log(f"no result: {e}")
    shutil.rmtree(work, ignore_errors=True)
    if code != 0 or out is None:
        sys.exit(f"benchmark JVM failed (exit {code})")
    print(json.dumps(out, separators=(",", ":")), flush=True)


if __name__ == "__main__":
    main()
