#!/usr/bin/env python3
"""Benchmark command for the engine.

Run from the root of a checkout:

    python3 perfbench/run.py --workload vector_replay --seed 1 --seconds 15 --trace 0

It builds the engine and the benchmark harness from source (first run
only; outputs under .bench_build/), runs one workload in one JVM on
local[nproc], checks the program's outputs, writes a detail file under
.bench_build/results/ and prints, as the last stdout line, one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are BENCHMARK.json's end_to_end list, with --trace 1 its per_layer
list. The exit code is non-zero when any op failed or an output is wrong.

Extra flags (for the benchmark's own tests and reference runs):
    --inject corrupt_store|throwing_stream  deliberate faults for the tests
    --stage-only                            render the seed's inputs and exit
    --cores N                               local[N] (the one-core reference)
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "target", "scala-2.13", "classes")
TEXTS = os.path.join(HERE, "fixture", "documents.parquet")
WORKLOADS = ("vector_replay", "merge_churn")
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 850
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"), recursive=True)
                   + glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True)
                   + glob.glob(os.path.join(ROOT, "src", "main", "resources", "**", "*"), recursive=True)
                   + [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")])
    for f in filter(os.path.isfile, files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(deadline):
    """Compile engine + harness with sbt unless the sources are unchanged."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("engine sources (src/main/scala) not found next to perfbench/")
    stamp = source_stamp()
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp \
            and os.path.isdir(CLASSES):
        return
    os.makedirs(BUILD, exist_ok=True)
    log = os.path.join(BUILD, "build.log")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.supershell=false",
           "-Dsbt.server.forcestart=false", "Compile/products"]
    with open(log, "w") as out:
        rc = run_group(cmd, HERE, out, out, max(10, deadline - time.time()))
    if rc != 0:
        fail(f"build failed (exit {rc}); see {log}")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)


def run_group(cmd, cwd, stdout, stderr, timeout):
    """Run cmd in its own process group; kill the group on timeout and
    wait until it has ended. Returns the exit code (None on timeout)."""
    p = subprocess.Popen(cmd, cwd=cwd, stdout=stdout, stderr=stderr,
                         start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def jvm(args, work, result, deadline):
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home:
        fail("SPARK_HOME must point at a Spark install")
    cp = CLASSES + os.pathsep + os.path.join(spark_home, "jars", "*")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xmx3g", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in JVM_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--work", work, "--result", result] + args
    log = os.path.join(BUILD, "results", os.path.basename(result).replace(".json", ".log"))
    with open(log, "w") as out:
        rc = run_group(cmd, ROOT, out, out, max(5, deadline - time.time()))
    if rc is None:
        fail(f"run exceeded its time limit; see {log}", 3)
    if rc != 0:
        fail(f"benchmark JVM exited {rc}; see {log}", 4)


# ---- main ---------------------------------------------------------------------

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--inject", choices=("corrupt_store", "throwing_stream"))
    ap.add_argument("--cores", type=int, help="local[N] instead of local[nproc]")
    ap.add_argument("--stage-only", action="store_true")
    a = ap.parse_args()
    start = time.time()
    spec_file = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_file):
        fail("BENCHMARK.json not found at the checkout root")
    spec = json.load(open(spec_file))

    build(start + BUILD_LIMIT_S)
    run_deadline = time.time() + RUN_LIMIT_S
    tag = f"{a.workload}-s{a.seed}-t{a.trace}"
    work = os.path.join(BUILD, "work", tag)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(BUILD, "results"), exist_ok=True)
    result = os.path.join(BUILD, "results", tag + ".json")
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--texts", TEXTS]
    if a.inject:
        args += ["--inject", a.inject]
    if a.cores:
        args += ["--cores", str(a.cores)]
    if a.stage_only:
        jvm(args + ["--stage-only", "1"], work, result, run_deadline)
        print(json.dumps({"staged": work}))
        return 0
    if os.path.exists(result):
        os.remove(result)
    jvm(args, work, result, run_deadline)
    res = json.load(open(result))

    failed_ops = list(res["failed_ops"])
    shutil.rmtree(work, ignore_errors=True)

    values = res["per_layer"] if a.trace else res["end_to_end"]
    listed = spec["per_layer"] if a.trace else spec["end_to_end"]
    metrics = {}
    for m in listed:
        v = values.get(m["name"])
        if v is None or not math.isfinite(v):
            failed_ops.append(f"metric {m['name']} not measured")
            v = None
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    failed = len(set(op.split(":")[0] for op in failed_ops))
    print("perfbench: " + json.dumps({"failed_ops": [op[:120] for op in failed_ops][:8],
                                      "detail": os.path.relpath(result, ROOT)}))
    print(json.dumps({"correct": not failed_ops, "attempted": max(1, res["attempted"]),
                      "failed": failed, "metrics": metrics}))
    return 0 if not failed_ops else 1


if __name__ == "__main__":
    sys.exit(main())
