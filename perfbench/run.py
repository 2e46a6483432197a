#!/usr/bin/env python3
"""Pipeline benchmark runner.

    python3 perfbench/run.py --workload etl_star --seed 1 --seconds 20 --trace 0

Run from the repository root. Builds the engine and the benchmark
driver once (plain scalac against the Spark jars; the build is cached
under .bench_build/ by a hash of the sources), generates the seeded
inputs, runs one JVM for the workload, checks its outputs with
computations made apart from the engine (check.py), and prints one
JSON object as the last line of standard output:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones
(and writes the spans to .bench_build/spans-<workload>-<seed>.json).
Progress and check details go to standard error.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("etl_star", "corpus_dedup", "retrieval")
BUILD = os.path.join(ROOT, ".bench_build")
SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
CORES = max(1, min(4, os.cpu_count() or 1))
JVM_HEAP = "3g"
# run deadline: the JVM is killed past this, leaving time to report
RUN_LIMIT_S = 170
# Spark on JDK 17 outside spark-submit needs these opens
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def log(*a):
    print("[perfbench]", *a, file=sys.stderr, flush=True)


def sources():
    engine = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**",
                                           "*.scala"), recursive=True))
    if not engine:
        raise SystemExit("perfbench: engine sources (src/main/scala) not "
                         "found; run from the repository root")
    return engine + sorted(glob.glob(os.path.join(HERE, "src", "*.scala")))


def build():
    """Compile engine + driver once per distinct source tree."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    classes = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(classes, ".done")):
        return classes
    tmp = classes + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    log(f"compiling {len(srcs)} sources")
    t0 = time.time()
    argfile = os.path.join(tmp, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cp = os.path.join(SPARK_JARS, "*")
    subprocess.run(
        ["java", "-Xmx3g", "-Xss8m", "-cp", cp, "scala.tools.nsc.Main",
         "-nowarn", "-cp", cp, "-d", tmp, "@" + argfile], check=True,
        stdout=sys.stderr)
    os.remove(argfile)
    open(os.path.join(tmp, ".done"), "w").close()
    for old in glob.glob(os.path.join(BUILD, "classes-*")):
        if old != tmp:
            shutil.rmtree(old, ignore_errors=True)
    os.rename(tmp, classes)
    log(f"compiled in {time.time() - t0:.1f} s")
    return classes


def run_jvm(classes, args, run_dir, timeout):
    """Run the driver JVM; returns (exit code, peak RSS in MB)."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # fixed JIT compiler threads: the driver subtracts their CPU time
    # from its phase timings, which needs them alive for the whole run
    cmd = ["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-XX:+UseParallelGC",
           "-XX:-UseDynamicNumberOfCompilerThreads",
           "-Xss8m", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for o in ADD_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", classes + os.pathsep + os.path.join(SPARK_JARS, "*"),
            "perfbench.Main"] + args
    with open(os.path.join(run_dir, "jvm.log"), "w") as logf:
        p = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT,
                             cwd=run_dir)
        timer = threading.Timer(timeout, p.kill)
        timer.start()
        try:
            _, status, usage = os.wait4(p.pid, 0)
        finally:
            timer.cancel()
        p.returncode = os.waitstatus_to_exitcode(status)
    return p.returncode, usage.ru_maxrss / 1024.0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--keep", action="store_true",
                    help="keep the run's inputs and outputs")
    a = ap.parse_args()
    started = time.time()

    classes = build()
    run_dir = os.path.join(BUILD, "runs",
                           f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    inputs, outputs = os.path.join(run_dir, "in"), os.path.join(run_dir, "out")
    t0, c0 = time.time(), time.process_time()
    gen.generate(a.workload, a.seed, inputs)
    gen_s, gen_cpu_s = time.time() - t0, time.process_time() - c0

    launch_ms = time.time() * 1000
    code, rss_mb = run_jvm(classes, [
        "--workload", a.workload, "--inputs", inputs, "--out", outputs,
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--cores", str(CORES)], run_dir,
        max(30.0, RUN_LIMIT_S - (time.time() - started)))
    result_path = os.path.join(outputs, "result.json")
    if code != 0 or not os.path.exists(result_path):
        with open(os.path.join(run_dir, "jvm.log")) as f:
            sys.stderr.write(f.read()[-6000:])
        raise SystemExit(f"perfbench: driver JVM failed (exit {code})")
    with open(result_path) as f:
        res = json.load(f)
    for e in res["errors"]:
        log("operation failed:", e)

    t0 = time.time()
    failures = check.run(a.workload, inputs, outputs, res["params"])
    check_s = time.time() - t0
    for msg in failures:
        log("CHECK FAILED:", msg)
    session_s = (res["ready_ms"] - launch_ms) / 1000.0
    # set-up in CPU seconds, like the phases: input generation, JVM and
    # session start, and the input load
    setup_s = gen_cpu_s + res["ready_cpu_s"] + res["load_cpu_s"]
    log(f"rounds={res['rounds']} round_s={res['round_s']} gen_s={gen_s:.2f} "
        f"session_s={session_s:.2f} setup_cpu_s={gen_cpu_s:.2f}+"
        f"{res['ready_cpu_s']:.2f}+{res['load_cpu_s']:.2f} "
        f"check_s={check_s:.1f} total_s={time.time() - started:.1f} "
        f"checks={'ok' if not failures else len(failures)}")

    if a.trace:
        values = dict(res["per_layer"], **{"core.session_start_s": session_s,
                                           "core.peak_rss_mb": rss_mb})
        shutil.copy(os.path.join(outputs, "spans.json"),
                    os.path.join(BUILD, f"spans-{a.workload}-{a.seed}.json"))
    else:
        values = dict(res["end_to_end"], setup_s=setup_s)
    # the metrics BENCHMARK.json declares, with its units
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)["per_layer" if a.trace else "end_to_end"]
    missing = [m["name"] for m in declared if m["name"] not in values]
    if missing:
        raise SystemExit(f"perfbench: metrics not measured: {missing}")
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
               for m in declared}
    if not a.keep:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"correct": not failures,
                      "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
