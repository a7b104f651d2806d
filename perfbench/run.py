#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the repo's main sources
plus perfbench/src with sbt (perfbench/build.sbt) into .bench_build/; later
runs reuse the build until a source file changes. Each
run starts one JVM (Spark local[N], N = usable cores), writes its inputs
and outputs under .bench_build/, and prints one JSON line last on stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports BENCHMARK.json's end_to_end metrics, --trace 1 its
per_layer metrics. The full result, with every rep's raw values, is kept in
.bench_build/results/. The exit code is non-zero when a check fails or the
run cannot build or finish.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(ROOT, ".bench_build")
BUILD_TIMEOUT_S = 840
RUN_DEADLINE_S = 175
HEAP = "2g"

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(BENCH, "src")]
    files = [os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def run_group(cmd, cwd, timeout, stdout=None):
    """Run `cmd` in its own process group; kill the whole group on timeout."""
    p = subprocess.Popen(cmd, cwd=cwd, stdout=stdout, start_new_session=True)
    try:
        return p.wait(timeout=max(1, timeout))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def java_cmd(jar, spark_home, work, extra):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    # a fixed heap keeps peak RSS independent of G1's heap-sizing choices
    cmd = [java, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] + extra
    for o in JDK17_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    return cmd + ["-cp", os.pathsep.join([jar, os.path.join(spark_home, "jars", "*")]),
                  "perfbench.Main"]


def build(spark_home):
    """Package the program and the benchmark into one jar, then dump a
    class-data archive from a small training run: it roughly halves every
    run's JVM and Spark start-up on a slow host. Returns (jar, archive,
    whether this call built)."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail(f"no program sources under {os.path.join(ROOT, 'src', 'main', 'scala')}")
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = os.path.join(BUILD, "build.stamp")
    jar = os.path.join(BUILD, "perfbench.jar")
    jsa = os.path.join(BUILD, "perfbench.jsa")
    if os.path.exists(jar) and os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return jar, jsa, False
    os.makedirs(BUILD, exist_ok=True)
    for f in (stamp, jar, jsa):
        if os.path.exists(f):
            os.remove(f)
    sbt = shutil.which("sbt")
    if sbt is None:
        fail("sbt not found on PATH")
    deadline = time.monotonic() + BUILD_TIMEOUT_S
    # build output goes to stderr: stdout is reserved for the result line
    rc = run_group([sbt, "-batch", "-Dsbt.server.autostart=false", "package"], BENCH,
                   deadline - time.monotonic(), stdout=sys.stderr)
    if rc != 0:
        fail(f"build failed (sbt exit {rc})")
    shutil.copyfile(os.path.join(BENCH, "target", "scala-2.13", "perfbench_2.13-0.jar"), jar)
    work = os.path.join(BUILD, "work-train")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    try:
        rc = run_group(java_cmd(jar, spark_home, work, [f"-XX:ArchiveClassesAtExit={jsa}"]) +
                       ["--workload", "train", "--seed", "1", "--seconds", "0", "--trace", "1",
                        "--cores", str(len(os.sched_getaffinity(0))), "--work", work],
                       ROOT, deadline - time.monotonic(), stdout=sys.stderr)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if rc != 0:
        fail(f"training run failed (exit {rc})")
    with open(stamp, "w") as fh:
        fh.write(h.hexdigest())
    return jar, jsa, True


def selected_metrics(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return spec["per_layer" if trace else "end_to_end"]


def main():
    t0 = time.monotonic()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home or not os.path.isdir(os.path.join(spark_home, "jars")):
        fail("SPARK_HOME must name a Spark 4.1 install")
    jar, jsa, built = build(spark_home)
    # a build has its own budget; the run itself must end within 180 s
    budget = RUN_DEADLINE_S - (0 if built else time.monotonic() - t0)

    work = os.path.join(BUILD, f"work-{os.getpid()}")
    results = os.path.join(BUILD, "results")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(results, exist_ok=True)
    out = os.path.join(results, f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
    if os.path.exists(out):
        os.remove(out)
    cmd = java_cmd(jar, spark_home, work,
                   [f"-XX:SharedArchiveFile={jsa}"] if os.path.exists(jsa) else [])
    cmd += ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--cores", str(len(os.sched_getaffinity(0))),
            "--work", work, "--out", out]
    try:
        rc = run_group(cmd, ROOT, budget, stdout=sys.stderr)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if rc is None:
        fail("run timed out")
    if rc != 0 or not os.path.exists(out):
        fail(f"run failed (exit {rc})")

    with open(out) as fh:
        res = json.load(fh)
    metrics = {}
    for m in selected_metrics(a.trace):
        if m["name"] not in res["metrics"]:
            fail(f"the run did not report {m['name']}")
        metrics[m["name"]] = {"value": res["metrics"][m["name"]], "unit": m["unit"]}
    correct = res["failed"] == 0
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
