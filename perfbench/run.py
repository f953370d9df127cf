#!/usr/bin/env python3
"""Benchmark entry point for the GeoDb engine.

Usage (from the repository root):

    python3 perfbench/run.py --workload feature_query --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --selfcheck

Builds the engine (src/main/scala) and the benchmark (perfbench/src) with
the Scala compiler that ships in the Spark distribution, caches the classes
under the build directory ($CARGO_TARGET_DIR, default .bench_build), then runs
one workload in a fresh JVM and prints its result.  The last line of standard
output is one JSON object: {"correct", "attempted", "failed", "metrics"}.
Exits non-zero without a result line when the build or the run fails.
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

ROOT = os.getcwd()
BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
MAIN_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(BENCH_DIR, "src")


def spark_jars():
    """The jars of the Spark distribution: $SPARK_HOME's, else those of the
    first spark-submit on PATH that sits in a full distribution (one that
    ships the Scala compiler)."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.realpath(d)) for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for h in homes:
        jars = os.path.join(h, "jars")
        if h and os.path.isdir(jars) and any(f.startswith("scala-compiler") for f in os.listdir(jars)):
            return jars
    return None


JARS = spark_jars()
WORKLOADS = ["feature_query", "feature_edit", "spatial_join", "corpus_ingest"]
RUN_LIMIT_S = 170          # a run still going after this long is killed
BUILD_LIMIT_S = 840        # cap on compiling a fresh checkout

# Spark 4 on JDK 17 outside spark-submit needs these module openings
# (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def scala_files(root):
    out = []
    for d, _, files in os.walk(root):
        out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return os.path.join(ROOT, d)


def scalac(srcs, out, classpath, deadline):
    os.makedirs(out, exist_ok=True)
    cmd = ["java", "-Xss8m", "-Xmx3g", "-cp", os.path.join(JARS, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", out,
           "-classpath", classpath] + srcs
    p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       timeout=max(1, deadline - time.time()))
    if p.returncode != 0:
        sys.stderr.write(p.stdout.decode(errors="replace")[-4000:])
        fail(f"compilation failed for {out}")


def tree_hash(files, seed=""):
    h = hashlib.sha256(seed.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def compiled(srcs, out, classpath, stamp, deadline):
    """Compiles `srcs` into `out` unless `out` already holds this stamp."""
    stamp_file = out + ".stamp"
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return
    shutil.rmtree(out, ignore_errors=True)
    if os.path.exists(stamp_file):
        os.remove(stamp_file)
    scalac(srcs, out, classpath, deadline)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)


def build():
    """Compiles engine + benchmark once per source state; returns the classpath."""
    if not os.path.isdir(MAIN_SRC):
        fail(f"engine sources not found under {MAIN_SRC}; run from the repository root")
    if JARS is None:
        fail("no Spark distribution with a Scala compiler found (set SPARK_HOME)")
    main_srcs, bench_srcs = scala_files(MAIN_SRC), scala_files(BENCH_SRC)
    if not main_srcs or not bench_srcs:
        fail("no Scala sources to build")
    bd = build_dir()
    main_out, bench_out = os.path.join(bd, "main"), os.path.join(bd, "bench")
    jars_cp = os.path.join(JARS, "*")
    deadline = time.time() + BUILD_LIMIT_S
    main_stamp = tree_hash(main_srcs)
    compiled(main_srcs, main_out, jars_cp, main_stamp, deadline)
    compiled(bench_srcs, bench_out, os.pathsep.join([main_out, jars_cp]),
             tree_hash(bench_srcs, main_stamp), deadline)
    return os.pathsep.join([bench_out, main_out, jars_cp])


def run_java(cp, args, work_root):
    nproc = os.cpu_count() or 1
    # a killed run cannot remove its own directory; one run at a time works
    # in a checkout, so any left over now is stale
    if os.path.isdir(work_root):
        for d in os.listdir(work_root):
            if d.split("-")[0] in WORKLOADS and d.split("-")[-1].isdigit():
                shutil.rmtree(os.path.join(work_root, d), ignore_errors=True)
    tmp = os.path.join(work_root, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-Xms3g", "-Xmx3g", "-XX:+UseParallelGC",
            f"-Djava.io.tmpdir={tmp}",
            f"-Dlog4j2.configurationFile={os.path.join(BENCH_DIR, 'log4j2.properties')}",
            "-Dspark.ui.enabled=false",
            "-cp", cp, "perfbench.Main",
            "--work", work_root, "--nproc", str(nproc)] + args
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_LIMIT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"run exceeded {RUN_LIMIT_S} s")
    lines = out.decode(errors="replace").splitlines()
    if proc.returncode != 0:
        sys.stderr.write("\n".join(lines[-20:]) + "\n")
        fail(f"benchmark JVM exited with {proc.returncode}")
    results = [l for l in lines if l.startswith("{\"correct\"")]
    if not results:
        fail("benchmark JVM printed no result")
    for l in lines:
        if l is not results[-1]:
            print(l)
    return results[-1]


def selfcheck(cp):
    """Every workload at a tiny scale, untraced and traced: every named
    metric is printed with its unit and no operation fails."""
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    ok = True
    for w in WORKLOADS:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            line = run_java(cp, ["--workload", w, "--seed", "7", "--seconds", "1",
                                 "--trace", str(trace), "--scale", "0.01"],
                            os.path.join(ROOT, ".bench_work"))
            r = json.loads(line)
            for m in spec[key]:
                got = r["metrics"].get(m["name"])
                if got is None or got.get("unit") != m["unit"]:
                    print(f"selfcheck {w} trace={trace}: metric {m['name']} missing or wrong unit: {got}")
                    ok = False
            extra = set(r["metrics"]) - {m["name"] for m in spec[key]}
            if extra:
                print(f"selfcheck {w} trace={trace}: metrics not in BENCHMARK.json: {sorted(extra)}")
                ok = False
            if r["failed"] != 0 or not r["correct"]:
                print(f"selfcheck {w} trace={trace}: {r['failed']} of {r['attempted']} ops failed")
                ok = False
            print(f"selfcheck {w} trace={trace}: attempted={r['attempted']} failed={r['failed']} error_rate={r['failed'] / r['attempted']}")
    print("SELFCHECK " + ("OK" if ok else "FAILED"))
    return ok


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", type=float, default=1.0)
    ap.add_argument("--selfcheck", action="store_true")
    a = ap.parse_args()
    if not a.selfcheck and a.workload is None:
        fail("--workload is required")
    cp = build()
    if a.selfcheck:
        sys.exit(0 if selfcheck(cp) else 1)
    line = run_java(cp, ["--workload", a.workload, "--seed", str(a.seed),
                         "--seconds", str(a.seconds), "--trace", str(a.trace),
                         "--scale", str(a.scale)],
                    os.path.join(ROOT, ".bench_work"))
    print(line)


if __name__ == "__main__":
    main()
