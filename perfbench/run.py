#!/usr/bin/env python3
"""Build and run the Tally loader benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and the
benchmark from source with sbt (the perfbench/ build depends on the root
build) and caches the runtime classpath under the build directory
($CARGO_TARGET_DIR, default .bench_build); later runs reuse it while the
sources are unchanged. The benchmark itself runs in one JVM
(perfbench.BenchMain). Its log goes to stderr; stdout ends with one JSON
object: {"correct", "attempted", "failed", "metrics"}. The exit code is 0
only when the run finished and every output check passed.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

WORKLOADS = ("full_sync", "incremental_sync")
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170
HEAP = "3g"
# RunLock.benchLockPath as Bench and ScaleBench resolve it, under the JVM's
# default java.io.tmpdir: the benchmark JVM's own tmpdir is redirected
# into the build directory, so it takes this path explicitly.
LOCK = "/tmp/graft-bench.lock"
# The JVM flags Spark needs outside spark-submit on JDK 17 (the root
# build.sbt passes the same set).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
# What the build reads: a change to any of these rebuilds.
SOURCES = ["build.sbt", "project/build.properties", "src/main",
           "perfbench/build.sbt", "perfbench/project/build.properties",
           "perfbench/src/main"]


def log(msg):
    print(f"[run.py] {msg}", file=sys.stderr, flush=True)


def source_stamp(root):
    h = hashlib.sha256()
    for rel in SOURCES:
        path = os.path.join(root, rel)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def classpath(root, build):
    """The runtime classpath, built with sbt when the sources changed."""
    stamp_file = os.path.join(build, "stamp")
    cp_file = os.path.join(build, "classpath")
    stamp = source_stamp(root)
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    log("building engine and benchmark with sbt")
    out = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true",
         "export Runtime / fullClasspath"],
        cwd=os.path.join(root, "perfbench"), stdout=subprocess.PIPE,
        stderr=sys.stderr, text=True, timeout=BUILD_TIMEOUT_S)
    lines = [l for l in out.stdout.splitlines()
             if l and not l.startswith("[") and ".jar" in l]
    if out.returncode != 0 or not lines:
        sys.stderr.write(out.stdout)
        raise SystemExit(f"build failed (sbt exit {out.returncode})")
    os.makedirs(build, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1]


def main():
    p = argparse.ArgumentParser(description=__doc__,
                                formatter_class=argparse.RawTextHelpFormatter)
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args()

    root = os.getcwd()
    for need in ("build.sbt", "src/main/scala", "perfbench/build.sbt"):
        if not os.path.exists(os.path.join(root, need)):
            raise SystemExit(f"{need} not found: run from the root of a "
                             "checkout that holds the engine's sources")
    build = os.path.abspath(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    cp = classpath(root, build)

    tag = f"{a.workload}-{os.getpid()}"
    work = os.path.join(build, "work", tag)
    result = os.path.join(build, "work", tag + ".json")
    spans = os.path.join(build, "trace", f"{a.workload}-seed{a.seed}.json")
    tmp = os.path.join(build, "tmp")
    os.makedirs(tmp, exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", f"-Dperfbench.lock={LOCK}",
           f"-Dperfbench.work={work}",
           f"-Dperfbench.result={result}", f"-Dperfbench.spans={spans}"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.BenchMain", "--workload", a.workload,
            "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace)]
    env = dict(os.environ, SPARK_GRAFT_INDEX_DIR=os.path.join(work, "index"))
    try:
        rc = subprocess.run(cmd, stdout=sys.stderr, env=env,
                            timeout=RUN_TIMEOUT_S).returncode
        if rc != 0 or not os.path.exists(result):
            raise SystemExit(f"benchmark JVM failed (exit {rc})")
        with open(result) as f:
            res = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        if os.path.exists(result):
            os.remove(result)
    for name, m in res["metrics"].items():
        print(f"{name} {m['value']} {m['unit']}")
    print(json.dumps(res))
    sys.exit(0 if res["correct"] else 1)


if __name__ == "__main__":
    main()
