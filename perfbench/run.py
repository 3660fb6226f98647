#!/usr/bin/env python3
"""Benchmark of the seqfile codec, connector, operators and facade.

Run from the root of a checkout:

    python3 perfbench/run.py --workload scan --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --selftest

The first run builds the repository's main sources together with the
benchmark (perfbench/build.sbt, offline sbt); later runs reuse the build
until a source file changes. Each run starts one JVM that holds the Spark
driver and its local[nproc] executors, and the JVM prints the result as the
last line of standard output. `--selftest` runs every workload at a tiny
size, once as is and once with a deliberately wrong expected answer.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSES = os.path.join(BENCH, "target", "scala-2.13", "classes")
SPARK_JARS = "/opt/spark/jars"
WORKLOADS = ["scan", "lookup", "dedup"]
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 800

# Matches the JVM options of the repository's own build (build.sbt): Spark on
# JDK 17 outside spark-submit needs the module opens.
JVM_OPTS = [
    "--add-opens=%s=ALL-UNNAMED" % p for p in [
        "java.base/java.lang", "java.base/java.lang.invoke",
        "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
        "java.base/java.nio", "java.base/java.util",
        "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
        "java.base/sun.nio.ch", "java.base/sun.nio.cs",
        "java.base/sun.security.action", "java.base/sun.util.calendar"]
] + [
    "--add-modules=jdk.incubator.vector",
    "-Xms2g",
    "-Xmx2g",
    "-XX:ReservedCodeCacheSize=512m",
    "-XX:-DontCompileHugeMethods",
    "-XX:-UsePerfData",  # no hsperfdata file outside the checkout
    "-Dspark.ui.enabled=false",
]


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src"),
             os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        if os.path.isfile(r):
            yield r
        for d, _, fs in os.walk(r):
            for f in fs:
                yield os.path.join(d, f)


def source_stamp():
    h = hashlib.sha256()
    for f in sorted(source_files()):
        st = os.stat(f)
        h.update(("%s %d %d\n" % (os.path.relpath(f, ROOT), st.st_size, st.st_mtime_ns)).encode())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Runs cmd in its own process group; on timeout the whole group is
    killed and waited for."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        fail("%s timed out after %d s" % (cmd[0], timeout))
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        raise
    return p.returncode, out


def build():
    stamp_file = os.path.join(OUT, "build.stamp")
    stamp = source_stamp()
    if os.path.isdir(CLASSES) and os.path.isfile(stamp_file) \
            and open(stamp_file).read() == stamp:
        return
    env = dict(os.environ)
    # offline: resolve only from the local caches, never from a network host
    env["COURSIER_MODE"] = "offline"
    env["SBT_OPTS"] = " ".join([
        "-Dsbt.override.build.repos=true",
        "-Dsbt.repository.config=%s" % os.path.expanduser("~/.sbt/repositories"),
        "-Dsbt.offline=true",
        "-Dsbt.global.base=%s" % os.path.join(ROOT, ".bench_build", "sbt-global"),
        "-Dsbt.server.forcestart=false",
        "-XX:-UsePerfData",
        "-Xmx2g"])
    code, _ = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "Compile / products"],
                        BUILD_TIMEOUT_S, cwd=BENCH, env=env, stdout=sys.stderr,
                        stdin=subprocess.DEVNULL)
    if code != 0:
        fail("build failed")
    with open(stamp_file, "w") as f:
        f.write(source_stamp())


def run_jvm(args, capture):
    work = os.path.join(OUT, "run-%d" % os.getpid())
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"] + JVM_OPTS + [
        "-Djava.io.tmpdir=" + tmp,
        "-cp", CLASSES + os.pathsep + os.path.join(SPARK_JARS, "*"),
        "perfbench.Main", "--work", work] + args
    try:
        return run_group(cmd, RUN_TIMEOUT_S, cwd=OUT, stdin=subprocess.DEVNULL,
                         stdout=subprocess.PIPE if capture else None, text=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def selftest(data):
    """Every workload at a tiny size: it must run and pass its checks, and a
    wrong expected answer must be counted as a failure."""
    ok = True
    for w in WORKLOADS:
        for poison in (False, True):
            for trace in ("0", "1") if not poison else ("0",):
                args = ["--workload", w, "--seed", "1", "--seconds", "1", "--trace", trace,
                        "--data", data] + (["--poison"] if poison else [])
                code, out = run_jvm(args, capture=True)
                res = json.loads(out.strip().splitlines()[-1]) if code == 0 else None
                good = res is not None and (
                    (res["failed"] > 0 and not res["correct"]) if poison
                    else (res["failed"] == 0 and res["correct"]))
                print("%-7s trace=%s poison=%-5s %s %s" % (
                    w, trace, poison, "ok" if good else "FAIL",
                    json.dumps(res["metrics"]) if res else "exit %d" % code))
                ok = ok and good
    return ok


def main():
    # a terminated run still kills and waits for its process group
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    ap.add_argument("--data", default="/root/testdata/sf0.1")
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and (a.workload is None or a.seed is None or a.seconds is None):
        ap.error("--workload, --seed and --seconds are required")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("run from the root of a checkout: %s has no src/main/scala" % ROOT)
    if not os.path.isdir(SPARK_JARS):
        fail("no Spark jars at " + SPARK_JARS)
    data = a.data if not a.selftest else "/root/testdata/sf0.001"
    if not os.path.isfile(os.path.join(data, "lineitem.parquet")):
        fail("no test data at " + data)
    os.makedirs(OUT, exist_ok=True)
    build()
    if a.selftest:
        sys.exit(0 if selftest(data) else 1)
    code, _ = run_jvm(["--workload", a.workload, "--seed", str(a.seed),
                       "--seconds", str(a.seconds), "--trace", a.trace, "--data", data],
                      capture=False)
    sys.exit(code)


if __name__ == "__main__":
    main()
