#!/usr/bin/env python3
"""Build and run the graft engine benchmark.

Run from the repository root:

    python3 perfbench/run.py --workload <search|update> --seed <n> \
        --seconds <s> --trace <0|1>

The first run compiles the engine (src/main/scala) together with the
harness (perfbench/src) with sbt, offline; later runs reuse the classes
while the sources are unchanged. The JVM gets one driver process with
local[nproc] and a fixed heap sized from MemTotal. The last line of stdout
is the JSON result.
"""
import argparse
import hashlib
import os
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
CLASSES = os.path.join(BENCH, "target", "scala-2.13", "classes")
STAMP = os.path.join(BENCH, "target", "perfbench.stamp")
RUN_TIMEOUT_S = 170

# Spark on JDK 17 needs these when the session is created outside
# spark-submit (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def spark_home():
    """$SPARK_HOME, else the first spark-submit on PATH that sits in a Spark
    installation (one with a jars/ directory)."""
    homes = [os.environ.get("SPARK_HOME", "")]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        exe = os.path.join(d, "spark-submit")
        if os.path.isfile(exe):
            homes.append(os.path.dirname(os.path.dirname(os.path.realpath(exe))))
    for home in homes:
        if home and os.path.isdir(os.path.join(home, "jars")):
            return home
    fail("no Spark installation found: set SPARK_HOME")


def sources():
    out = []
    for base in (ENGINE_SRC, os.path.join(BENCH, "src", "main", "scala")):
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out) + [os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]


def stamp():
    h = hashlib.sha256()
    for p in sources():
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build(spark):
    want = stamp()
    if os.path.isdir(CLASSES) and os.path.exists(STAMP) and open(STAMP).read() == want:
        return
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    env["SPARK_HOME"] = spark
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts = ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos] + opts
    env["SBT_OPTS"] = " ".join(opts)
    sbt = shutil.which("sbt") or fail("sbt not found on PATH")
    r = subprocess.run([sbt, "--batch", "-Dsbt.log.noformat=true", "compile"], cwd=BENCH, env=env,
                       stdout=sys.stderr, stderr=sys.stderr, timeout=840)
    if r.returncode != 0:
        fail("build failed")
    with open(STAMP, "w") as f:
        f.write(want)


def heap():
    """MemTotal / 2, clamped to 2..8 GB (the repository's test sizing)."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return "%dg" % min(8, max(2, kb // 2097152))
    except (OSError, StopIteration, ValueError):
        return "2g"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["search", "update"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        fail("engine sources not found at %s; run from a repository checkout" % ENGINE_SRC)
    spark = spark_home()
    build(spark)
    tmp = os.path.join(BENCH, ".work", "tmp")
    os.makedirs(tmp, exist_ok=True)
    mem = heap()
    cmd = ["java", "-Xms" + mem, "-Xmx" + mem, "-XX:+UseTransparentHugePages", "-XX:+AlwaysPreTouch",
           "-Djava.io.tmpdir=" + tmp]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", CLASSES + os.pathsep + os.path.join(spark, "jars", "*"), "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--dir", BENCH]
    p = subprocess.Popen(cmd, cwd=ROOT)
    try:
        code = p.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        fail("run exceeded %d s" % RUN_TIMEOUT_S)
    sys.exit(code)


if __name__ == "__main__":
    main()
