#!/usr/bin/env python3
"""Build the program and the benchmark from source, then run one benchmark run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --self-test

Run from the root of a checkout. The first call compiles src/main/scala and
perfbench/src with scalac (the Scala compiler jars come from the local
coursier cache, Spark's jars from $SPARK_HOME/jars, by default the location
build.sbt names) into .bench_build/; later calls reuse the classes while the
sources are unchanged.
The run's last stdout line is the benchmark's JSON result. Inputs, traces and
run records go under .bench_runs/.
"""
import fcntl
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH = os.path.join(ROOT, "perfbench")
BUILD = os.path.join(ROOT, ".bench_build")
SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
RUN_TIMEOUT_S = 170
HEAP = "2g"

# Spark on JDK 17 outside spark-submit needs these (the list spark-submit adds).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(3)


def sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main):
        fail(f"no program sources at {main}; run from the root of a checkout")
    found = []
    for top in (main, os.path.join(BENCH, "src")):
        for d, _, files in os.walk(top):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def scala_jars():
    libs = glob.glob(os.path.join(SPARK_JARS, "scala-library-*.jar"))
    if not libs:
        fail(f"no scala-library jar in {SPARK_JARS}")
    version = os.path.basename(libs[0])[len("scala-library-"):-len(".jar")]
    cache = os.path.expanduser(os.environ.get("COURSIER_CACHE", "~/.cache/coursier/v1"))
    jars = []
    for name in ("scala-compiler", "scala-reflect"):
        hits = glob.glob(os.path.join(cache, "**", name, version, f"{name}-{version}.jar"), recursive=True)
        if not hits:
            fail(f"{name}-{version}.jar not found under {cache}")
        jars.append(hits[0])
    return jars + [libs[0]]


def build():
    """Compile into .bench_build/<digest>/classes once per source state."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    digest = h.hexdigest()[:16]
    out = os.path.join(BUILD, digest)
    classes = os.path.join(out, "classes")
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if not os.path.exists(os.path.join(out, "ok")):
            shutil.rmtree(out, ignore_errors=True)
            os.makedirs(classes)
            spark_cp = ":".join(sorted(glob.glob(os.path.join(SPARK_JARS, "*.jar"))))
            argfile = os.path.join(out, "sources.txt")
            with open(argfile, "w") as f:
                f.write("\n".join(srcs))
            cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-Djava.io.tmpdir=" + tmpdir(),
                   "-cp", ":".join(scala_jars()),
                   "scala.tools.nsc.Main", "-nowarn", "-d", classes, "-classpath", spark_cp,
                   "@" + argfile]
            if subprocess.run(cmd, cwd=ROOT).returncode != 0:
                shutil.rmtree(out, ignore_errors=True)
                fail("compilation failed")
            open(os.path.join(out, "ok"), "w").close()
    return classes, digest


def tmpdir():
    """JVM temp files (native libraries Spark unpacks) stay in the checkout."""
    d = os.path.join(ROOT, ".bench_runs", "tmp")
    os.makedirs(d, exist_ok=True)
    return d


def commit(digest):
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True)
        if r.returncode == 0:
            return r.stdout.strip()
    except OSError:
        pass
    return "src-" + digest


def java(main, args, timeout):
    classes, digest = build()
    cmd = (["java", f"-Xmx{HEAP}", f"-Xms{HEAP}", "-XX:-UsePerfData", "-Dfile.encoding=UTF-8",
            "-Djava.io.tmpdir=" + tmpdir(),
            "-Dlog4j2.configurationFile=" + os.path.join(BENCH, "log4j2.properties")]
           + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-cp", classes + ":" + os.path.join(SPARK_JARS, "*"), main] + args)
    env = dict(os.environ, PERFBENCH_COMMIT=commit(digest))
    try:
        return subprocess.run(cmd, cwd=ROOT, env=env, timeout=timeout).returncode
    except subprocess.TimeoutExpired:
        print(f"perfbench: run exceeded {timeout} s", file=sys.stderr)
        return 4


def main(argv):
    if argv == ["--self-test"]:
        return java("perfbench.SelfTest", [os.path.join(ROOT, ".bench_runs", "selftest")], 600)
    return java("perfbench.Main", argv + ["--out", os.path.join(ROOT, ".bench_runs")], RUN_TIMEOUT_S)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
