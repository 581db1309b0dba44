#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload ingest|search|curate --seed N \
        --seconds S --trace 0|1

Run from the root of a checkout. Builds the engine and the workload
programs from source with sbt on first use (and again whenever a source
file changes), then runs one workload in a fresh JVM on local[nproc].
Every line but the last is for people; the last line is the JSON result.
"""
import argparse
import hashlib
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
TARGET = os.path.join(HERE, "target")
CLASSPATH = os.path.join(TARGET, "bench-classpath.txt")
ARCHIVE = os.path.join(TARGET, "classes.jsa")
STAMP = os.path.join(TARGET, "bench-stamp.txt")
WORK = os.path.join(ROOT, ".bench_work")
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 500
ARCHIVE_LIMIT_S = 200

# Spark on JDK 17 outside spark-submit needs these (the engine's build
# passes the same list to its forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def spark_home():
    """The Spark installation whose jars/ are the runtime: SPARK_HOME, or
    the one the engine's own build.sbt compiles against."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    with open(os.path.join(ROOT, "build.sbt")) as fh:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    return os.path.dirname(m.group(1).rstrip("/")) if m else ""


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of every file the build reads, so an edit triggers a rebuild."""
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(HERE, "src"), os.path.join(HERE, "project")]
    files = [os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x != "target")
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(spark):
    stamp = source_stamp()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == stamp:
                return
    os.makedirs(TARGET, exist_ok=True)
    env = dict(os.environ)
    env["SPARK_HOME"] = spark
    env.setdefault("COURSIER_MODE", "offline")
    # every JVM the build starts, the launcher's version probe included
    env["JAVA_TOOL_OPTIONS"] = (env.get("JAVA_TOOL_OPTIONS", "") + " -XX:-UsePerfData").strip()
    log = os.path.join(TARGET, "build.log")
    # keep the launcher's lock, JNA's and the JVM's temporary files in target/
    tmp = os.path.join(TARGET, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           "-Dsbt.boot.lock=false", f"-Djna.tmpdir={tmp}", f"-Djava.io.tmpdir={tmp}",
           "-J-XX:-UsePerfData", "compile", "export Runtime/fullClasspath"]
    with open(log, "w") as out:
        try:
            p = subprocess.run(cmd, cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                               stdin=subprocess.DEVNULL, timeout=BUILD_LIMIT_S)
        except subprocess.TimeoutExpired:
            fail(f"build timed out after {BUILD_LIMIT_S} s (log: {log})", 3)
    with open(log) as fh:
        lines = fh.read().splitlines()
    cp = [l for l in lines if not l.startswith("[") and os.pathsep in l and ".jar" in l]
    if p.returncode != 0 or not cp:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"build failed (log: {log})", 3)
    with open(CLASSPATH, "w") as fh:
        fh.write(cp[-1].strip())
    archive_classes(cp[-1].strip())
    with open(STAMP, "w") as fh:
        fh.write(stamp)


def jvm(cp, work, extra=()):
    """The JVM command line every run uses, up to the main class."""
    cmd = ["java", "-Xmx3g", "-XX:+UseG1GC", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-Dspark.ui.enabled=false", *extra]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    return cmd + ["-cp", cp]


def archive_classes(cp):
    """Writes the JVM class-data archive of the fresh build: one JVM runs
    every workload's set-up and dumps the classes it loaded, so each run
    starts without parsing and verifying them again. A run without the
    archive is slower to start but otherwise the same."""
    if os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    work = os.path.join(WORK, f"archive-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = jvm(cp, work, [f"-XX:ArchiveClassesAtExit={ARCHIVE}"]) + [
        "perfbench.ClassArchive", "--work-dir", work, "--cores", str(cores())]
    with open(os.path.join(TARGET, "archive.log"), "w") as log:
        try:
            subprocess.run(cmd, cwd=ROOT, stdout=log, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=ARCHIVE_LIMIT_S)
        except subprocess.TimeoutExpired:
            pass
    shutil.rmtree(work, ignore_errors=True)
    if not os.path.exists(ARCHIVE):
        print("perfbench: no class-data archive (see target/archive.log); "
              "runs start without one", file=sys.stderr)


def cores():
    return len(os.sched_getaffinity(0))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["ingest", "search", "curate"])
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=[0, 1])
    a = ap.parse_args()
    if not os.path.isdir(ENGINE_SRC):
        fail(f"no engine sources at {os.path.relpath(ENGINE_SRC, os.getcwd())}; "
             "run from the root of a full checkout")
    spark = spark_home()
    if not os.path.isdir(os.path.join(spark, "jars")):
        fail(f"no Spark jars under '{spark}'; set SPARK_HOME to the Spark installation")
    build(spark)
    with open(CLASSPATH) as fh:
        cp = fh.read().strip()

    work = os.path.join(WORK, f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    shared = [f"-XX:SharedArchiveFile={ARCHIVE}"] if os.path.exists(ARCHIVE) else []
    cmd = jvm(cp, work, shared) + [
        "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace), "--work-dir", work,
        "--cores", str(cores())]
    log = os.path.join(WORK, f"{a.workload}-{a.seed}.jvm.log")
    t0 = time.time()
    with open(log, "w") as err:
        p = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=err,
                             stdin=subprocess.DEVNULL, text=True)

        def stop(signum, _frame):
            p.kill()
            p.wait()
            shutil.rmtree(work, ignore_errors=True)
            sys.exit(128 + signum)

        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            out, _ = p.communicate(timeout=RUN_LIMIT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            shutil.rmtree(work, ignore_errors=True)
            fail(f"run exceeded {RUN_LIMIT_S} s (log: {log})", 4)
    shutil.rmtree(work, ignore_errors=True)
    lines = out.splitlines()
    if p.returncode != 0 or not lines or not lines[-1].startswith("{"):
        sys.stdout.write("\n".join(lines[:-1] if lines and lines[-1].startswith("{") else lines) + "\n")
        with open(log) as fh:
            sys.stderr.write("".join(fh.readlines()[-30:]))
        fail(f"workload failed (exit {p.returncode}, {time.time() - t0:.1f} s, log: {log})", 1)
    print(out, end="")


if __name__ == "__main__":
    main()
