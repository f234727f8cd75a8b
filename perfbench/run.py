#!/usr/bin/env python3
"""Run one workload of graft's benchmark.

    python3 perfbench/run.py --workload etl_jobs --seed 1 --seconds 12 --trace 0

Run it from the root of a checkout. The first run compiles the engine
(src/main/scala) together with the harness (perfbench/src) with sbt;
later runs reuse the classes while no source changed. Each run gets a
fresh work directory under perfbench/.work (inputs, Spark scratch,
java.io.tmpdir and so the engine's cache root, the Derby database),
deleted when the run ends. The last line of stdout is the result
JSON; the exit code is 0 only when every operation ran and every
output check passed. See perfbench/README.md.
"""
import argparse
import fcntl
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
TARGET = os.path.join(HERE, "target")
CLASSES = os.path.join(TARGET, "scala-2.13", "classes")
STAMP = os.path.join(TARGET, "perfbench.stamp")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

# Spark 4 on JDK 17 outside spark-submit needs these (the same list
# as the engine's own build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_digest():
    """Digest of everything the build compiles."""
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def find_spark_home():
    """SPARK_HOME, else the first spark-submit on PATH that sits in a
    Spark install (one with a jars directory)."""
    homes = [os.environ.get("SPARK_HOME", "")]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        submit = os.path.join(d, "spark-submit")
        if os.path.isfile(submit):
            homes.append(os.path.dirname(os.path.dirname(os.path.realpath(submit))))
    for home in homes:
        if home and os.path.isdir(os.path.join(home, "jars")):
            return home
    raise SystemExit("[perfbench] no Spark install found: set SPARK_HOME")


def build(spark_home):
    """Compile with sbt unless the classes match the current sources."""
    os.makedirs(TARGET, exist_ok=True)
    with open(os.path.join(TARGET, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        digest = source_digest()
        if os.path.isdir(CLASSES) and os.path.exists(STAMP) and open(STAMP).read() == digest:
            return
        log("compiling engine + harness with sbt")
        env = dict(os.environ)
        env.setdefault("COURSIER_MODE", "offline")
        env["SPARK_HOME"] = spark_home
        t = time.time()
        proc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                              cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                              timeout=BUILD_TIMEOUT_S)
        if proc.returncode != 0:
            raise SystemExit(f"[perfbench] build failed (sbt exit {proc.returncode})")
        with open(STAMP, "w") as fh:
            fh.write(digest)
        log(f"build took {time.time() - t:.1f} s")


def main():
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", choices=["0", "1"], required=True)
    p.add_argument("--scale", type=float, default=1.0, help="input size multiplier (self-tests)")
    p.add_argument("--inject-fail", default=None, help="make this operation throw (self-tests)")
    p.add_argument("--record", action="store_true",
                   help="store the query outputs as the expected ones instead of checking them")
    a = p.parse_args()

    if not os.path.isdir(ENGINE_SRC):
        raise SystemExit(f"[perfbench] engine sources not found at {ENGINE_SRC}: run from a graft checkout")
    spark_home = find_spark_home()
    build(spark_home)

    work = os.path.join(HERE, ".work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = ["java", "-Xmx3g", "-XX:-UsePerfData", "-XX:CompileThresholdScaling=0.2",
           f"-Djava.io.tmpdir={work}/tmp",
           f"-Dlog4j2.configurationFile={HERE}/log4j2.properties",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", f"{CLASSES}:{spark_home}/jars/*", "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--work", work, "--scale", str(a.scale),
            "--expected", os.path.join(HERE, "expected_outputs.tsv"),
            "--results", os.path.join(HERE, ".results")]
    if a.inject_fail:
        cmd += ["--inject-fail", a.inject_fail]
    if a.record:
        cmd += ["--record"]

    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, text=True, start_new_session=True)

    def stop():
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass

    def on_term(*_):
        stop()
        sys.exit(143)

    def on_timeout():
        log(f"run exceeded {RUN_TIMEOUT_S} s, killed")
        stop()

    signal.signal(signal.SIGTERM, on_term)
    timer = threading.Timer(RUN_TIMEOUT_S, on_timeout)
    timer.start()
    last = ""
    try:
        for line in proc.stdout:
            line = line.rstrip("\n")
            if line.startswith("{"):
                last = line
            else:
                print(line, flush=True)
        rc = proc.wait()
    finally:
        timer.cancel()
        stop()  # the JVM's process group: nothing it started outlives the run
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    if not last:
        raise SystemExit(f"[perfbench] no result (exit {rc})")
    print(last, flush=True)
    sys.exit(rc)


if __name__ == "__main__":
    main()
