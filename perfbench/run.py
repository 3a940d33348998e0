#!/usr/bin/env python3
"""Run one benchmark workload, or the self-test of the benchmark's checks.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <n> --trace <0|1>
    python3 perfbench/run.py --selftest

Run from the root of a checkout. The engine is built from the checkout's own
sources by perfbench/build.sbt (sbt, offline) when they change; the build goes
to stderr. The workload then runs in one JVM at local[<cpus>] with a heap sized
to the machine, and its last line of standard output is the result as JSON.
Everything the run writes stays under perfbench/out/ and perfbench/target/.
"""
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
OUT = os.path.join(BENCH, "out")
CLASSES = os.path.join(BENCH, "target", "scala-2.13", "classes")
STAMP = os.path.join(BENCH, "target", "perfbench.stamp")
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170

# Spark 4 on JDK 17 outside spark-submit (same list as the root build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources_digest():
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src"),
            os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(p[len(ROOT):].encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"no engine sources under {ROOT}/src/main/scala; run from a full checkout", 2)
    digest = sources_digest()
    if os.path.isdir(CLASSES) and os.path.exists(STAMP) and open(STAMP).read() == digest:
        return
    print("perfbench: building the engine and the benchmark (sbt)", file=sys.stderr)
    try:
        r = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "Compile/products"],
                           cwd=BENCH, stdout=sys.stderr, stderr=sys.stderr,
                           stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out", 3)
    if r.returncode != 0:
        fail(f"build failed (sbt exit {r.returncode})", 3)
    with open(STAMP, "w") as f:
        f.write(digest)


def heap_gb():
    """A third of physical memory, between 2 and 6 GiB."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return max(2, min(6, kb // (3 * 1024 * 1024)))
    except (OSError, StopIteration, ValueError):
        return 2


def main(argv):
    selftest = "--selftest" in argv
    build()
    run_dir = os.path.join(OUT, f"run-{os.getpid()}")
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    spark_jars = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars", "*")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    cmd = [java, f"-Xms{heap_gb()}g", f"-Xmx{heap_gb()}g", "-XX:+UseParallelGC", "-XX:NewRatio=1",
           "-XX:-UsePerfData",  # no hsperfdata file outside the checkout
           "-Dfile.encoding=UTF-8", "-Dsun.jnu.encoding=UTF-8",
           f"-Djava.io.tmpdir={run_dir}/tmp", f"-Dperfbench.out={OUT}",
           f"-Dperfbench.t0ms={int(time.time() * 1000)}"]
    cmd += [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS]
    cmd += ["-cp", f"{CLASSES}:{spark_jars}",
            "perfbench.SelfTest" if selftest else "perfbench.Main"]
    cmd += [] if selftest else argv
    proc = subprocess.Popen(cmd, cwd=run_dir, stdin=subprocess.DEVNULL,
                            start_new_session=True)
    try:
        code = proc.wait(timeout=None if selftest else RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        code = 4
        print("perfbench: run timed out", file=sys.stderr)
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
    sys.exit(code)


if __name__ == "__main__":
    main(sys.argv[1:])
