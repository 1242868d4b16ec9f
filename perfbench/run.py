#!/usr/bin/env python3
"""Benchmark of the production pipeline (see perfbench/README.md).

    python3 perfbench/run.py --workload crawl --seed 1 --seconds 8 --trace 0

Builds src/main/scala plus perfbench/scala with the Scala compiler that ships
in Spark's jars (cached under .bench_build/ by a hash of the sources), runs
one workload in a fresh JVM, and prints the result JSON as the last line of
standard output. Exits non-zero, printing no result, when the program's
sources are missing or the run fails.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
GOLDEN = os.path.join(ROOT, "src", "test", "resources", "golden", "chunks-1k.jsonl")

WORKLOADS = ("crawl", "rag_search")
RUN_TIMEOUT_S = 170  # the JVM's own budget, build excluded

# JDK 17 module opens Spark needs outside spark-submit (as in build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """Spark's jars directory: $SPARK_HOME/jars, else next to spark-submit."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark installation: set SPARK_HOME")
    return os.path.join(home, "jars")


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "scala", "**", "*.scala"), recursive=True))
    if not main:
        fail("no program sources under src/main/scala")
    return main + bench


def build(jars):
    """Compile once per distinct source tree; returns the classes directory."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    classes = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    if os.path.isdir(classes):
        return classes
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    compiler = ":".join(j for p in ("scala-compiler", "scala-library", "scala-reflect")
                        for j in glob.glob(os.path.join(jars, p + "-2.13.*.jar")))
    t0 = time.time()
    # -XX:-UsePerfData: the JVM would otherwise write /tmp/hsperfdata_<user>
    res = subprocess.run(["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", compiler, "scala.tools.nsc.Main",
                          "-nowarn", "-d", tmp, "-classpath", os.path.join(jars, "*")] + srcs,
                         stdout=sys.stderr, stderr=sys.stderr)
    if res.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        fail("build failed")
    for old in glob.glob(os.path.join(BUILD, "classes-*")):
        if old != tmp:
            shutil.rmtree(old, ignore_errors=True)
    os.rename(tmp, classes)
    print(f"perfbench: built in {time.time() - t0:.1f}s", file=sys.stderr)
    return classes


def memory_mb():
    """Heap and off-heap sizes from MemTotal: a fifth and a tenth of it,
    clamped, so the JVM fits a shared machine of any size."""
    total_kb = 8 << 20
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                total_kb = int(line.split()[1])
    total_mb = total_kb // 1024
    return min(max(total_mb // 5, 1024), 4096), min(max(total_mb // 10, 512), 2048)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isfile(GOLDEN):
        fail(f"missing golden fixture {os.path.relpath(GOLDEN, ROOT)}")
    jars = spark_jars()
    classes = build(jars)

    cores = len(os.sched_getaffinity(0))
    heap, offheap = memory_mb()
    work = os.path.join(BUILD, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = ["java", "-XX:-UsePerfData", f"-Xmx{heap}m", f"-Xms{heap}m", "-XX:+UseParallelGC", "-XX:NewRatio=1",
           "-XX:ReservedCodeCacheSize=512m", f"-Djava.io.tmpdir={work}/tmp",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-Dspark.executor.heartbeat.maxFailures=100000",
           "-Dspark.executor.heartbeatInterval=60s", "-Dspark.network.timeout=600s"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", f"{classes}:{os.path.join(jars, '*')}", "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work, "--golden", GOLDEN,
            "--cores", str(cores), "--offheap-mb", str(offheap)]
    print(f"perfbench: workload={a.workload} seed={a.seed} cores={cores} heap={heap}m "
          f"offheap={offheap}m", file=sys.stderr)
    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=sys.stderr,
                            text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S}s")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    lines = out.strip().splitlines()
    if proc.returncode != 0 or not lines:
        fail(f"run failed with exit code {proc.returncode}")
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail("malformed result line")
    print(f"perfbench: seed {a.seed}")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
