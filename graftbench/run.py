#!/usr/bin/env python3
"""Build graft with its benchmark and run one workload.

    python3 graftbench/run.py --workload etl --seed 1 --seconds 10 --trace 0

The first run in a checkout compiles graft's sources together with the
benchmark (sbt, offline), records the runtime classpath, and runs a
short training pass of every workload that leaves a class-data sharing
archive; later runs start one plain JVM on that archive. The last line
of stdout is the result JSON. Every file the run writes stays under
graftbench/target.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
CLASSPATH = os.path.join(TARGET, "classpath.txt")
STAMP = os.path.join(TARGET, "build.stamp")
ARCHIVE = os.path.join(TARGET, "classes.jsa")
WORKLOADS = ["etl", "lakehouse", "dedup"]
BUILD_TIMEOUT_S = 450
TRAIN_TIMEOUT_S = 240
RUN_TIMEOUT_S = 170
HEAP = "3g"
# The client compiler only: with the server compiler ops kept getting
# faster through the whole measured phase (an etl flow 1.7 s -> 1.0 s in
# 10 s), so a run's medians said how far compilation had come, which
# other load on the host decides. Client-compiled code is slower but
# settles within the first cycle.
JIT = ["-XX:TieredStopAtLevel=1"]
# no more collector threads than the session's task threads (nproc-2)
GC = ["-XX:+UseParallelGC", f"-XX:ParallelGCThreads={max(1, (os.cpu_count() or 1) - 2)}"]

# Spark on JDK 17 needs these outside spark-submit (as in the root build).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    """Digest of every input of the build, so a changed tree rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("graft sources (src/main/scala) not found beside graftbench/")
    digest = source_digest()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read().strip() == digest:
                return
    if shutil.which("sbt") is None:
        fail("sbt not found on PATH")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"]
    try:
        r = subprocess.run(cmd, cwd=HERE, env=env, stdout=sys.stderr,
                           stderr=sys.stderr, timeout=BUILD_TIMEOUT_S,
                           start_new_session=True)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    if r.returncode != 0 or not os.path.exists(CLASSPATH):
        fail(f"build failed (sbt exit {r.returncode})")
    # class-data sharing: loading Spark's classes is most of a cold
    # start, and the archive makes it short and even from run to run
    if os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    work = os.path.join(TARGET, "work", "train")
    rc, _ = run_jvm([f"-XX:ArchiveClassesAtExit={ARCHIVE}"], work, ["--train"],
                    TRAIN_TIMEOUT_S, stdout=sys.stderr)
    if rc != 0 or not os.path.exists(ARCHIVE):
        fail(f"training pass failed (exit {rc})")
    with open(STAMP, "w") as f:
        f.write(digest)


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.exists(exe):
        fail("java not found")
    return exe


def run_jvm(flags, work, args, timeout, stdout):
    """Run graftbench.Main in a fresh work dir, then delete the dir.
    Returns its exit code and stdout; on timeout kills it and fails."""
    with open(CLASSPATH) as f:
        cp = f.read().strip()
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = [java(), f"-Xms{HEAP}", f"-Xmx{HEAP}", *GC, *JIT, *flags,
           "-Xlog:disable", "-Xlog:all=warning:stderr",
           f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
           *opens, "-cp", cp, "graftbench.Main", *args, "--work", work]
    p = subprocess.Popen(cmd, cwd=work, stdout=stdout, stderr=sys.stderr,
                         text=True, start_new_session=True)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail(f"JVM exceeded {timeout}s")
    shutil.rmtree(work, ignore_errors=True)
    return p.returncode, out or ""


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    build()
    work = os.path.join(TARGET, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    rc, out = run_jvm([f"-XX:SharedArchiveFile={ARCHIVE}"], work,
                ["--workload", a.workload, "--seed", str(a.seed),
                 "--seconds", str(a.seconds), "--trace", str(a.trace)],
                RUN_TIMEOUT_S, stdout=subprocess.PIPE)
    lines = [l for l in out.splitlines() if l.strip()]
    if rc != 0 or not lines:
        fail(f"benchmark JVM exited {rc}")
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail("malformed result line")
    for l in lines[:-1]:
        print(l, file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
