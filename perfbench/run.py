#!/usr/bin/env python3
"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload churn --seed 1 --seconds 40 --trace 0

Builds the benchmark (sbt project in this directory, which compiles the
engine's sources from ../src) when its sources changed, then runs one JVM
at local[nproc]. The JVM prints the result object as the last line of
standard output; this script passes it through. Exits non-zero, with no
result, when the engine sources are missing, the build or run fails, or
free disk is below the benchmark's footprint.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main")
BUILD_DIR = os.path.join(HERE, "target")
CLASSPATH_FILE = os.path.join(BUILD_DIR, "runtime-classpath.txt")
STAMP_FILE = os.path.join(BUILD_DIR, "sources.sha256")
WORK_ROOT = os.path.join(HERE, "work")
OUT_DIR = os.path.join(HERE, "out")

# Largest on-disk state of one run (logs, four tables, checkpoints, shuffle
# files) is a few hundred MB; refuse to start without ample headroom.
FOOTPRINT_BYTES = 2 << 30
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
HEAP = "3g"

# A run is too short for C2 to finish warming the engine: under tiered
# compilation its phases were still speeding up 40 s in, so each run's
# medians depended on where its samples fell on that curve. C1 alone
# settles within seconds. It needs a larger code cache than its default
# 48 MB (Spark's generated classes fill that and compilation stops).
# Parallel GC has no concurrent phases competing with the 4 task threads.
JIT_GC = ["-XX:TieredStopAtLevel=1", "-XX:ReservedCodeCacheSize=256m",
          "-XX:+UseParallelGC"]

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


def sources_digest():
    h = hashlib.sha256()
    for base in (os.path.join(HERE, "src"), ENGINE_SRC,
                 os.path.join(ROOT, "build.sbt"),
                 os.path.join(HERE, "build.sbt"),
                 os.path.join(HERE, "project", "build.properties")):
        paths = [base] if os.path.isfile(base) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    digest = sources_digest()
    if os.path.exists(CLASSPATH_FILE) and os.path.exists(STAMP_FILE):
        with open(STAMP_FILE) as f:
            if f.read().strip() == digest:
                return
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false",
            "-Dsbt.log.noformat=true"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    cmd = ["sbt", "--batch"] + opts + ["compile", "writeClasspath"]
    r = subprocess.run(cmd, cwd=HERE, env=env, stdout=sys.stderr,
                       stderr=sys.stderr, timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0 or not os.path.exists(CLASSPATH_FILE):
        fail("build failed")
    with open(STAMP_FILE, "w") as f:
        f.write(digest)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ENGINE_SRC, "scala", "graft")):
        fail(f"engine sources not found under {ENGINE_SRC}")
    os.makedirs(HERE, exist_ok=True)
    free = shutil.disk_usage(HERE).free
    if free < FOOTPRINT_BYTES:
        fail(f"{free >> 20} MB free, the benchmark needs {FOOTPRINT_BYTES >> 20} MB")
    build()

    with open(CLASSPATH_FILE) as f:
        classpath = f.read().strip()
    work = os.path.join(WORK_ROOT, f"{a.workload}-{a.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", f"-Xmx{HEAP}", f"-Xms{HEAP}"] + JIT_GC
           + [f"-Djava.io.tmpdir={tmp}",
              "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "graft.perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--work", work, "--out", OUT_DIR])
    proc = subprocess.Popen(cmd, cwd=HERE, stdout=subprocess.PIPE,
                            stderr=sys.stderr, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail("run timed out or was interrupted")
    finally:
        # logs, tables, checkpoints and the replica all live under `work`
        t0 = time.monotonic()
        n = sum(len(fs) for _, _, fs in os.walk(work))
        shutil.rmtree(work, ignore_errors=True)
        print(f"perfbench: removed the work dir's {n} files in "
              f"{time.monotonic() - t0:.1f} s", file=sys.stderr)
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or not lines[-1].startswith('{"correct"'):
        sys.stderr.write("".join(l + "\n" for l in lines))
        fail(f"run failed (exit {proc.returncode})")
    print("\n".join(lines), flush=True)


if __name__ == "__main__":
    main()
