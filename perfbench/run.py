#!/usr/bin/env python3
"""Build the graft library plus the benchmark harness from source and run
one benchmark workload.

    python3 perfbench/run.py --workload <curate_corpus|resident_mix|all> \
        --seed <n> --seconds <s> --trace <0|1> [--jit <c1|tiered>]

Run from the repository root. The first run compiles `src/main/scala`
and `perfbench/src` with the Scala compiler that ships in Spark's jar
directory ($SPARK_HOME/jars, or the `jars` beside the `spark-submit` on
PATH) into `.bench_build/perfbench/classes`; later runs reuse the classes
while the sources hash the same. The last line of stdout is the result object.
Exits non-zero, without a result, when the build or the run fails, and
non-zero after printing the result when an output check fails.
`--workload all` runs the workloads one after another. `--jit tiered`
runs the JVM with its default tiered JIT (C1 then C2) instead of the C1-only
JIT the benchmark's figures are taken with.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSES = os.path.join(BUILD, "classes")
STAMP = os.path.join(BUILD, "classes.sha256")
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"),
               os.path.join(ROOT, "perfbench", "src")]
RESOURCES = os.path.join(ROOT, "src", "main", "resources")

def spark_jars():
    """$SPARK_HOME/jars, else the first `jars` beside a `spark-submit` on PATH."""
    homes = [os.environ.get("SPARK_HOME", "")]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        if os.path.isfile(os.path.join(d, "spark-submit")):
            homes.append(os.path.dirname(os.path.realpath(d)))
    return next((os.path.join(h, "jars") for h in homes
                 if h and os.path.isdir(os.path.join(h, "jars"))), "")


SPARK_JARS = spark_jars()
RUN_TIMEOUT_S = 170
HEAP = "2g"
# C1 only by default: a run is too short for C2 to settle. With tiered C2
# the compiler threads still took a third or more of the JVM's CPU during
# the timed passes and made per-pass CPU vary by up to 1.8x between runs.
# `--jit tiered` keeps the JVM's default, as spark-submit runs the library.
JIT = {"c1": ["-XX:TieredStopAtLevel=1"], "tiered": []}

# Spark on JDK 17 outside spark-submit needs these (as in build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources():
    out = []
    for d in SOURCE_DIRS:
        if not os.path.isdir(d):
            raise SystemExit(f"[perfbench] missing source directory {os.path.relpath(d, ROOT)}")
        for dirpath, _, files in os.walk(d):
            out += [os.path.join(dirpath, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build():
    srcs = sources()
    h = hashlib.sha256()
    for path in srcs:
        h.update(path.encode())
        with open(path, "rb") as f:
            h.update(f.read())
    digest = h.hexdigest()
    if os.path.exists(STAMP) and open(STAMP).read() == digest:
        return
    if not SPARK_JARS:
        raise SystemExit("[perfbench] no Spark jars: set SPARK_HOME")
    log(f"compiling {len(srcs)} sources")
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    t0 = time.time()
    rc = subprocess.call(
        ["java", "-Xmx2g", "-Xss8m", "-cp", os.path.join(SPARK_JARS, "*"),
         "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", CLASSES, "@" + argfile],
        stdout=sys.stderr)
    if rc != 0:
        raise SystemExit(f"[perfbench] compile failed ({rc})")
    if os.path.isdir(RESOURCES):
        shutil.copytree(RESOURCES, CLASSES, dirs_exist_ok=True)
    with open(STAMP, "w") as f:
        f.write(digest)
    log(f"compiled in {time.time() - t0:.1f} s")


def git_rev():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True, text=True,
                              timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


WORKLOADS = ["curate_corpus", "resident_mix"]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    ap.add_argument("--jit", choices=sorted(JIT), default="c1")
    a = ap.parse_args()

    os.makedirs(BUILD, exist_ok=True)
    build()
    if a.workload != "all":
        return run(a.workload, a.seed, a.seconds, a.trace, a.jit)
    return max(run(w, a.seed, a.seconds, a.trace, a.jit) for w in WORKLOADS)


def run(workload, seed, seconds, trace, jit):
    """Runs one workload in a fresh JVM; returns its exit code."""
    tag = "" if jit == "c1" else f"-{jit}"
    run_dir = os.path.join(BUILD, "runs", f"{workload}-s{seed}-t{trace}{tag}")
    os.makedirs(run_dir, exist_ok=True)
    cmd = (["java", f"-Xmx{HEAP}"] + JIT[jit] + [f"-Dperfbench.gitRev={git_rev()}",
            f"-Dperfbench.jit={jit}",
            f"-Djava.io.tmpdir={os.path.join(BUILD, 'tmp')}",
            f"-Dspark.local.dir={os.path.join(BUILD, 'tmp')}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", CLASSES + os.pathsep + os.path.join(SPARK_JARS, "*"),
              "perfbench.Main", "--workload", workload, "--seed", str(seed),
              "--seconds", str(seconds), "--trace", trace,
              "--work", os.path.join(run_dir, "work")])
    if trace == "1":
        # the tracing overhead is measured against the untraced run of
        # the same workload and seed, when one has run in this checkout
        base = os.path.join(BUILD, "runs", f"{workload}-s{seed}-t0{tag}", "work", "records")
        records = sorted((os.path.join(base, f) for f in os.listdir(base) if f.endswith(".json")),
                         key=os.path.getmtime) if os.path.isdir(base) else []
        if records:
            cmd += ["--baseline", records[-1]]
    os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "w") as jvm_log:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=jvm_log, text=True,
                                start_new_session=True)
        try:
            stdout, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            log(f"run exceeded {RUN_TIMEOUT_S} s; killed (log: {os.path.relpath(log_path, ROOT)})")
            return 1
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    lines = stdout.rstrip("\n").splitlines()
    if proc.returncode != 0 or not lines or not lines[-1].startswith("{"):
        sys.stdout.write(stdout)
        with open(log_path) as f:
            tail = f.readlines()[-40:]
        sys.stderr.write("".join(tail))
        log(f"run failed with exit code {proc.returncode}")
        return proc.returncode or 1
    sys.stdout.write(stdout)
    sys.stdout.flush()
    return 0


if __name__ == "__main__":
    sys.exit(main())
