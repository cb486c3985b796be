#!/usr/bin/env python3
"""Fresh-JVM per-query timing sweep for the scaling fit (r11 verdict
ask #4: a third scale point).

For each named query, launches ONE child JVM (`graft.Bench <q>` — warm
run + min of 2 timed runs, exactly the harness the committed records
use) with cwd in a temp dir, reads the child's bench_full.json, and
assembles a bench-record-shaped JSON for dev/bench_scaling.py. Children
run SEQUENTIALLY so they never contend with each other; each child's
start loadavg is recorded in the "isolated" triple so a contaminated
reading is visible in the data (the r11 second-opinion lesson).

Usage: dev/bench_points.py <sf_dir> <out.json> <q1> [q2 ...]
Env:   passed to each child unchanged, so SPARK_GRAFT_CPUS sets local[n]
       and the shuffle partitions as it does for a sweep (graft.Bench's
       default 4 when unset); SPARK_DRIVER_MEM is the child -Xmx (default 8g)
"""
import json, os, subprocess, sys, tempfile

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def loadavg1():
    try:
        with open("/proc/loadavg") as f:
            return float(f.read().split()[0])
    except OSError:
        return -1.0


def main():
    sf_dir, out_path, queries = sys.argv[1], sys.argv[2], sys.argv[3:]
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    cp = f"{repo}/target/scala-2.13/classes:/opt/spark/jars/*"
    jvm = ["java"]
    for p in ADD_OPENS:
        jvm += ["--add-opens", f"{p}=ALL-UNNAMED"]
    jvm += [f"-Xmx{os.environ.get('SPARK_DRIVER_MEM', '8g')}",
            "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "graft.Bench"]
    env = dict(os.environ, SPARK_GRAFT_SF_DIR=sf_dir)
    results, iso = {}, {}
    for q in queries:
        with tempfile.TemporaryDirectory(prefix=f"bp_{q}_") as cwd:
            ld = loadavg1()
            print(f"[points] {q} @ {sf_dir} (loadavg {ld})",
                  file=sys.stderr, flush=True)
            r = subprocess.run(jvm + [q], cwd=cwd, env=env,
                               stdout=subprocess.DEVNULL,
                               stderr=subprocess.DEVNULL)
            child = os.path.join(cwd, "bench_full.json")
            t = -1.0
            if r.returncode == 0 and os.path.exists(child):
                with open(child) as f:
                    t = json.load(f)["queries"].get(q, -1.0)
            if t < 0:
                print(f"[points] {q} FAILED (rc={r.returncode})",
                      file=sys.stderr, flush=True)
            results[q] = t
            iso[q] = [t, t, ld]
    rec = {"metric": "total",
           "value": round(sum(t for t in results.values() if t > 0), 3),
           "unit": "sec", "queries": results, "isolated": iso,
           "sf": sf_dir}
    with open(out_path, "w") as f:
        f.write(json.dumps(rec) + "\n")
    print(f"[points] written {out_path} "
          f"({sum(1 for t in results.values() if t > 0)}/{len(queries)} ok)",
          file=sys.stderr)


if __name__ == "__main__":
    main()
