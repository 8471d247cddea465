#!/usr/bin/env python3
"""Run one workload of the graft benchmark and print its result line.

    python3 perfbench/run.py --workload exact-scan --seed 1 --seconds 10 --trace 0

Builds graft from `src/main/scala` plus the benchmark in `perfbench/src` (see
build.py), runs the workload in one JVM with Spark at `local[--cores]`, and
prints two JSON lines on stdout: the full run record (every metric with its
unit and sample count), then the result line
`{"correct", "attempted", "failed", "metrics"}`. The exit code is nonzero when
the build fails, the run crashes or times out, or a correctness check fails.
Scratch files, logs, run records and traces stay under `.bench_build/`.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # keep the checkout free of __pycache__
import build  # noqa: E402

WORKLOADS = ("exact-scan", "ivf-batch", "serve-mutate", "dedup-corpus")
TIMEOUT_S = 170

# Spark 4 on JDK 17 outside spark-submit needs the module opens that
# org.apache.spark.launcher.JavaModuleOptions injects.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=3)
    a = ap.parse_args()
    if a.seconds < 1 or a.cores < 1:
        ap.error("--seconds and --cores must be >= 1")

    try:
        classes = build.ensure_built()
        jars = os.path.join(build.spark_jars(), "*")
    except (build.BuildError, subprocess.TimeoutExpired) as e:
        print(f"build failed: {e}", file=sys.stderr)
        return 2

    bd = build.BUILD_DIR
    tag = f"{a.workload}-seed{a.seed}-s{a.seconds}-t{a.trace}"
    dirs = {k: os.path.join(bd, k) for k in ("tmp", "spark-local", "logs", "runs")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    record = os.path.join(dirs["runs"], tag + ".json")
    if os.path.exists(record):
        os.remove(record)
    cmd = ["java", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData", "-XX:+UseParallelGC",
           *[x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
           f"-Djava.io.tmpdir={dirs['tmp']}",
           f"-Dspark.local.dir={dirs['spark-local']}",
           f"-Dspark.sql.warehouse.dir={os.path.join(bd, 'warehouse')}",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
           "-cp", classes + os.pathsep + jars, "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", str(a.trace),
           "--cores", str(a.cores),
           "--out", record, "--trace-dir", os.path.join(bd, "traces")]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(a.cores),
               SPARK_LOCAL_DIRS=dirs["spark-local"])
    log = os.path.join(dirs["logs"], tag + ".log")
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT,
                                env=env, cwd=build.ROOT)
        try:
            code = proc.wait(timeout=TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            print(f"timed out after {TIMEOUT_S} s; log: {log}", file=sys.stderr)
            return 3
    if not os.path.exists(record):
        with open(log) as lf:
            sys.stderr.write(lf.read()[-6000:])
        print(f"run failed with exit code {code}; log: {log}", file=sys.stderr)
        return code or 4
    with open(record) as fh:
        out = json.load(fh)
    print(json.dumps(out["record"], sort_keys=True))
    print(json.dumps(out["result"]))
    if not out["result"]["correct"]:
        for f in out["record"].get("check_failures", []):
            print(f"check failed: {f}", file=sys.stderr)
        return 1
    return code


if __name__ == "__main__":
    sys.exit(main())
