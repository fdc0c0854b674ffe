#!/usr/bin/env python3
"""Run one perfbench workload against graft's log engine.

    python3 perfbench/run.py --workload search_sparse --seed 1 --seconds 12 --trace 0

Builds graft and the harness on first use (see build.py), then runs the
workload in one JVM (`perfbench.Main`). The last line of stdout is the
result: {"correct", "attempted", "failed", "metrics"}. `--trace 0` reports
the end-to-end metrics, `--trace 1` the per-layer ones. The full record
(environment, every query, spans) goes to `.perfbench/results/`.
Exits non-zero, without a result line, if the build, a check or the run fails.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # keep the checkout clean
import build  # noqa: E402

WORKLOADS = ("search_sparse", "cat_dense", "ingest_merge")
TIMEOUT_S = 170

# What spark-submit adds on JDK 17 (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args()

    cp = build.ensure()
    work = os.path.join(ROOT, ".perfbench", "work")
    results = os.path.join(ROOT, ".perfbench", "results")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(results, exist_ok=True)
    opens = [x for o in ADD_OPENS for x in ("--add-opens", f"{o}=ALL-UNNAMED")]
    cmd = ["java", "-Xms1g", "-Xmx1g", *opens,
           "-Dfile.encoding=UTF-8", f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.local.dir={tmp}",
           f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
           "-cp", cp, "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", str(a.trace),
           "--work", work, "--results", results]
    env = dict(os.environ, LANG="C.UTF-8", LC_ALL="C.UTF-8")
    for k in ("GRAFT_SPARK_MASTER", "GRAFT_SHUFFLE_PARTITIONS", "GRAFT_LOG_ROOT"):
        env.pop(k, None)
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE,
                            stderr=sys.stderr, text=True)
    try:
        out, _ = proc.communicate(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        print("perfbench: run timed out", file=sys.stderr)
        sys.exit(3)
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        print(f"perfbench: run failed (exit {proc.returncode})", file=sys.stderr)
        sys.exit(proc.returncode or 4)
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        print("perfbench: malformed result line", file=sys.stderr)
        sys.exit(5)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
