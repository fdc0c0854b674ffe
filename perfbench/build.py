#!/usr/bin/env python3
"""Build file of the perfbench harness.

Compiles graft's main sources (`src/main/scala` plus `src/main/resources`)
and the harness sources (`perfbench/src`) with the Scala compiler that ships
in the Spark distribution, into `.perfbench/build/` under the repo root. No
sbt, no dependency resolution: the classpath is Spark's own jars. Each output
directory is named by a hash of its sources, so a checkout builds once and
reuses the classes on later runs, and a harness edit does not rebuild graft.

    python3 perfbench/build.py          # build if needed, print the classpath
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def fail(msg):
    print(f"perfbench build: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """`$SPARK_HOME/jars`, else the `jars` beside the first `bin/spark-submit`
    on PATH that has one."""
    homes = [os.environ.get("SPARK_HOME", "")]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        if os.path.isfile(os.path.join(d, "spark-submit")):
            homes.append(os.path.dirname(os.path.realpath(d)))
    for home in filter(None, homes):
        if os.path.isdir(os.path.join(home, "jars")):
            return os.path.join(home, "jars")
    fail("no Spark distribution: set SPARK_HOME or put its bin/ on PATH")


def compiler_cp(jars):
    found = []
    for name in ("scala-compiler", "scala-library", "scala-reflect"):
        hits = sorted(glob.glob(os.path.join(jars, f"{name}-2.13.*.jar")))
        if not hits:
            fail(f"{name} 2.13 jar not found in {jars}")
        found.append(hits[-1])
    return os.pathsep.join(found)


def sources(d, exts):
    out = []
    for base, _, files in os.walk(d):
        out += [os.path.join(base, f) for f in files if f.endswith(exts)]
    return sorted(out)


def stamp(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()[:16]


def scalac(jars, out, classpath, files):
    os.makedirs(out, exist_ok=True)
    argfile = out + ".args"
    with open(argfile, "w") as f:
        f.write("\n".join(files))
    cmd = ["java", "-Xss8m", "-Xmx1536m", "-cp", compiler_cp(jars),
           "scala.tools.nsc.Main", "-nowarn", "-d", out,
           "-classpath", classpath, "@" + argfile]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        fail(f"scalac failed ({r.returncode}) for {out}")


def clean(top, keep=None):
    """Remove earlier builds under `top`, except `keep` and its files."""
    if not os.path.isdir(top):
        return
    for name in os.listdir(top):
        path = os.path.join(top, name)
        if keep and path.startswith(keep):
            continue
        if os.path.isdir(path):
            shutil.rmtree(path)
        else:
            os.remove(path)


def ensure():
    """Build if needed; return the run classpath."""
    main_src = os.path.join(ROOT, "src", "main", "scala")
    main_res = os.path.join(ROOT, "src", "main", "resources")
    bench_src = os.path.join(HERE, "src")
    for d in (main_src, bench_src):
        if not os.path.isdir(d):
            fail(f"missing source directory {os.path.relpath(d, ROOT)}")
    graft_files = sources(main_src, (".scala", ".java"))
    bench_files = sources(bench_src, (".scala",))
    if not graft_files or not bench_files:
        fail("no sources to build")
    res_files = sources(main_res, ("",)) if os.path.isdir(main_res) else []
    jars = spark_jars()
    spark_cp = os.path.join(jars, "*")
    top = os.path.join(ROOT, ".perfbench", "build")
    graft_key = stamp(graft_files + res_files)
    graft_out = os.path.join(top, "graft-" + graft_key)
    bench_out = os.path.join(top, f"bench-{graft_key}-{stamp(bench_files)}")
    if not os.path.exists(graft_out + ".ok"):
        clean(top)
        print(f"perfbench build: compiling {len(graft_files)} graft sources",
              file=sys.stderr)
        scalac(jars, graft_out, spark_cp, graft_files)
        for f in res_files:
            dst = os.path.join(graft_out, os.path.relpath(f, main_res))
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            shutil.copyfile(f, dst)
        open(graft_out + ".ok", "w").close()
    if not os.path.exists(bench_out + ".ok"):
        clean(top, keep=graft_out)
        print(f"perfbench build: compiling {len(bench_files)} harness sources",
              file=sys.stderr)
        scalac(jars, bench_out, os.pathsep.join([graft_out, spark_cp]),
               bench_files)
        open(bench_out + ".ok", "w").close()
    return os.pathsep.join([bench_out, graft_out, spark_cp])


if __name__ == "__main__":
    print(ensure())
