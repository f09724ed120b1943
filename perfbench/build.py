#!/usr/bin/env python3
"""Build file of the benchmark: compiles graft and the benchmark program.

graft's main sources and resources (src/main) and the benchmark program
(perfbench/src) are compiled with the Scala compiler that ships among
the Spark jars ($SPARK_HOME/jars, or beside spark-submit on the PATH),
so no build tool and no download is needed. Output goes to
.bench_build/ at the root of the checkout, in directories named by a
hash of their sources, so a build whose sources are unchanged is
reused.

    python3 perfbench/build.py          # prints the classpath it built
"""
import fcntl
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
def _spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    return os.path.join(home, "jars") if home else ""


SPARK_JARS = _spark_jars()
# graft sources to build; compare.py points this at another tree
SRC_ROOT = os.environ.get("GRAFT_SRC_ROOT", ROOT)
BUILD_ROOT = os.path.join(ROOT, ".bench_build")


class BuildError(Exception):
    pass


def _sources(base):
    return sorted(glob.glob(os.path.join(base, "**", "*.scala"), recursive=True))


def _digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, SRC_ROOT if f.startswith(SRC_ROOT) else ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def _scalac(out, classpath, files):
    os.makedirs(out, exist_ok=True)
    jars = os.path.join(SPARK_JARS, "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-d", out, "-classpath", classpath] + files
    p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if p.returncode != 0:
        raise BuildError("scalac failed:\n" + p.stdout[-4000:])


def _resources(base):
    return sorted(f for f in glob.glob(os.path.join(base, "**", "*"), recursive=True)
                  if os.path.isfile(f))


def build():
    """Compile if needed; returns the runtime classpath."""
    graft_src = _sources(os.path.join(SRC_ROOT, "src", "main", "scala"))
    bench_src = _sources(os.path.join(HERE, "src"))
    if not graft_src:
        raise BuildError("no graft sources under src/main/scala")
    if not bench_src:
        raise BuildError("no benchmark sources under perfbench/src")
    if not glob.glob(os.path.join(SPARK_JARS, "spark-sql_*.jar")):
        raise BuildError(f"no Spark jars found (SPARK_HOME={SPARK_JARS or 'unset'})")
    res_root = os.path.join(SRC_ROOT, "src", "main", "resources")
    graft_res = _resources(res_root)
    graft_key = _digest(graft_src + graft_res)
    graft_out = os.path.join(BUILD_ROOT, "graft-" + graft_key)
    bench_out = os.path.join(BUILD_ROOT, "bench-" + _digest(bench_src) + "-" + graft_key)
    jars = os.path.join(SPARK_JARS, "*")
    os.makedirs(BUILD_ROOT, exist_ok=True)
    with open(os.path.join(BUILD_ROOT, "lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        for out, cp, files in ((graft_out, jars, graft_src),
                               (bench_out, os.pathsep.join([graft_out, jars]), bench_src)):
            done = out + ".done"
            if not os.path.exists(done):
                shutil.rmtree(out, ignore_errors=True)
                _scalac(out, cp, files)
                if out == graft_out:  # the data source registrations
                    for f in graft_res:
                        dst = os.path.join(out, os.path.relpath(f, res_root))
                        os.makedirs(os.path.dirname(dst), exist_ok=True)
                        shutil.copyfile(f, dst)
                open(done, "w").close()
    return os.pathsep.join([graft_out, bench_out, jars])


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(e, file=sys.stderr)
        sys.exit(2)
