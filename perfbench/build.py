#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine's sources (src/main) and
the benchmark's own Scala sources (perfbench/src) with the Scala compiler
that ships in the Spark distribution, into .bench_build/classes.

Run from the repository root: `python3 perfbench/build.py`. A build is
skipped when the sources hash to the stamp of the last build.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

BUILD_DIR = ".bench_build"


class BuildError(Exception):
    pass


def spark_jars():
    """The Spark distribution's jar directory: $SPARK_HOME/jars, else the
    one beside `spark-submit` on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars") if home else ""
    if not jars or not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise BuildError("no Spark distribution with a Scala compiler found "
                         "(set SPARK_HOME)")
    return jars


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.exists(exe):
        raise BuildError("no java found (set JAVA_HOME)")
    return exe


def sources():
    engine = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True) +
                    glob.glob("src/main/java/**/*.java", recursive=True))
    if not engine:
        raise BuildError("no engine sources under src/main: run from the "
                         "repository root")
    bench = sorted(glob.glob("perfbench/src/**/*.scala", recursive=True))
    return engine + bench


def build(log=sys.stderr):
    """Compile if needed; returns the classpath to run the benchmark with."""
    jars = spark_jars()
    srcs = sources()
    digest = hashlib.sha256()
    for s in srcs:
        digest.update(s.encode())
        with open(s, "rb") as f:
            digest.update(f.read())
    stamp = digest.hexdigest()
    classes = os.path.join(BUILD_DIR, "classes")
    stamp_file = os.path.join(classes, "STAMP")
    cp = f"{classes}:{jars}/*"
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return cp
    tmp = os.path.join(BUILD_DIR, f"classes.tmp{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(BUILD_DIR, "scalac.args")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    print(f"[perfbench] compiling {len(srcs)} sources", file=log, flush=True)
    rc = subprocess.run(
        [java(), "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
         "-classpath", f"{jars}/*", "-d", tmp, "-nowarn", f"@{argfile}"],
        stdout=log, stderr=log).returncode
    if rc != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError(f"scalac exited with {rc}")
    with open(os.path.join(tmp, "STAMP"), "w") as f:
        f.write(stamp)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    return cp


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(1)
