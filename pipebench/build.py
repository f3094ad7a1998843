#!/usr/bin/env python3
"""Build file of the pipeline benchmark.

Compiles the engine (src/main/scala) together with the benchmark's own
sources (pipebench/src) into one class directory, with the Scala compiler
that ships among Spark's jars. Nothing outside the checkout is written.

    python3 pipebench/build.py          # from the repository root

The class directory is <build>/classes, where <build> is $CARGO_TARGET_DIR
or .bench_build. A stamp of the sources' hash makes a rebuild happen only
when a source changed.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spark_jars():
    """$SPARK_HOME/jars, or else the jars of the first Spark on PATH that
    ships a Scala compiler."""
    homes = [os.environ.get("SPARK_HOME", "")]
    homes += [os.path.dirname(os.path.realpath(d)) for d in os.environ.get("PATH", "").split(os.pathsep)
              if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        if home and glob.glob(os.path.join(home, "jars", "scala-compiler-*.jar")):
            return os.path.join(home, "jars")
    return os.path.join(homes[0], "jars")


def build_dir():
    return os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or os.path.join(ROOT, ".bench_build"))


def sources():
    engine = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True))
    return engine, bench


def build(log=sys.stderr):
    """Returns the class directory; raises SystemExit(2) when it cannot build."""
    engine, bench = sources()
    if not engine:
        print("pipebench: no engine sources under src/main/scala; run from a full checkout",
              file=log)
        raise SystemExit(2)
    jars = spark_jars()
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        print(f"pipebench: no Scala compiler among the Spark jars in {jars}", file=log)
        raise SystemExit(2)
    h = hashlib.sha256()
    for f in engine + bench:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    digest = h.hexdigest()
    out = build_dir()
    classes = os.path.join(out, "classes")
    stamp = os.path.join(out, "classes.stamp")
    if os.path.exists(stamp) and open(stamp).read().strip() == digest:
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    if os.path.exists(stamp):
        os.remove(stamp)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(engine + bench) + "\n")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", classes, "@" + argfile]
    print(f"pipebench: compiling {len(engine)} engine + {len(bench)} benchmark sources",
          file=log, flush=True)
    r = subprocess.run(cmd, cwd=out, stdout=log, stderr=log)
    if r.returncode != 0:
        print("pipebench: compilation failed", file=log)
        raise SystemExit(2)
    with open(stamp, "w") as fh:
        fh.write(digest + "\n")
    return classes


if __name__ == "__main__":
    print(build())
