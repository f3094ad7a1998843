#!/usr/bin/env python3
"""Pipeline benchmark: backfill, incremental drain, analytics refresh and
lake upsert over seeded Solana-shaped blocks.

    python3 pipebench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 pipebench/run.py --spec      # the block generator's own checks

Run from the repository root. The first run builds the engine and the
benchmark (see build.py). The last line of standard output is one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones, with --trace 1 the per-layer ones, and the
traced run's spans are written to <build>/traces. The exit code is non-zero
when a correctness check fails or the run cannot complete.
"""
import argparse
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("backfill", "analytics")
# A run is set-up plus two phases of --seconds plus the traced run's
# probes; at --seconds 10 this allows 170 s
RUN_BASE_S, RUN_PER_SECOND = 120, 5
HEAP = "3g"

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def jvm(classes, work, main, args, timeout):
    """Runs a benchmark main in its own process group; returns (code, stdout lines)."""
    nproc = len(os.sched_getaffinity(0))
    cp = os.pathsep.join([classes, os.path.join(build.spark_jars(), "*")])
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # C1 only: the compiled code reaches its steady state within a few
    # operations instead of minutes of C2 recompilation competing with the
    # tasks for the same cores, so a short run measures steady operations.
    # C1 only also shrinks the code cache to 48 MB, which Spark's generated
    # code fills within a minute, after which operations slow down; 240 MB
    # is what the default tiered JVM reserves. A fixed heap (-Xms = -Xmx)
    # keeps the full GC after each operation from shrinking it, which made
    # the live heap after that GC land on one of several levels per run
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC", "-XX:TieredStopAtLevel=1",
           "-XX:ReservedCodeCacheSize=240m"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, main] + args
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(nproc), SPARK_LOCAL_DIRS=tmp)
    env.pop("SPARK_MASTER", None)
    p = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE,
                         stderr=sys.stderr, text=True, start_new_session=True)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        print(f"pipebench: run exceeded {timeout} s and was stopped", file=sys.stderr)
        return 124, []
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    return p.returncode, out.splitlines()


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1))
    ap.add_argument("--spec", action="store_true", help="run the generator's checks")
    a = ap.parse_args()
    if not a.spec and None in (a.workload, a.seed, a.seconds, a.trace):
        ap.error("--workload, --seed, --seconds and --trace are required")

    classes = build.build()
    out = build.build_dir()
    name = "spec" if a.spec else a.workload
    work = os.path.join(out, "work", f"{name}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    try:
        if a.spec:
            code, lines = jvm(classes, work, "graft.pipebench.GenSpec", [], RUN_BASE_S)
            print("\n".join(lines))
            return code
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--work", work,
                "--traces", os.path.join(out, "traces")]
        timeout = RUN_BASE_S + RUN_PER_SECOND * a.seconds
        code, lines = jvm(classes, work, "graft.pipebench.PipeBench", args, timeout)
        result = [ln for ln in lines if ln.startswith("{\"correct\"")]
        for ln in lines:
            if ln not in result:
                print(ln, file=sys.stderr)
        if not result:
            print("pipebench: the run printed no result", file=sys.stderr)
            return code or 3
        print(result[-1])
        return code
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
