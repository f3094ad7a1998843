#!/usr/bin/env python3
"""Steadiness check: run one workload with several seeds and report, for
every end-to-end metric, the median, the quartiles and the spread (the
distance between the first and the third quartile as a share of the
median), next to the bound BENCHMARK.json fixes for it.

    python3 pipebench/steady.py --workload backfill --seeds 1-10 [--out runs.json]

Run from the repository root. Each run is `run.py ... --trace 0` with the
benchmark's run_seconds.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec):
    out = []
    for part in spec.split(","):
        if "-" in part:
            a, b = part.split("-")
            out += range(int(a), int(b) + 1)
        else:
            out.append(int(part))
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 1-10 or 3,5,8")
    ap.add_argument("--out")
    a = ap.parse_args()
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    runs = []
    for seed in seeds(a.seeds):
        t = time.time()
        r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
                            "--seed", str(seed), "--seconds", str(bench["run_seconds"]),
                            "--trace", "0"], cwd=ROOT, stdout=subprocess.PIPE,
                           stderr=subprocess.PIPE, text=True)
        elapsed = time.time() - t
        lines = r.stdout.strip().splitlines()
        res = json.loads(lines[-1]) if lines else None
        # the run's own summary lines: set-up breakdown and every operation's time
        log = [ln for ln in r.stderr.splitlines() if ln.startswith("[pipebench]")]
        runs.append({"seed": seed, "exit": r.returncode, "elapsed_s": round(elapsed, 1),
                     "log": log, "result": res})
        print(f"seed {seed}: exit {r.returncode}, {elapsed:.1f} s, correct "
              f"{res and res['correct']}", file=sys.stderr, flush=True)
    report = {}
    for name in bounds:
        vals = [r["result"]["metrics"][name]["value"] for r in runs if r["result"]]
        if len(vals) < 2:
            continue
        q1, med, q3 = statistics.quantiles(vals, n=4)
        report[name] = {"median": med, "q1": q1, "q3": q3,
                        "spread": (q3 - q1) / med if med else float("inf"),
                        "bound": bounds[name], "n": len(vals)}
    for name, s in report.items():
        flag = "ok" if name == "setup_s" or s["spread"] < s["bound"] / 3 else "WIDE"
        print(f"{name:24s} median {s['median']:12.4f}  q1 {s['q1']:12.4f}  q3 {s['q3']:12.4f}"
              f"  spread {s['spread']:.4f}  bound {s['bound']}  {flag}")
    if a.out:
        with open(a.out, "w") as fh:
            json.dump({"workload": a.workload, "runs": runs, "summary": report}, fh, indent=1)


if __name__ == "__main__":
    main()
