#!/usr/bin/env python3
"""Steadiness check: runs two sets of benchmark runs and prints, per
workload and end-to-end metric, the spread of each set against the
metric's bound in BENCHMARK.json.

    python3 perfbench/steady.py [--workloads a,b]

Run from the root of a checkout. Set k uses seeds k*1000+1 .. k*1000+RUNS.
The spread of a set is (Q3 - Q1) / median, with quartiles from
statistics.quantiles(values, n=4). A metric passes when every set's spread
is within its bound and the second set's median is not worse than the
first set's by more than the bound. Exits 1 when one does not.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUNS = 10
SETS = 2


def one_run(workload, seed, seconds):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stderr[-2000:])
        raise SystemExit(f"run failed: {' '.join(cmd)}")
    return json.loads(lines[-1])


def spread(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med if med else float("inf"), statistics.median(values)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    args = ap.parse_args()
    metrics = bench["end_to_end"]
    ok = True
    for w in args.workloads.split(","):
        sets = []
        for k in range(1, SETS + 1):
            vals = {m["name"]: [] for m in metrics}
            for i in range(1, RUNS + 1):
                r = one_run(w, k * 1000 + i, bench["run_seconds"])
                if not r["correct"]:
                    ok = False
                    print(f"{w} seed {k * 1000 + i}: {r['failed']}/{r['attempted']} failed")
                for m in metrics:
                    vals[m["name"]].append(r["metrics"][m["name"]]["value"])
            sets.append(vals)
        for m in metrics:
            name, bound = m["name"], m["bound"]
            stats = [spread(s[name]) for s in sets]
            first_med = stats[0][1]
            cells = []
            for sp, med in stats:
                worse = (med - first_med) / first_med if m["better"] == "lower" \
                    else (first_med - med) / first_med
                bad = sp > bound or worse > bound
                ok &= not bad
                cells.append(f"median {med:.4g} spread {sp:6.1%} drift {worse:+6.1%}"
                             + (" FAIL" if bad else ""))
            print(f"{w:15s} {name:17s} bound {bound:4.0%} | " + " | ".join(cells))
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
