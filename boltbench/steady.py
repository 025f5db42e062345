#!/usr/bin/env python3
"""Run one workload K times (one seed each) and print, per end-to-end
metric, the median and quartiles against the bound in BENCHMARK.json.

    python3 boltbench/steady.py --workload NAME [--runs 10] [--first-seed 1] [--sets 1]

Spread is (q3 - q1) / median with Python's statistics.quantiles(n=4).
With --sets 2 it runs two sets on different seeds and also prints how far
the second median moved from the first, as a share of the first, and
whether the share of failed operations is the same in both. Run from the
repository root.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def one_run(workload, seed, seconds):
    cmd = [sys.executable, "boltbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    res = subprocess.run(cmd, capture_output=True, text=True)
    if res.returncode != 0:
        sys.stderr.write(res.stderr[-3000:])
        raise SystemExit(f"run with seed {seed} exited {res.returncode}")
    return json.loads(res.stdout.strip().splitlines()[-1])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--sets", type=int, default=1, choices=(1, 2))
    args = ap.parse_args()
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    bounds = {m["name"]: m for m in bench["end_to_end"]}

    sets = []
    for s in range(args.sets):
        results = []
        for i in range(args.runs):
            seed = args.first_seed + s * args.runs + i
            r = one_run(args.workload, seed, bench["run_seconds"])
            results.append(r)
            vals = " ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items())
            print(f"set {s + 1} seed {seed}: correct={r['correct']} "
                  f"failed={r['failed']}/{r['attempted']} {vals}", flush=True)
        sets.append(results)

    medians = []
    for s, results in enumerate(sets):
        print(f"\n{args.workload}, set {s + 1}: {len(results)} runs")
        print(f"{'metric':<16} {'median':>10} {'q1':>10} {'q3':>10} {'spread':>8} {'bound':>6}  ok")
        med = {}
        for name, spec in bounds.items():
            vals = [r["metrics"][name]["value"] for r in results]
            q1, q2, q3 = statistics.quantiles(vals, n=4)
            spread = (q3 - q1) / q2
            med[name] = q2
            ok = spread <= spec["bound"]
            print(f"{name:<16} {q2:>10.4g} {q1:>10.4g} {q3:>10.4g} {spread:>8.3f} "
                  f"{spec['bound']:>6}  {'yes' if ok else 'NO'}")
        shares = {r["failed"] / r["attempted"] for r in results}
        print(f"failed share per run: {sorted(shares)}")
        medians.append((med, shares))
    if len(medians) == 2:
        (m1, f1), (m2, f2) = medians
        print("\nsecond set against the first (positive = worse)")
        for name, spec in bounds.items():
            worse = (m2[name] - m1[name]) / m1[name]
            if spec["better"] == "higher":
                worse = -worse
            print(f"{name:<16} {worse:>+8.3f}  bound {spec['bound']}  "
                  f"{'yes' if worse <= spec['bound'] else 'NO'}")
        print(f"failed shares equal: {f1 == f2}")


if __name__ == "__main__":
    main()
