#!/usr/bin/env python3
"""Steadiness check: two sets of runs of one commit, each metric's spread
against its bound.

    python3 perfbench/steady.py [--runs 10] [--sets 2] [--workloads a,b]
                                [--trace 0|1] [--seed-base 1000] [--out FILE]

Run from the root of a checkout. Every run of every set gets its own seed.
For each workload and end-to-end metric it prints, per set, the median and
the spread (distance between the first and third quartile of the runs, as
`statistics.quantiles(values, n=4)` gives them, as a share of the median),
and then whether each spread stays within the metric's bound in
BENCHMARK.json, whether the second set's median is
worse than the first's by no more than the bound, and whether the share of
failed operations is the same in every run. `--out` keeps every run's
result line as JSON.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))


def run(workload, seed, seconds, trace):
    p = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.exit(f"run {workload} seed {seed} failed ({p.returncode}):\n{p.stderr[-3000:]}")
    return json.loads(lines[-1])


def spread(xs):
    q1, _, q3 = statistics.quantiles(xs, n=4)
    med = statistics.median(xs)
    return (q3 - q1) / med if med else 0.0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--workloads")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--seed-base", type=int, default=1000)
    ap.add_argument("--out")
    a = ap.parse_args()
    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = a.workloads.split(",") if a.workloads else [w["name"] for w in spec["workloads"]]
    metrics = spec["per_layer" if a.trace else "end_to_end"]
    runs = {}
    ok = True
    for w in names:
        sets = []
        for s in range(a.sets):
            rs = []
            for i in range(a.runs):
                seed = a.seed_base + 1000 * s + i
                r = run(w, seed, spec["run_seconds"], a.trace)
                r["seed"] = seed
                rs.append(r)
                print(f"{w} set {s} seed {seed}: attempted {r['attempted']} failed {r['failed']} "
                      f"correct {r['correct']}", file=sys.stderr, flush=True)
            sets.append(rs)
        runs[w] = sets
        print(f"== {w}")
        shares = {r["failed"] / r["attempted"] for rs in sets for r in rs}
        correct = all(r["correct"] for rs in sets for r in rs)
        print(f"  failed share per run: {sorted(shares)}   all correct: {correct}")
        ok &= len(shares) == 1 and correct
        for m in metrics:
            vals = [[r["metrics"][m["name"]]["value"] for r in rs] for rs in sets]
            meds = [statistics.median(v) for v in vals]
            sps = [spread(v) for v in vals]
            line = f"  {m['name']:<28} " + "  ".join(
                f"set{s}: median {meds[s]:.6g} spread {sps[s]:.4f}" for s in range(a.sets))
            if "bound" in m:
                b = m["bound"]
                sign = 1 if m["better"] == "lower" else -1
                worse = max(sign * (meds[s] - meds[0]) / meds[0] for s in range(a.sets))
                spread_ok = max(sps) <= b
                line += f"  bound {b}  worst shift {worse:+.4f}  " + (
                    "OK" if spread_ok and worse <= b else "OVER")
                ok &= spread_ok and worse <= b
            print(line)
    if a.out:
        with open(a.out, "w") as f:
            json.dump(runs, f, indent=1)
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
