#!/usr/bin/env python3
"""Steadiness check: two sets of runs of one commit, spread against bound.

Usage (from the repository root):
    python3 perfbench/steady.py --workload serve [--runs 10] [--sets 2]
                                [--first-seed 100]

Each run uses its own seed. For every end-to-end metric of BENCHMARK.json
this prints, per set, the median and the spread (distance between the
first and third quartile over the median, as statistics.quantiles(n=4)
gives them) against the metric's bound; then how far the second set's
median moved from the first in the worse direction, and the share of
failed operations in each set. Exits 1 if any check fails.
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


def one_run(workload, seed, seconds):
    """One untraced run; its log goes to .bench_build/steady/."""
    logs = os.path.join(ROOT, ".bench_build", "steady")
    os.makedirs(logs, exist_ok=True)
    t0 = time.time()
    with open(os.path.join(logs, f"{workload}-{seed}.log"), "w") as err:
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                            "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                           cwd=ROOT, stdout=subprocess.PIPE, stderr=err, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        raise SystemExit(f"steady.py: run with seed {seed} failed (exit {p.returncode})")
    return json.loads(lines[-1]), time.time() - t0


def spread(xs):
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return (q3 - q1) / q2


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--first-seed", type=int, default=100)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    sets = []
    for s in range(a.sets):
        runs = []
        for i in range(a.runs):
            seed = a.first_seed + s * a.runs + i
            res, wall = one_run(a.workload, seed, spec["run_seconds"])
            runs.append(res)
            print(f"set {s + 1} seed {seed}: {wall:5.1f} s wall, correct={res['correct']} "
                  f"attempted={res['attempted']} failed={res['failed']} " +
                  " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
                  flush=True)
        sets.append(runs)

    ok = all(r["correct"] for runs in sets for r in runs)
    print(f"\n{'metric':16s} {'bound':>6s}" + "".join(
        f" {'median' + str(s + 1):>12s} {'spread' + str(s + 1):>8s}" for s in range(a.sets))
        + (f" {'shift':>7s}" if a.sets > 1 else ""))
    for m in spec["end_to_end"]:
        vals = [[r["metrics"][m["name"]]["value"] for r in runs] for runs in sets]
        meds = [statistics.median(v) for v in vals]
        spreads = [spread(v) for v in vals]
        row = f"{m['name']:16s} {m['bound']:6.2f}"
        for med, sp in zip(meds, spreads):
            flag = "" if sp <= m["bound"] else "!"
            ok &= flag == ""
            row += f" {med:12.4f} {sp:7.3f}{flag or ' '}"
        if a.sets > 1:
            worse = (meds[-1] - meds[0]) / meds[0] * (1 if m["better"] == "lower" else -1)
            flag = "!" if worse > m["bound"] else " "
            ok &= flag == " "
            row += f" {worse:+7.3f}{flag}"
        print(row)
    shares = [sum(r["failed"] for r in runs) / sum(r["attempted"] for r in runs) for runs in sets]
    print("failed share per set: " + ", ".join(f"{x:.6f}" for x in shares))
    ok &= len(set(shares)) == 1
    print("STEADY" if ok else "NOT STEADY (marked !)")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
