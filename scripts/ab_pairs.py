#!/usr/bin/env python3
"""Alternating parent/change pairs of one benchmark workload.

    python3 scripts/ab_pairs.py --parent DIR --change DIR --workload table_churn \
        [--pairs 10] [--seed0 21] [--seconds 8] [--json out.json]

DIR is the root of a checkout (the parent commit and the change, e.g. a
`git clone` of each). Pair i runs `perfbench/run.py` untraced with seed
seed0+i in both checkouts, the parent first on even i and the change first
on odd i. The script then prints, for every end-to-end metric that
BENCHMARK.json declares:

  - each pair's parent and change values and the change's delta;
  - each side's median and quartiles;
  - the pairs the change won (ties count for neither side);
  - whether a gain is shown: the change wins at least nine tenths of the
    pairs, and the medians differ by more than the parent's own spread
    (its upper minus lower quartile).

A run that fails, is not correct, or fails any operation is reported; its
pair is left out of the summary. Exit status 1 if any run failed.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def run(checkout, workload, seed, seconds):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        return None, f"exit {p.returncode}: {p.stderr.strip()[-300:]}"
    r = json.loads(lines[-1])
    if not r["correct"] or r["failed"]:
        return None, f"correct={r['correct']} failed={r['failed']}/{r['attempted']}"
    return {k: m["value"] for k, m in r["metrics"].items()}, None


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--parent", required=True)
    ap.add_argument("--change", required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=21)
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--json", help="also write every pair's values here")
    a = ap.parse_args()

    with open(os.path.join(a.change, "BENCHMARK.json")) as f:
        better = {m["name"]: m["better"] for m in json.load(f)["end_to_end"]}
    sides = {"parent": a.parent, "change": a.change}
    pairs, failures = [], 0
    for i in range(a.pairs):
        seed = a.seed0 + i
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        got = {}
        for side in order:
            got[side], err = run(sides[side], a.workload, seed, a.seconds)
            if err:
                failures += 1
                print(f"pair {i} seed {seed}: {side} run failed: {err}", flush=True)
        print(f"pair {i} seed {seed} ({order[0]} first) done", flush=True)
        if got["parent"] and got["change"]:
            pairs.append((seed, got["parent"], got["change"]))

    if a.json:
        with open(a.json, "w") as f:
            json.dump([{"seed": s, "parent": p, "change": c} for s, p, c in pairs], f, indent=1)
    print(f"\n{a.workload}: {len(pairs)} complete pairs of {a.pairs}")
    for name, direction in better.items():
        par = [p[name] for _, p, _ in pairs if name in p]
        chg = [c[name] for _, _, c in pairs if name in c]
        if not par or len(par) != len(chg):
            continue
        print(f"\n{name} (better {direction})")
        for (seed, p, c) in pairs:
            d = (c[name] - p[name]) / p[name] * 100 if p[name] else float("nan")
            print(f"   seed {seed:<5d} parent {p[name]:>12.4g}  change {c[name]:>12.4g}  {d:+7.1f}%")
        pq, cq = quartiles(par), quartiles(chg)
        sign = -1 if direction == "lower" else 1
        wins = sum(1 for x, y in zip(par, chg) if sign * (y - x) > 0)
        shown = wins >= 0.9 * len(par) and abs(cq[1] - pq[1]) > pq[2] - pq[0] \
            and sign * (cq[1] - pq[1]) > 0
        print(f"   parent median {pq[1]:.4g} (q1 {pq[0]:.4g}, q3 {pq[2]:.4g})")
        print(f"   change median {cq[1]:.4g} (q1 {cq[0]:.4g}, q3 {cq[2]:.4g})  "
              f"{(cq[1] - pq[1]) / pq[1] * 100 if pq[1] else float('nan'):+.1f}%")
        print(f"   change wins {wins} of {len(par)}; gain shown: {'yes' if shown else 'no'}")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
