#!/usr/bin/env python3
"""Compare two traced runs, per layer metric and per span self time.

    python3 perfbench/trace_diff.py BASE.json CHANGE.json [--all]

BASE and CHANGE are trace files that `run.py --trace 1` writes to
.bench_build/traces/ (one per run). Every per-layer and workload-detail
figure is listed with both values and the change as a share of BASE;
spans are listed by self time (duration minus the time their child spans
cover), so a saving shows in the layer where it happened. Rows that did
not move are hidden unless --all is given.
"""
import argparse
import json
import sys


def rows(a, b):
    for k in list(a) + [k for k in b if k not in a]:
        va, vb = a.get(k), b.get(k)
        if va is None or vb is None:
            yield k, va, vb, None
        else:
            yield k, va, vb, (vb - va) / abs(va) if va else (0.0 if vb == va else float("inf"))


def show(title, a, b, unit, show_all):
    print(f"-- {title}")
    print(f"   {'name':44s} {'base':>14s} {'change':>14s} {'delta':>9s}  unit")
    for k, va, vb, d in rows(a, b):
        if d == 0.0 and not show_all:
            continue
        f = lambda v: "-" if v is None else f"{v:.6g}"
        ds = "-" if d is None else f"{d:+.1%}"
        print(f"   {k:44s} {f(va):>14s} {f(vb):>14s} {ds:>9s}  {unit.get(k, '')}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("base")
    ap.add_argument("change")
    ap.add_argument("--all", action="store_true", help="also list rows that did not move")
    a = ap.parse_args()
    base, change = (json.load(open(p)) for p in (a.base, a.change))
    if base["workload"] != change["workload"]:
        sys.exit(f"different workloads: {base['workload']} vs {change['workload']}")
    print(f"workload {base['workload']}: seed {base['seed']} vs {change['seed']}, "
          f"orders_rows {base['orders_rows']} vs {change['orders_rows']}")
    for sec, title in (("layer", "per-layer"), ("detail", "workload detail")):
        va = {k: m["value"] for k, m in base[sec].items()}
        vb = {k: m["value"] for k, m in change[sec].items()}
        unit = {k: m["unit"] for k, m in {**base[sec], **change[sec]}.items()}
        show(title, va, vb, unit, a.all)
    sa = {s["name"]: s["self_ms"] for s in base["spans"]}
    sb = {s["name"]: s["self_ms"] for s in change["spans"]}
    show("span self time", sa, sb, {k: "ms" for k in {**sa, **sb}}, a.all)


if __name__ == "__main__":
    main()
