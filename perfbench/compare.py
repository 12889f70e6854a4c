#!/usr/bin/env python3
"""Compare two sets of benchmark runs.

Each set is a directory holding the `result.json` files of its runs (at
any depth), as run.py leaves them under perfbench/.work/. For every
workload and end-to-end metric it prints each side's median and quartiles
and a verdict by the metric's bound in BENCHMARK.json; then the tracing
overhead (traced against untraced runs of the new set) and every
per-layer metric of the traced runs with its base and delta.

    python3 perfbench/compare.py BASE_DIR NEW_DIR [--spec BENCHMARK.json]

Verdicts (the rule of perfbench/METRICS.md, "Comparing runs"):
  better      the new median improves on the base median by more than the
              base's own spread (quartile distance over median), and the
              spread of both sides is within the bound
  worse       the new median is worse than the base by more than the bound
  unresolved  anything else: a difference inside the noise, or a spread
              wider than the bound (then only a complete separation of the
              runs decides: every new run better, or every new run worse)
"""
import argparse
import json
import os
import statistics
import sys


def load_runs(root):
    runs = []
    for d, _, files in os.walk(root):
        if "result.json" in files:
            with open(os.path.join(d, "result.json")) as f:
                runs.append(json.load(f))
    return runs


def quartiles(xs):
    """(q1, median, q3) as statistics.quantiles(n=4) gives them."""
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def spread(xs):
    q1, med, q3 = quartiles(xs)
    return (q3 - q1) / abs(med) if med else float("inf")


def verdict(base, new, bound, higher_better):
    """Verdict for one metric from the two sides' values."""
    sign = 1.0 if higher_better else -1.0
    _, bmed, _ = quartiles(base)
    _, nmed, _ = quartiles(new)
    gain = sign * (nmed - bmed) / abs(bmed) if bmed else 0.0
    sb, sn = spread(base), spread(new)
    if max(sb, sn) > bound:
        if all(sign * n > sign * b for n in new for b in base):
            return "better"
        if all(sign * n < sign * b for n in new for b in base):
            return "worse"
        return "unresolved"
    if gain < -bound:
        return "worse"
    if gain > sb:
        return "better"
    return "unresolved"


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("base")
    ap.add_argument("new")
    ap.add_argument("--spec", default="BENCHMARK.json")
    a = ap.parse_args()
    with open(a.spec) as f:
        spec = json.load(f)
    sides = {"base": load_runs(a.base), "new": load_runs(a.new)}
    if not sides["base"] or not sides["new"]:
        sys.exit("compare: no result.json under one of the directories")

    def values(side, workload, metric, traced):
        return [r["metrics"][metric]["value"] for r in sides[side]
                if r["env"]["workload"] == workload and bool(r["env"]["trace"]) == traced
                and r["metrics"].get(metric, {}).get("value") is not None]

    print(f"{'workload':<13} {'metric':<16} {'base q1/med/q3':>32} "
          f"{'new q1/med/q3':>32} {'delta':>8} {'bound':>6}  verdict")
    for w in spec["workloads"]:
        name = w["name"]
        for m in spec["end_to_end"]:
            b = values("base", name, m["name"], False)
            n = values("new", name, m["name"], False)
            if not b or not n:
                print(f"{name:<13} {m['name']:<16} (no runs on one side)")
                continue
            bq, nq = quartiles(b), quartiles(n)
            delta = (nq[1] - bq[1]) / abs(bq[1]) if bq[1] else float("nan")
            v = verdict(b, n, m["bound"], m["better"] == "higher")
            fmt = lambda q: "/".join(f"{x:.4g}" for x in q)
            print(f"{name:<13} {m['name']:<16} {fmt(bq):>32} {fmt(nq):>32} "
                  f"{delta:>+8.1%} {m['bound']:>6.2f}  {v}  "
                  f"(runs {len(b)} vs {len(n)})")
    print()
    print("tracing overhead (new set): traced runs' median over untraced runs' median")
    for w in spec["workloads"]:
        for m in spec["end_to_end"]:
            t = values("new", w["name"], m["name"], True)
            u = values("new", w["name"], m["name"], False)
            if t and u and statistics.median(u):
                print(f"{w['name']:<13} {m['name']:<16} "
                      f"{statistics.median(t) / statistics.median(u) - 1:+8.1%}")
    print()
    print(f"{'workload':<13} {'per-layer metric':<40} {'base':>14} {'new':>14} "
          f"{'delta':>8}  unit")
    for w in spec["workloads"]:
        for m in spec["per_layer"]:
            b = values("base", w["name"], m["name"], True)
            n = values("new", w["name"], m["name"], True)
            if not b or not n:
                continue
            bm, nm = statistics.median(b), statistics.median(n)
            delta = f"{(nm - bm) / abs(bm):+8.1%}" if bm else "     n/a"
            print(f"{w['name']:<13} {m['name']:<40} {bm:>14.4g} {nm:>14.4g} "
                  f"{delta}  {m['unit']}")


if __name__ == "__main__":
    main()
