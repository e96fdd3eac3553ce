#!/usr/bin/env python3
"""Compare two sets of benchmark runs.

Usage: python3 perfbench/compare.py A.jsonl B.jsonl

Each file holds run records as run.py appends them to
perfbench/results/runs.jsonl (copy that file aside after measuring each
side). Only untraced runs (--trace 0) are compared. For every workload and
end-to-end metric of BENCHMARK.json it prints each side's median and
quartiles, the change of B against A, and a verdict under the metric's
bound:

  worse       B's median is worse than A's by more than the bound
  better      B's median is better by more than the bound and by more than
              the quartile spread of either side
  unresolved  a side's quartile spread exceeds the bound, and not every run
              of B beats every run of A (or the reverse)
  same        within the bound

Exits 1 when any metric reads worse.
"""
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load(path):
    with open(path) as f:
        return [r for r in map(json.loads, filter(str.strip, f)) if not r.get("trace")]


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def verdict(a, b, better, bound):
    qa, qb = quartiles(a), quartiles(b)
    sign = 1 if better == "higher" else -1
    change = sign * (qb[1] - qa[1]) / qa[1] if qa[1] else 0.0
    spread = max((qa[2] - qa[0]) / qa[1] if qa[1] else 0.0,
                 (qb[2] - qb[0]) / qb[1] if qb[1] else 0.0)
    b_wins_all = min(sign * x for x in b) > max(sign * x for x in a)
    a_wins_all = min(sign * x for x in a) > max(sign * x for x in b)
    if change < -bound:
        v = "worse"
    elif change > bound and change > spread:
        v = "better"
    elif spread > bound and not (b_wins_all or a_wins_all):
        v = "unresolved"
    elif b_wins_all and change > spread:
        v = "better"
    else:
        v = "same"
    return qa, qb, change, v


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    a_runs, b_runs = load(sys.argv[1]), load(sys.argv[2])
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        metrics = json.load(f)["end_to_end"]
    worse = False
    for w in sorted({r["workload"] for r in a_runs} & {r["workload"] for r in b_runs}):
        ra = [r for r in a_runs if r["workload"] == w]
        rb = [r for r in b_runs if r["workload"] == w]
        commits = lambda rs: ",".join(sorted({
            r["commit"][:10] if r["commit"] != "unknown" else "src:" + r["source_digest"]
            for r in rs}))
        print(f"{w}: A {commits(ra)} ({len(ra)} runs)  B {commits(rb)} ({len(rb)} runs)")
        print(f"  {'metric':<14} {'A q1/med/q3':>28} {'B q1/med/q3':>28} {'change':>8}  verdict")
        for m in metrics:
            a = [r["metrics"][m["name"]] for r in ra if m["name"] in r["metrics"]]
            b = [r["metrics"][m["name"]] for r in rb if m["name"] in r["metrics"]]
            if not a or not b:
                continue
            qa, qb, change, v = verdict(a, b, m["better"], m["bound"])
            worse |= v == "worse"
            fmt = lambda q: "/".join(f"{x:.4g}" for x in q)
            print(f"  {m['name']:<14} {fmt(qa):>28} {fmt(qb):>28} {change:>+8.1%}  {v}"
                  f"  (bound {m['bound']:.0%}, {m['unit']}, {m['better']} is better)")
        fa = sum(r["failed"] for r in ra), sum(r["attempted"] for r in ra)
        fb = sum(r["failed"] for r in rb), sum(r["attempted"] for r in rb)
        print(f"  failed ops: A {fa[0]}/{fa[1]}  B {fb[0]}/{fb[1]}")
    sys.exit(1 if worse else 0)


if __name__ == "__main__":
    main()
