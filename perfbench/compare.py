#!/usr/bin/env python3
"""Compare two sets of benchmark runs (parent vs change).

    python3 perfbench/compare.py PARENT.jsonl CHANGE.jsonl

Each file holds result lines written by `run.py --record FILE`, one per
run (untraced runs only are compared). Runs pair up by (workload, seed),
so run both sides on the same seeds, alternating which side goes first.

For each workload and end-to-end metric it prints each side's median
and quartiles and one verdict:
  gain        the change wins at least 9 of 10 pairs (ties count for
              neither) and the medians differ by more than the parent's
              interquartile spread;
  regression  the change's median is worse than the parent's by more
              than the metric's bound in BENCHMARK.json;
  unresolved  either side's interquartile spread, as a share of its
              median, is wider than the bound, and not every change run
              reads better than every parent run;
  same        none of the above.
"""
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load(path):
    runs = {}
    with open(path) as f:
        for line in f:
            r = json.loads(line)
            if r.get("trace") == 0 and r.get("correct"):
                runs[(r["workload"], r["seed"])] = {k: v["value"] for k, v in r["metrics"].items()}
    return runs


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], statistics.median(xs), q[2]


def verdict(metric, pairs, a, b):
    better_lower = metric["better"] == "lower"
    bound = metric.get("bound", 0.0)
    qa, qb = quartiles(a), quartiles(b)
    ma, mb = qa[1], qb[1]
    spread = lambda q: (q[2] - q[0]) / q[1] if q[1] else float("inf")
    wins = sum((y < x) if better_lower else (y > x) for x, y in pairs)
    all_better = (max(b) < min(a)) if better_lower else (min(b) > max(a))
    if (spread(qa) > bound or spread(qb) > bound) and not all_better:
        return "unresolved"
    worse = (mb - ma) if better_lower else (ma - mb)
    if wins >= 0.9 * len(pairs) and abs(mb - ma) > (qa[2] - qa[0]):
        return "gain"
    if worse > bound * ma:
        return "regression"
    return "same"


def main(parent_path, change_path):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        metrics = {m["name"]: m for m in json.load(f)["end_to_end"]}
    parent, change = load(parent_path), load(change_path)
    keys = sorted(set(parent) & set(change))
    workloads = sorted({w for w, _ in keys})
    print(f"{'workload':<14} {'metric':<12} {'pairs':>5}  {'parent q1/med/q3':<28} {'change q1/med/q3':<28} verdict")
    for w in workloads:
        ks = [k for k in keys if k[0] == w]
        for name, m in metrics.items():
            pairs = [(parent[k][name], change[k][name]) for k in ks if name in parent[k] and name in change[k]]
            if not pairs:
                continue
            a, b = [x for x, _ in pairs], [y for _, y in pairs]
            fmt = lambda q: "/".join(f"{v:.4g}" for v in q)
            print(f"{w:<14} {name:<12} {len(pairs):>5}  {fmt(quartiles(a)):<28} "
                  f"{fmt(quartiles(b)):<28} {verdict(m, pairs, a, b)}")


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    main(sys.argv[1], sys.argv[2])
