#!/usr/bin/env python3
"""Compares two sets of benchmark results, parent against change.

Usage: python3 perfbench/compare.py <parent_results_dir> <change_results_dir> [--json]

Each directory holds the per-run files run.py writes
(<workload>-seed<n>-trace<t>.json). Runs pair up by workload, seed and
trace flag. Every workload and metric gets one row: each side's median
and quartiles, the share of pairs the change won (ties count for
neither side), and a verdict:

  improved    the change won at least 9/10 of the pairs and the medians
              differ, in its favour, by more than the parent's
              interquartile range;
  no-worse    the change's median is not worse than the parent's by
              more than the metric's bound, and the spread of the
              parent's runs is within the bound (or every change run
              beats every parent run);
  worse       the change's median is worse by more than the bound;
  unresolved  the parent's runs spread wider than the bound.

Per-layer metrics have no bound: they read improved, worse (the same
rule as improved, the other way) or unresolved. Bounds and directions
come from BENCHMARK.json.
"""
import json
import statistics
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
SPEC = json.loads((BENCH.parent / "BENCHMARK.json").read_text())
METRICS = {m["name"]: m for m in SPEC["end_to_end"] + SPEC["per_layer"]}


def load(d):
    runs = {}
    for f in sorted(Path(d).glob("*-trace[01].json")):
        r = json.loads(f.read_text())
        for name, m in r["summary"]["metrics"].items():
            runs.setdefault((r["workload"], name), {})[(r["seed"], r["trace"])] = m["value"]
    return runs


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def verdict(name, parent, change):
    spec = METRICS.get(name, {"better": "lower"})
    lower = spec["better"] == "lower"
    bound = spec.get("bound")
    keys = sorted(set(parent) & set(change))
    p = [parent[k] for k in keys]
    c = [change[k] for k in keys]
    row = {"pairs": len(keys)}
    if not keys:
        row["verdict"] = "unresolved"
        return row
    better = (lambda a, b: a < b) if lower else (lambda a, b: a > b)
    wins = sum(better(b, a) for a, b in zip(p, c))
    losses = sum(better(a, b) for a, b in zip(p, c))
    pq1, pm, pq3 = quartiles(p)
    cq1, cm, cq3 = quartiles(c)
    iqr = pq3 - pq1
    spread = iqr / abs(pm) if pm else 0.0
    row.update(parent=[pq1, pm, pq3], change=[cq1, cm, cq3], won=wins / len(keys),
               spread=spread)
    if wins >= 0.9 * len(keys) and better(cm, pm) and abs(cm - pm) > iqr:
        v = "improved"
    elif bound is None:
        v = "worse" if losses >= 0.9 * len(keys) and better(pm, cm) and abs(cm - pm) > iqr else "unresolved"
    elif all(better(b, a) for a in p for b in c):
        v = "no-worse"
    elif spread > bound:
        v = "unresolved"
    elif better(pm, cm) and abs(cm - pm) > bound * abs(pm):
        v = "worse"
    else:
        v = "no-worse"
    row["verdict"] = v
    return row


def main():
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    if len(args) != 2:
        sys.exit(__doc__)
    parent, change = load(args[0]), load(args[1])
    rows = []
    for key in sorted(set(parent) | set(change)):
        r = verdict(key[1], parent.get(key, {}), change.get(key, {}))
        rows.append({"workload": key[0], "metric": key[1], **r})
    if "--json" in sys.argv:
        print(json.dumps(rows, indent=1))
        return
    fmt = "{:<10} {:<32} {:>5} {:>30} {:>30} {:>5} {}"
    print(fmt.format("workload", "metric", "pairs", "parent q1/median/q3", "change q1/median/q3",
                     "won", "verdict"))
    for r in rows:
        q = lambda xs: "/".join(f"{x:.4g}" for x in xs) if xs else "-"
        print(fmt.format(r["workload"], r["metric"], r["pairs"], q(r.get("parent")),
                         q(r.get("change")), f"{r.get('won', 0):.2f}", r["verdict"]))


if __name__ == "__main__":
    main()
