#!/usr/bin/env python3
"""Compare parent and change runs of perfbench/run.py pair by pair.

    python3 scripts/compare_pairs.py --workload batch_sweep \
        --parent p1.log p2.log ... --change c1.log c2.log ...

Each file is the captured stdout of one `perfbench/run.py` run; its last
line that parses as JSON is the run's result. The i-th parent file and
the i-th change file are one pair, so list them in the order they ran.
For every metric in the results it prints each side's median and
quartiles, the pairs the change won (ties count for neither side), and
the verdict of the pair rule:

  gain        the change wins at least 9/10 of the pairs AND its median
              is better than the parent's by more than the parent's
              quartile distance (q3 - q1);
  worse       the change's median is worse than the parent's by more
              than the metric's relative bound in BENCHMARK.json;
  unresolved  neither, and the parent's own spread (IQR / median) is
              wider than that bound, so a move within it cannot show;
  no change   neither, and the spread is within the bound.

Direction (lower or higher is better) and bounds come from
BENCHMARK.json; a metric it does not list is taken as lower-is-better
with no bound.

Below the metrics it lists every operation named in all runs by a
`[perfbench] op NAME n=... median_s=...` line: each side's median of the
runs' per-operation medians and the pairs the change won, so a claim
shows which operation moved. Standard library only.
"""

import argparse
import json
import os
import re
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def last_json(path):
    with open(path) as f:
        for line in reversed(f.read().splitlines()):
            line = line.strip()
            if line.startswith("{"):
                try:
                    return json.loads(line)
                except ValueError:
                    continue
    sys.exit("%s: no JSON result line" % path)


OP_LINE = re.compile(r"\[perfbench\] op (\S+)\s+n=\d+ median_s=([0-9.]+)")


def op_medians(path):
    with open(path) as f:
        return {m.group(1): float(m.group(2))
                for m in map(OP_LINE.search, f) if m}


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4)
    return q1, med, q3


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", default="", help="label for the report")
    ap.add_argument("--parent", nargs="+", required=True)
    ap.add_argument("--change", nargs="+", required=True)
    a = ap.parse_args()
    if len(a.parent) != len(a.change):
        sys.exit("need as many parent runs as change runs (one pair each)")
    cfg = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    spec = {m["name"]: m for m in cfg["end_to_end"] + cfg["per_layer"]}
    parent = [last_json(p)["metrics"] for p in a.parent]
    change = [last_json(c)["metrics"] for c in a.change]
    names = [n for n in parent[0] if all(n in r for r in parent + change)]
    n = len(parent)
    print("== %s: %d pairs" % (a.workload or "workload", n))
    print("%-26s %30s %30s %6s  %s" % ("metric", "parent q1/median/q3",
                                       "change q1/median/q3", "wins", "verdict"))
    for name in names:
        m = spec.get(name, {})
        sign = -1.0 if m.get("better", "lower") == "higher" else 1.0
        p = [r[name]["value"] for r in parent]
        c = [r[name]["value"] for r in change]
        wins = sum(1 for x, y in zip(p, c) if sign * (y - x) < 0)
        pq1, pmed, pq3 = quartiles(p)
        cq1, cmed, cq3 = quartiles(c)
        gap = sign * (pmed - cmed)  # > 0: the change is better
        bound = m.get("bound")
        spread = (pq3 - pq1) / pmed if pmed else 0.0
        if wins * 10 >= 9 * n and gap > pq3 - pq1:
            verdict = "gain"
        elif bound is not None and pmed and -gap / pmed > bound:
            verdict = "worse (by %.1f%% > bound %.0f%%)" % (-100 * gap / pmed, 100 * bound)
        elif bound is not None and spread > bound:
            verdict = "unresolved (parent spread %.1f%% > bound)" % (100 * spread)
        else:
            verdict = "no change"
        print("%-26s %30s %30s %3d/%-2d  %s" % (
            name, "%.4g/%.4g/%.4g" % (pq1, pmed, pq3),
            "%.4g/%.4g/%.4g" % (cq1, cmed, cq3), wins, n, verdict))
    parent_ops = [op_medians(p) for p in a.parent]
    change_ops = [op_medians(c) for c in a.change]
    ops = sorted(o for o in parent_ops[0]
                 if all(o in r for r in parent_ops + change_ops))
    if ops:
        print("%-26s %30s %30s %6s" % ("operation median_s", "parent median",
                                       "change median", "wins"))
    for op in ops:
        p = [r[op] for r in parent_ops]
        c = [r[op] for r in change_ops]
        wins = sum(1 for x, y in zip(p, c) if y < x)
        print("%-26s %30.4f %30.4f %3d/%-2d" % (
            op, statistics.median(p), statistics.median(c), wins, n))


if __name__ == "__main__":
    main()
