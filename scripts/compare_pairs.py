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

Above the metrics it prints, per side, how many runs reported
`correct: true` and the share of operations that failed (`failed` over
`attempted`, summed over the runs), and it flags a larger failed share
on the change. A verdict that rests on a run that was not correct carries
the numbers of those runs (1-based, in the order given).

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


def health(results):
    """(correct runs, failed ops, attempted ops, numbers of incorrect runs)."""
    bad = [i + 1 for i, r in enumerate(results) if r.get("correct") is not True]
    failed = sum(r.get("failed", 0) for r in results)
    attempted = sum(r.get("attempted", 0) for r in results)
    return len(results) - len(bad), failed, attempted, bad


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
    parent_runs = [last_json(p) for p in a.parent]
    change_runs = [last_json(c) for c in a.change]
    parent = [r["metrics"] for r in parent_runs]
    change = [r["metrics"] for r in change_runs]
    names = [n for n in parent[0] if all(n in r for r in parent + change)]
    n = len(parent)
    print("== %s: %d pairs" % (a.workload or "workload", n))
    shares = []
    flags = []
    for side, runs in (("parent", parent_runs), ("change", change_runs)):
        ok, failed, attempted, bad = health(runs)
        shares.append(failed / attempted if attempted else 0.0)
        print("%-6s runs correct %d/%d, operations failed %d/%d (%.2f%%)%s" % (
            side, ok, n, failed, attempted, 100 * shares[-1],
            "; incorrect runs: %s" % ", ".join(map(str, bad)) if bad else ""))
        if bad:
            flags.append("%s run %s" % (side, ", ".join(map(str, bad))))
    if shares[1] > shares[0]:
        print("!! the change's failed share is larger than the parent's")
    flag = "  [not correct: %s]" % "; ".join(flags) if flags else ""
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
        print("%-26s %30s %30s %3d/%-2d  %s%s" % (
            name, "%.4g/%.4g/%.4g" % (pq1, pmed, pq3),
            "%.4g/%.4g/%.4g" % (cq1, cmed, cq3), wins, n, verdict, flag))
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
