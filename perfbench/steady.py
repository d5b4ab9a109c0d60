#!/usr/bin/env python3
"""Steadiness check: two sets of runs of the benchmark on one commit.

    python3 perfbench/steady.py [--runs 10] [--workload NAME ...]

Each of the two sets runs every workload `--runs` times, each run with
another seed (set k uses seeds 1000*k + 1 .. 1000*k + runs). For every
end-to-end metric it prints per workload and set the median, the
quartiles and the spread (quartile distance over the median), then
checks the bounds of BENCHMARK.json: every spread within the metric's
bound, and the second set's median no worse than the first set's by
more than the bound. Exits 1 if a check fails. Run from the root of a
checkout.
"""

import argparse
import json
import statistics
import subprocess
import sys


def one_run(cfg, workload, seed):
    cmd = cfg["command"] + ["--workload", workload, "--seed", str(seed),
                            "--seconds", str(cfg["run_seconds"]), "--trace", "0"]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
    if r.returncode != 0:
        sys.exit("run failed: %s (exit %d)" % (" ".join(cmd), r.returncode))
    res = json.loads(r.stdout.strip().splitlines()[-1])
    if not res["correct"]:
        print("  seed %d: correct=false, failed %d of %d" % (seed, res["failed"], res["attempted"]))
    return {k: v["value"] for k, v in res["metrics"].items()}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workload", action="append")
    a = ap.parse_args()
    cfg = json.load(open("BENCHMARK.json"))
    workloads = a.workload or [w["name"] for w in cfg["workloads"]]
    ok = True
    for w in workloads:
        sets = []
        for k in range(2):
            runs = [one_run(cfg, w, 1000 * k + i + 1) for i in range(a.runs)]
            sets.append({m["name"]: [r[m["name"]] for r in runs] for m in cfg["end_to_end"]})
        print("== %s" % w)
        for m in cfg["end_to_end"]:
            name, bound = m["name"], m["bound"]
            meds = []
            for k, s in enumerate(sets):
                q1, med, q3 = statistics.quantiles(s[name], n=4)
                spread = (q3 - q1) / med
                meds.append(med)
                flag = ""
                if spread > bound:
                    flag, ok = "  SPREAD > bound %.2f" % bound, False
                print("  %-14s set %d median %.4f q1 %.4f q3 %.4f spread %.3f%s"
                      % (name, k, med, q1, q3, spread, flag))
            worse = (meds[1] - meds[0]) / meds[0]
            if m["better"] == "higher":
                worse = -worse
            if worse > bound:
                ok = False
                print("  %-14s set 1 median worse than set 0 by %.3f > bound %.2f"
                      % (name, worse, bound))
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
