#!/usr/bin/env python3
"""Runs one workload as two sets of runs and reports, per end-to-end
metric, each set's median and quartile spread, and whether the second
median is within the metric's bound in BENCHMARK.json of the first.

    python3 perfbench/stability.py --workload serve_mix [--runs 10] [--sets 2] [--seed 1000]

Every run gets its own seed (seed, seed+1, ...). The spread is
(Q3 - Q1) / median with Q1, Q3 from statistics.quantiles(values, n=4).
Exit status 1 if a spread (other than setup_s) exceeds its bound, a
median moves by more than its bound, or the two sets' shares of failed
operations differ.
"""
import argparse
import json
import statistics
import subprocess
import sys
import time


def run_set(spec, workload, seeds):
    rows = []
    for seed in seeds:
        t = time.time()
        out = subprocess.run(
            spec["command"] + ["--workload", workload, "--seed", str(seed),
                               "--seconds", str(spec["run_seconds"]), "--trace", "0"],
            stdout=subprocess.PIPE, text=True, check=True).stdout
        rec = json.loads(out.strip().splitlines()[-1])
        rec["wall_s"] = time.time() - t
        print(f"  seed {seed}: {rec['wall_s']:.0f} s, failed {rec['failed']}/{rec['attempted']}, "
              + ", ".join(f"{k}={v['value']:.4g}" for k, v in rec["metrics"].items()), flush=True)
        rows.append(rec)
    return rows


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=2, choices=(1, 2))
    ap.add_argument("--seed", type=int, default=1000)
    a = ap.parse_args()
    spec = json.load(open("BENCHMARK.json"))
    sets = []
    for k in range(a.sets):
        print(f"set {k + 1}:", flush=True)
        seeds = range(a.seed + k * a.runs, a.seed + (k + 1) * a.runs)
        sets.append(run_set(spec, a.workload, seeds))
    ok = True
    for m in spec["end_to_end"]:
        name, bound = m["name"], m["bound"]
        line = f"{name:18s} bound {bound:.2f}"
        meds = []
        for rows in sets:
            vals = [r["metrics"][name]["value"] for r in rows]
            med = statistics.median(vals)
            q = statistics.quantiles(vals, n=4)
            spread = (q[2] - q[0]) / med if med else float("inf")
            meds.append(med)
            line += f" | median {med:.5g} spread {spread:.3f}"
            if name != "setup_s" and spread > bound:
                ok, line = False, line + " SPREAD>BOUND"
        if len(meds) == 2:
            worse = (meds[1] - meds[0]) / meds[0]
            if m["better"] == "higher":
                worse = -worse
            line += f" | second worse by {worse:+.3f}"
            if worse > bound:
                ok, line = False, line + " MEDIAN MOVED"
        print(line)
    shares = [sum(r["failed"] for r in rows) / sum(r["attempted"] for r in rows) for rows in sets]
    walls = [r["wall_s"] for rows in sets for r in rows]
    print(f"failed shares {shares}; run wall median {statistics.median(walls):.0f} s, "
          f"max {max(walls):.0f} s")
    if len(set(shares)) > 1:
        ok = False
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
