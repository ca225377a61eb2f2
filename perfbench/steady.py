#!/usr/bin/env python3
"""Steadiness check: run each workload on several seeds and report, for
every end-to-end metric, the median and the quartile distance as a share
of the median, against a third of the metric's bound.

Usage:
  python3 perfbench/steady.py [--runs 10] [--seed 1] [--workloads a,b] [--out f]

From the repository root.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--workloads")
    ap.add_argument("--out")
    a = ap.parse_args()
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    names = a.workloads.split(",") if a.workloads else [w["name"] for w in bench["workloads"]]
    report = {"run_seconds": bench["run_seconds"], "workloads": {}}
    for w in names:
        vals = {m["name"]: [] for m in bench["end_to_end"]}
        bad = 0
        for i in range(a.runs):
            p = subprocess.run(
                bench["command"] + ["--workload", w, "--seed", str(a.seed + i),
                                    "--seconds", str(bench["run_seconds"]), "--trace", "0"],
                cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
            res = json.loads(p.stdout.strip().splitlines()[-1])
            bad += p.returncode != 0 or not res["correct"]
            for k in vals:
                vals[k].append(res["metrics"][k]["value"])
            print(f"{w} seed {a.seed + i}: " + " ".join(
                f"{k}={v[-1]:.4g}" for k, v in vals.items()), file=sys.stderr, flush=True)
        rows = {}
        for m in bench["end_to_end"]:
            xs = vals[m["name"]]
            q = statistics.quantiles(xs, n=4)
            med = statistics.median(xs)
            spread = (q[2] - q[0]) / med
            rows[m["name"]] = {"median": med, "q1": q[0], "q3": q[2], "spread": spread,
                               "bound": m["bound"], "steady": spread < m["bound"] / 3,
                               "values": xs}
        report["workloads"][w] = {"failed_runs": bad, "metrics": rows}
    text = json.dumps(report, indent=1)
    if a.out:
        with open(a.out, "w") as f:
            f.write(text + "\n")
    print(text)


if __name__ == "__main__":
    main()
