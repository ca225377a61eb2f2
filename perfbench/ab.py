#!/usr/bin/env python3
"""Interleaved A/B runs of the benchmark on two commits.

Usage:
  python3 perfbench/ab.py --base <commit> --head <commit> --scratch <dir>
      [--pairs 10] [--seed 1000] [--workloads delivery,serving] [--out ab.json]
  python3 perfbench/ab.py --same <commit> --scratch <dir> ...

Each commit is exported with `git archive` into its own directory under
--scratch, and the benchmark of the working tree (perfbench/ and
BENCHMARK.json) is copied into both, so both sides run identical
benchmark code. Pair i runs both sides on seed --seed+i, alternating which
side goes first. For each workload and end-to-end metric the report gives
each side's median and quartiles, the share of pairs the head won, and a
verdict:
  gain        the head wins at least 9 pairs in 10 and the medians differ
              by more than the spread (quartile distance) of the base's runs;
  regression  the head is worse than the base's median by more than the
              metric's bound;
  unresolved  the base's own spread is wider than the bound and the head
              neither wins nor loses every pair;
  no change   otherwise.
--same runs one commit on both sides: the record of how steady the
benchmark is, with each metric's spread as a share of its median.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def export(commit, dest):
    shutil.rmtree(dest, ignore_errors=True)
    os.makedirs(dest)
    archive = subprocess.run(["git", "-C", ROOT, "archive", commit],
                             check=True, stdout=subprocess.PIPE).stdout
    subprocess.run(["tar", "-x", "-C", dest], input=archive, check=True)
    shutil.rmtree(os.path.join(dest, "perfbench"), ignore_errors=True)
    shutil.copytree(HERE, os.path.join(dest, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), dest)


def run_one(tree, workload, seed, seconds):
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       cwd=tree, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                       text=True)
    last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else "{}"
    try:
        res = json.loads(last)
    except json.JSONDecodeError:
        res = {}
    res["exit"] = p.returncode
    return res


def quartiles(xs):
    if len(xs) < 2:
        return (xs[0], xs[0], xs[0]) if xs else (0.0, 0.0, 0.0)
    q = statistics.quantiles(xs, n=4)
    return q[0], statistics.median(xs), q[2]


def verdict(base, head, better, bound):
    q1, mb, q3 = quartiles(base)
    mh = statistics.median(head)
    sign = 1 if better == "higher" else -1
    wins = sum(1 for a, b in zip(base, head) if sign * (b - a) > 0)
    losses = sum(1 for a, b in zip(base, head) if sign * (b - a) < 0)
    n = len(base)
    worse = sign * (mb - mh) / mb if mb else 0.0
    if wins >= 0.9 * n and abs(mh - mb) > (q3 - q1):
        v = "gain"
    elif worse > bound:
        v = "regression"
    elif (q3 - q1) / mb > bound and wins < n and losses < n:
        v = "unresolved"
    else:
        v = "no change"
    return {"won_share": wins / n if n else 0.0, "verdict": v}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--base")
    ap.add_argument("--head")
    ap.add_argument("--same")
    ap.add_argument("--scratch", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=1000)
    ap.add_argument("--workloads")
    ap.add_argument("--out")
    a = ap.parse_args()
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    base, head = (a.same, a.same) if a.same else (a.base, a.head)
    if not (base and head):
        ap.error("give --base and --head, or --same")
    workloads = a.workloads.split(",") if a.workloads else [w["name"] for w in bench["workloads"]]
    sides = {"base": os.path.join(a.scratch, "ab-base"), "head": os.path.join(a.scratch, "ab-head")}
    export(base, sides["base"])
    export(head, sides["head"])
    runs = {w: {"base": [], "head": []} for w in workloads}
    for w in workloads:
        for i in range(a.pairs):
            order = ("base", "head") if i % 2 == 0 else ("head", "base")
            for side in order:
                r = run_one(sides[side], w, a.seed + i, bench["run_seconds"])
                runs[w][side].append(r)
                print(f"{w} pair {i} {side}: exit {r['exit']} "
                      f"{json.dumps(r.get('metrics', {}))}", file=sys.stderr, flush=True)
    report = {"base": base, "head": head, "same_code": bool(a.same),
              "pairs": a.pairs, "seed": a.seed, "workloads": {}}
    for w in workloads:
        rows = {}
        for m in bench["end_to_end"]:
            vals = {s: [r["metrics"][m["name"]]["value"] for r in runs[w][s]
                        if r.get("correct") and m["name"] in r.get("metrics", {})]
                    for s in ("base", "head")}
            row = {}
            for s, xs in vals.items():
                q1, med, q3 = quartiles(xs) if xs else (0, 0, 0)
                row[s] = {"median": med, "q1": q1, "q3": q3, "n": len(xs),
                          "spread": (q3 - q1) / med if med else None}
            if len(vals["base"]) == len(vals["head"]) and vals["base"]:
                row.update(verdict(vals["base"], vals["head"], m["better"], m["bound"]))
                if a.same:
                    row["medians_agree"] = abs(row["head"]["median"] - row["base"]["median"]) \
                        <= m["bound"] * row["base"]["median"]
            rows[m["name"]] = row
        report["workloads"][w] = {
            "failed_runs": sum(1 for s in ("base", "head") for r in runs[w][s]
                               if not r.get("correct") or r["exit"] != 0),
            "metrics": rows}
    text = json.dumps(report, indent=1)
    if a.out:
        with open(a.out, "w") as f:
            f.write(text + "\n")
    print(text)


if __name__ == "__main__":
    main()
