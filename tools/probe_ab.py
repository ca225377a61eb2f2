#!/usr/bin/env python3
"""Interleaved per-key A/B of `graft.BenchProbe` on two commits.

Usage:
  python3 tools/probe_ab.py --base <commit> --head <commit> --keys k1,k2
      [--pairs 3] [--sf SF_DIR] [--cpus N] [--scratch DIR] [--out ab.json]

Each commit is exported with `git archive` into its own directory under
--scratch (as perfbench/ab.py does) and compiled once. Pair i then runs
`graft.BenchProbe <keys>` in a fresh JVM on each side, alternating which
side goes first. For every key the report gives each side's cold, warm
and warm2 medians and ranges (min, max) over the pairs, and the head/base
ratio of the medians. `stream_view*` keys report cold only: a repeat in
the same JVM drains nothing.
"""
import argparse
import json
import os
import re
import shutil
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PROBE = re.compile(r"^PROBE (\S+)\s+cold=\s*([\d.]+) warm=\s*([\d.]+)?(?: warm2=\s*([\d.]+))?")


def sbt_opts():
    """Offline sbt, with the user's repository override when there is one."""
    opts = ["-Dsbt.offline=true", "-Xmx4g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    return " ".join(opts)


def export(commit, dest):
    shutil.rmtree(dest, ignore_errors=True)
    os.makedirs(dest)
    archive = subprocess.run(["git", "-C", ROOT, "archive", commit],
                             check=True, stdout=subprocess.PIPE).stdout
    subprocess.run(["tar", "-x", "-C", dest], input=archive, check=True)


def sbt(tree, env, *cmds):
    return subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", *cmds], cwd=tree,
                          env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)


def probe(tree, env, keys):
    p = sbt(tree, env, "runMain graft.BenchProbe " + " ".join(keys))
    out = {}
    for line in p.stdout.splitlines():
        m = PROBE.match(line)
        if m and m.group(1) != "TOTAL":
            nums = [float(x) if x else None for x in m.groups()[1:]]
            out[m.group(1)] = dict(zip(("cold", "warm", "warm2"), nums))
    missing = [k for k in keys if k not in out]
    if p.returncode != 0 or missing:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit(f"BenchProbe failed in {tree} (exit {p.returncode}, missing {missing})")
    return out


def summary(xs):
    xs = [x for x in xs if x is not None]
    if not xs:
        return None
    return {"median": statistics.median(xs), "min": min(xs), "max": max(xs), "n": len(xs)}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--base", required=True)
    ap.add_argument("--head", required=True)
    ap.add_argument("--keys", required=True)
    ap.add_argument("--pairs", type=int, default=3)
    ap.add_argument("--sf", help="scale-factor dir (default: BenchProbe's own)")
    ap.add_argument("--cpus", default=str(os.cpu_count()))
    ap.add_argument("--scratch", default="/tmp/graft-probe-ab")
    ap.add_argument("--out")
    a = ap.parse_args()
    keys = a.keys.split(",")
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=sbt_opts(), SPARK_GRAFT_CPUS=a.cpus)
    if a.sf:
        env["SPARK_GRAFT_SF_DIR"] = a.sf
    sides = {"base": os.path.join(a.scratch, "probe-base"),
             "head": os.path.join(a.scratch, "probe-head")}
    for side, commit in (("base", a.base), ("head", a.head)):
        export(commit, sides[side])
        c = sbt(sides[side], env, "compile")
        if c.returncode != 0:
            sys.stderr.write(c.stdout[-4000:])
            raise SystemExit(f"compile failed for {side} ({commit})")
    runs = {"base": [], "head": []}
    for i in range(a.pairs):
        for side in (("base", "head") if i % 2 == 0 else ("head", "base")):
            runs[side].append(probe(sides[side], env, keys))
            print(f"pair {i} {side}: {json.dumps(runs[side][-1])}", file=sys.stderr, flush=True)
    report = {"base": a.base, "head": a.head, "pairs": a.pairs,
              "sf": env.get("SPARK_GRAFT_SF_DIR"), "cpus": a.cpus,
              "keys": {}}
    for k in keys:
        row = {}
        for phase in ("cold", "warm", "warm2"):
            b = summary([r[k][phase] for r in runs["base"]])
            h = summary([r[k][phase] for r in runs["head"]])
            if b and h:
                row[phase] = {"base": b, "head": h,
                              "ratio": h["median"] / b["median"] if b["median"] else None}
        report["keys"][k] = row
    text = json.dumps(report, indent=1)
    if a.out:
        with open(a.out, "w") as f:
            f.write(text + "\n")
    print(text)


if __name__ == "__main__":
    main()
