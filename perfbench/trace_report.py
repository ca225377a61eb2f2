#!/usr/bin/env python3
"""Trace report: self time per layer, counts, ratios and tracing overhead.

Usage:
  python3 perfbench/trace_report.py <traced.json> [<untraced.json> ...]

The inputs are raw run records written by `run.py --save` (the traced one
with --trace 1). A span's self time is its duration minus the part of it
that its child spans cover; Spark jobs are child spans of the span whose
call launched them, and streaming jobs hang under the micro-batch phase
that ran them. Every instant of an operation is charged to the deepest
span covering it, so the layers' self times of one operation add up to
its root span exactly. The report states that reconciliation, how much
of the timed wall time the root spans cover, and the tracing overhead as
the traced run's median operation minus the untraced runs' median.
"""
import json
import statistics
import sys
from collections import defaultdict

# Structured Streaming's micro-batch phases, in execution order, with the
# layer each belongs to.
PHASES = ["latestOffset", "walCommit", "getBatch", "queryPlanning",
          "addBatch", "commitOffsets"]
PHASE_LAYER = {"latestOffset": "sources", "getBatch": "sources"}


class Tree:
    """The spans of a run's timed operations, with derived aggregates."""

    def __init__(self):
        self.self_ms = defaultdict(float)
        self.roots = []            # (root span, {layer: self ms})
        self.jobs = 0
        self.job_busy_ms = 0.0
        self.feed_rows_per_op = []
        self.hook_metrics = {}
        self.timed_runs = set()
        self.max_reconcile_err_ms = 0.0
        self.root_ms = 0.0


def _union_ms(intervals):
    total, end = 0, None
    for s, e in sorted(intervals):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total / 1000.0


def _paint(root, children):
    """Self time per layer inside `root`: each elementary interval goes to
    the deepest span covering it."""
    nodes, depth = [], {}
    stack = [(root, 0)]
    while stack:
        n, d = stack.pop()
        depth[n["id"]] = d
        nodes.append(n)
        stack += [(c, d + 1) for c in children.get(n["id"], [])]
    s0, e0 = root["start_us"], root["end_us"]
    cuts = sorted({min(max(t, s0), e0) for n in nodes for t in (n["start_us"], n["end_us"])})
    out = defaultdict(float)
    for a, b in zip(cuts, cuts[1:]):
        if b <= a:
            continue
        cover = [n for n in nodes if n["start_us"] <= a and n["end_us"] >= b]
        top = max(cover, key=lambda n: (depth[n["id"]], n["start_us"]))
        out[top["layer"]] += (b - a) / 1000.0
    return out


def build(rec):
    t = Tree()
    t.timed_runs = set(rec["facts"].get("timed_runs", []))
    _hook_metrics(rec, t)
    tr = rec.get("trace")
    if not tr:
        return t
    spans = [dict(s) for s in tr["spans"]]
    run_parent = {k: v for k, v in tr.get("run_parent", {}).items()}
    next_id = max([s["id"] for s in spans] + [0]) + 1
    by_id = {s["id"]: s for s in spans}
    # micro-batches and their phases, from the progress reports
    phase_spans = []
    for b in rec["batches"]:
        parent = run_parent.get(b["run"])
        if parent is None or parent not in by_id:
            continue
        d = b["durations"]
        start = b["start_us"]
        end = start + d.get("triggerExecution", 0) * 1000
        bs = {"id": next_id, "parent": parent, "name": "streaming.batch",
              "layer": "streaming", "start_us": start, "end_us": end, "run": b["run"]}
        next_id += 1
        spans.append(bs)
        cur = start
        for ph in PHASES:
            dur = d.get(ph, 0) * 1000
            if dur <= 0:
                continue
            ps = {"id": next_id, "parent": bs["id"], "name": ph,
                  "layer": PHASE_LAYER.get(ph, "streaming"),
                  "start_us": cur, "end_us": min(cur + dur, end), "run": b["run"]}
            next_id += 1
            spans.append(ps)
            phase_spans.append(ps)
            cur += dur
    # Spark jobs: under the span that launched them, or for a streaming
    # query's jobs under the phase (else batch) that was running
    for j in tr["jobs"]:
        if not j["recorded"] or j["end_us"] <= 0:
            continue
        parent = None
        if j["run"] in run_parent:
            inside = [p for p in phase_spans if p["run"] == j["run"]
                      and p["start_us"] <= j["start_us"] <= p["end_us"]]
            parent = inside[-1]["id"] if inside else run_parent[j["run"]]
        elif j["span"] in by_id:
            parent = j["span"]
        if parent is None:
            continue
        spans.append({"id": next_id, "parent": parent, "name": f"job {j['id']}",
                      "layer": "spark", "start_us": j["start_us"],
                      "end_us": max(j["end_us"], j["start_us"]),
                      "records_read": j["records_read"]})
        next_id += 1
    children = defaultdict(list)
    for s in spans:
        children[s["parent"]].append(s)
    windows = rec["ops"]
    for root in children.get(0, []):
        if not any(a <= root["start_us"] <= b for a, b in windows):
            continue
        layers = _paint(root, children)
        dur = (root["end_us"] - root["start_us"]) / 1000.0
        t.max_reconcile_err_ms = max(t.max_reconcile_err_ms, abs(sum(layers.values()) - dur))
        t.root_ms += dur
        t.roots.append((root, layers))
        for k, v in layers.items():
            t.self_ms[k] += v
        desc, stack = [], list(children.get(root["id"], []))
        while stack:
            n = stack.pop()
            desc.append(n)
            stack += children.get(n["id"], [])
        jobs = [n for n in desc if n["layer"] == "spark"]
        t.jobs += len(jobs)
        t.job_busy_ms += _union_ms([(j["start_us"], j["end_us"]) for j in jobs])
        if root["name"] == "poll":
            polls = [n for n in desc if n["name"] == "cdc.pollAndDeliverTimed"]
            t.feed_rows_per_op.append(sum(
                j.get("records_read", 0) for j in jobs
                if polls and j["parent"] == polls[0]["id"]))
    return t


def _hook_metrics(rec, t):
    """Streaming timings between the library's hooks and Spark's progress."""
    batches = [b for b in rec["batches"] if b["run"] in t.timed_runs]
    hooks = rec.get("hooks", [])
    starts = {h["run"]: h["us"] for h in hooks if h["kind"] == "start"}
    first = {}
    for b in batches:
        first[b["run"]] = min(first.get(b["run"], b["start_us"]), b["start_us"])
    out = defaultdict(list)
    for run, s in first.items():
        if run in starts:
            out["streaming.query_start_ms"].append((s - starts[run]) / 1000.0)

    def batch_at(us, bid):
        for b in batches:
            end = b["start_us"] + b["durations"].get("triggerExecution", 0) * 1000
            if b["batch"] == bid and b["start_us"] <= us <= end:
                return b, end
        return None, None
    appended = {}
    for h in hooks:
        b, end = batch_at(h["us"], h["batch"])
        if b is None:
            continue
        if h["kind"] == "delivered":
            out["streaming.sink_to_commit_ms"].append((end - h["us"]) / 1000.0)
        elif h["kind"] == "appended":
            out["streaming.log_append_ms"].append((h["us"] - b["start_us"]) / 1000.0)
            appended[(b["run"], h["batch"])] = h["us"]
        elif h["kind"] == "folded" and (b["run"], h["batch"]) in appended:
            out["streaming.view_fold_ms"].append(
                (h["us"] - appended[(b["run"], h["batch"])]) / 1000.0)
    t.hook_metrics = {k: statistics.median(v) for k, v in out.items() if v}


def report(traced, untraced=()):
    import metrics
    wl = traced["workload"]
    t = build(traced)
    n = max(1, len(t.roots))
    lines = [f"trace report: workload={wl} seed={traced.get('seed')} "
             f"operations={n} timed_wall_ms={traced['timed_wall_ms']:.0f}"]
    lines.append(f"{'layer':<10} {'self ms/op':>11} {'share':>7}")
    total = sum(t.self_ms.values()) or 1.0
    for layer, v in sorted(t.self_ms.items(), key=lambda kv: -kv[1]):
        lines.append(f"{layer:<10} {v / n:>11.1f} {v / total:>7.1%}")
    by_name = defaultdict(list)
    for root, _ in t.roots:
        by_name[root["name"]].append((root["end_us"] - root["start_us"]) / 1000.0)
    for name, xs in sorted(by_name.items()):
        lines.append(f"op {name}: n={len(xs)} p50={statistics.median(xs):.1f} ms")
    lines.append(f"spark: jobs/op={t.jobs / n:.2f} job_busy_ms/op={t.job_busy_ms / n:.1f} "
                 f"driver_gap_ms/op={(traced['timed_wall_ms'] - t.job_busy_ms) / n:.1f}")
    for k, v in sorted(t.hook_metrics.items()):
        lines.append(f"{k}={v:.1f}")
    lines.append(f"reconciliation: layer self times sum to their root span within "
                 f"{t.max_reconcile_err_ms:.3f} ms per operation; root spans cover "
                 f"{t.root_ms:.0f} of {traced['timed_wall_ms']:.0f} timed ms "
                 f"({t.root_ms / max(1.0, traced['timed_wall_ms']):.1%})")
    if untraced:
        tr = statistics.median(metrics.cycle_ms(traced) or [0])
        un = statistics.median([statistics.median(metrics.cycle_ms(u) or [0])
                                for u in untraced])
        lines.append(f"tracing overhead: op_ms.p50 traced {tr:.1f} - untraced {un:.1f} "
                     f"= {tr - un:+.1f} ms ({(tr - un) / max(un, 1e-9):+.1%}, "
                     f"{len(untraced)} untraced run(s))")
    return "\n".join(lines)


def main(argv):
    if not argv:
        print(__doc__)
        return 2
    recs = [json.load(open(p)) for p in argv]
    print(report(recs[0], recs[1:]))
    return 0


if __name__ == "__main__":
    sys.path.insert(0, __import__("os").path.dirname(__import__("os").path.abspath(__file__)))
    sys.exit(main(sys.argv[1:]))
