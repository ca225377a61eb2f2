"""Metrics and output checks for one benchmark run.

`check` compares the run's outputs with expectations computed here from
the generated inputs (never by calling the code under test); `summarize`
turns the harness record into the end-to-end metrics (trace 0) or the
per-layer metrics (trace 1); `describe` prints the workload's own named
metrics with their sample counts.
"""
import glob
import json
import os
import statistics

import duckdb
import numpy as np
import pyarrow.parquet as pq

# End-to-end metrics: every workload reports each of them.
END_TO_END = [
    ("setup_s", "s"), ("op_ms.p50", "ms"), ("items_per_s", "items/s"),
    ("cpu_ms_per_item", "ms"), ("peak_rss_mb", "MB"),
]

GRAM_KEYS = ["llm_decontaminate_ngram", "llm_diversity_ngram",
             "llm_boilerplate_ngrams", "llm_token_zipf", "llm_lm_score",
             "llm_ngram_novelty"]
READ_KEYS = ["view_adhoc_sql", "join_nest_lines", "agg_counts", "view_cached_sql"]

# Per-layer metrics (trace 1), each named for the layer it measures. A
# layer a workload bypasses reads 0 there.
PER_LAYER = [
    ("cdc.state_read_ms", "ms"), ("cdc.page_query_ms", "ms"),
    ("cdc.commit_ms", "ms"), ("cdc.unaccounted_ms", "ms"),
    ("cdc.feed_rows_per_poll", "rows"), ("cdc.docs_per_feed_row", "ratio"),
    ("sinks.write_ms", "ms"), ("sinks.files_per_page", "count"),
    ("sinks.bytes_per_doc", "B"), ("sinks.dup_ratio", "ratio"),
    ("sinks.readback_ms", "ms"),
    ("sources.latest_offset_ms", "ms"), ("sources.get_batch_ms", "ms"),
    ("sources.rows_per_batch", "rows"),
    ("streaming.query_planning_ms", "ms"), ("streaming.add_batch_ms", "ms"),
    ("streaming.wal_commit_ms", "ms"), ("streaming.commit_offsets_ms", "ms"),
    ("streaming.trigger_gap_ms", "ms"), ("streaming.sink_to_commit_ms", "ms"),
    ("streaming.docs_per_change", "ratio"), ("streaming.query_start_ms", "ms"),
    ("streaming.log_append_ms", "ms"), ("streaming.view_fold_ms", "ms"),
    ("streaming.view_read_ms", "ms"),
    ("ops.mv_refresh_ms", "ms"), ("ops.mv_read_ms", "ms"),
] + [(f"ops.query_ms.{k}", "ms") for k in READ_KEYS] \
  + [(f"llm.query_ms.{k}", "ms") for k in GRAM_KEYS] + [
    ("spark.jobs_per_op", "count"), ("spark.job_busy_ms", "ms"),
    ("spark.driver_gap_ms", "ms"), ("spark.tasks", "count"),
    ("spark.task_wait_ms", "ms"), ("spark.failed_tasks", "count"),
    ("spark.executor_run_ms", "ms"), ("spark.executor_cpu_ms", "ms"),
    ("spark.jvm_gc_ms", "ms"), ("spark.input_bytes", "B"),
    ("spark.shuffle_read_bytes", "B"), ("spark.shuffle_write_bytes", "B"),
    ("spark.spill_bytes", "B"), ("spark.output_bytes", "B"),
    ("spark.peak_storage_mb", "MB"), ("spark.stage_skew", "ratio"),
] + [(f"layer.{l}.self_ms", "ms") for l in
     ("bench", "cdc", "sinks", "sources", "streaming", "ops", "llm", "spark")]


def p50(xs):
    return statistics.median(xs) if xs else 0.0


def quantile(xs, q):
    if not xs:
        return 0.0
    s = sorted(xs)
    return s[min(len(s) - 1, int(q * len(s)))]


# ------------------------------------------------------------- checks --

def _con(base):
    con = duckdb.connect()
    for f in sorted(glob.glob(os.path.join(base, "*.parquet"))):
        name = os.path.basename(f)[:-len(".parquet")]
        src = f"{f}/*.parquet" if os.path.isdir(f) else f
        if glob.glob(src):
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{src}')")
    return con


def _oracle(base, work, keys):
    """Spark's dump of each key against its DuckDB oracle: same columns,
    rows and values (the comparison of the repo's oracle tool)."""
    fails = []
    sqls = json.load(open(os.path.join(work, "out", "oracle", "oracle_sql.json")))
    con = _con(base)
    for k in keys:
        if k not in sqls:
            fails.append(f"{k}: no oracle SQL")
            continue
        got = con.execute(
            f"SELECT * FROM read_parquet('{work}/out/oracle/{k}/*.parquet')").df()
        want = con.execute(sqls[k]).df()
        got, want = got[sorted(got.columns)], want[sorted(want.columns)]
        if list(got.columns) != list(want.columns) or len(got) != len(want):
            fails.append(f"{k}: shape {list(got.columns)}x{len(got)} != "
                         f"{list(want.columns)}x{len(want)}")
            continue
        canon = lambda df: [tuple(repr(v) for v in r) for r in df.itertuples(index=False, name=None)]
        if canon(got) != canon(want):
            fails.append(f"{k}: values differ from the DuckDB oracle")
    return fails


def _max_versions(base):
    """Each invoice's newest change in the synthetic invoice changefeed:
    header at 2k, line at 2k+1 (graft.cdc.InvoiceCdc's mapping)."""
    o = pq.read_table(f"{base}/orders.parquet", columns=["o_orderkey", "o_totalprice"])
    keys = o.column(0).to_numpy()
    has_lines = np.zeros(keys.max() + 1, dtype=bool)
    has_lines[pq.read_table(f"{base}/lineitem.parquet", columns=["l_orderkey"])
              .column(0).to_numpy()] = True
    return keys, 2 * keys + has_lines[keys], o.column(1).to_numpy()


def _docs(work, name, cols):
    t = pq.read_table(os.path.join(work, "out", name), columns=cols)
    return [t.column(c).to_numpy() for c in cols]


def check_poll(rec, inp, work):
    fails = []
    keys, vmax, price = _max_versions(f"{inp}/base")
    c0 = tuple(rec["facts"]["start_cursor"])
    c1 = tuple(rec["facts"]["end_cursor"])
    after = (vmax > c0[0]) | ((vmax == c0[0]) & (keys > c0[1]))
    upto = (vmax < c1[0]) | ((vmax == c1[0]) & (keys <= c1[1]))
    want = {(int(k), int(v)) for k, v in zip(keys[after & upto], vmax[after & upto])}
    ids, vers, amt = _docs(work, "poll", ["invoice_id", "change_version", "total_amount"])
    got = list(zip(ids.tolist(), vers.tolist()))
    if len(set(ids.tolist())) != len(ids):
        fails.append("poll: an invoice has more than one deduplicated document")
    if set(got) != want:
        fails.append(f"poll: {len(set(got) - want)} unexpected and "
                     f"{len(want - set(got))} missing documents")
    if got:
        last = max((v, i) for i, v in got)
        if last != c1:
            fails.append(f"poll: cursor {c1} != last delivered {last}")
    if len(ids) and not np.allclose(amt, np.round(price[ids - 1], 2)):
        fails.append("poll: total_amount differs from the invoice header")
    return fails


def check_stream(rec, inp, work):
    shape = json.load(open(f"{inp}/inputs.json"))["shape"]
    landed = rec["facts"]["chunks_landed"]
    vpb = shape["versions_per_batch"]
    warm = rec["facts"]["warmup_cycles"]
    want = set()
    timed_docs = 0
    for i, f in enumerate(sorted(glob.glob(f"{inp}/base/events.parquet/*.parquet"))[:landed]):
        t = pq.read_table(f)
        v, e = t.column("event_id").to_numpy(), t.column("user_id").to_numpy()
        win = (v - 1) // vpb
        # max version of each entity within each batch window
        order = np.lexsort((v, e, win))
        last = np.r_[(win[order][1:] != win[order][:-1]) | (e[order][1:] != e[order][:-1]), True]
        pairs = set(zip(e[order][last].tolist(), v[order][last].tolist()))
        want |= pairs
        if i >= warm:  # the warm-up cycles' chunks are untimed
            timed_docs += len(pairs)
    ids, vers = _docs(work, "stream", ["invoice_id", "change_version"])
    got = set(zip(ids.tolist(), vers.tolist()))
    fails = []
    if len(got) != len(ids):
        fails.append("stream: duplicate documents after deduplication")
    if got != want:
        fails.append(f"stream: {len(got - want)} unexpected and "
                     f"{len(want - got)} missing documents")
    return fails, timed_docs


def check_views(rec, inp, work):
    """Both aggregate views and the materialized view against a
    recomputation over every page applied so far."""
    base = f"{inp}/base"
    o = pq.read_table(f"{base}/orders.parquet",
                      columns=["o_orderkey", "o_orderstatus", "o_totalprice"])
    status = np.asarray(o.column(1).to_pylist())
    cents = np.floor(o.column(2).to_numpy() * 100 + 0.5).astype(np.int64)
    li = pq.read_table(f"{base}/lineitem.parquet").to_pandas()
    li["price_cents"] = np.floor(li["l_extendedprice"] * 100 + 0.5).astype(np.int64)
    li["qty"] = np.floor(li["l_quantity"] + 0.5).astype(np.int64)
    by_key = li.groupby("l_orderkey").agg(n=("qty", "size"), qty=("qty", "sum"),
                                          price=("price_cents", "sum"),
                                          line=("l_linenumber", "sum"),
                                          part=("l_partkey", "sum"))
    pages = sorted(glob.glob(f"{inp}/pages/*.parquet"))
    live = np.zeros(len(status) + 1, dtype=bool)
    applied = -1
    fails = []
    hashes0 = rec["facts"].get("dump_hashes", {})
    for c in rec["facts"]["cycles"]:
        while applied < c["page"]:
            applied += 1
            t = pq.read_table(pages[applied])
            ids = t.column("invoice_id").to_numpy()
            ops = np.asarray(t.column("change_operation").to_pylist())
            live[ids[ops == "D"]] = False
            live[ids[ops != "D"]] = True
        lk = np.flatnonzero(live)
        view, mm = [], []
        for g in sorted(set(status[lk - 1].tolist())):
            sel = cents[lk - 1][status[lk - 1] == g]
            view.append([g, int(len(sel)), int(sel.sum())])
            mm.append([g, int(len(sel)), int(sel.min()), int(sel.max())])
        if c["view"] != view:
            fails.append(f"serving page {c['page']}: count/sum view differs")
        if c["minmax"] != mm:
            fails.append(f"serving page {c['page']}: min/max view differs")
        ids = pq.read_table(pages[c["page"]]).column("invoice_id").to_numpy()
        sub = by_key.reindex(ids).dropna()
        want = [int(sub["n"].sum()), int(sub["qty"].sum()), int(sub["price"].sum()),
                int(sub["line"].sum()), int(sub["part"].sum()), int(len(sub))]
        if c["mv"] != want:
            fails.append(f"serving page {c['page']}: materialized view rows differ")
        for k, h in c["hashes"].items():
            if hashes0 and h != hashes0.get(k):
                fails.append(f"serving page {c['page']}: {k} differs from its first result")
    full = [int(by_key["n"].sum()), int(by_key["qty"].sum()), int(by_key["price"].sum()),
            int(by_key["line"].sum()), int(by_key["part"].sum()), int(len(by_key))]
    if rec["facts"].get("mv_full") != full:
        fails.append("serving: materialized view differs from its recomputation")
    return fails


def _listing(d):
    files = [os.path.join(r, f) for r, _, fs in os.walk(d) for f in fs
             if not f.startswith((".", "_"))] if d and os.path.isdir(d) else []
    return {"files": len(files), "bytes": sum(os.path.getsize(f) for f in files)}


def check(workload, rec, inp, work):
    """Returns {"fails": [...], "items": n, ...}: items is the useful work
    the timed window completed, as established by the checks."""
    if rec.get("error"):
        return {"fails": [f"harness: {rec['error']}"], "items": 0}
    if workload == "delivery":
        fails, stream_docs = check_stream(rec, inp, work)
        fails += check_poll(rec, inp, work)
        poll_docs = sum(rec["samples"].get("poll_docs", []))
        out = {"items": poll_docs + stream_docs, "poll_docs": poll_docs,
               "stream_docs": stream_docs,
               "sink": _listing(rec["facts"].get("poll_sink_dir"))}
    else:
        fails = check_views(rec, inp, work)
        fails += _oracle(f"{inp}/base", work, READ_KEYS + GRAM_KEYS)
        out = {"items": len(rec["samples"].get("op_ms", []))}
    out["fails"] = fails
    return out


# ------------------------------------------------------------ metrics --

def timed_batches(rec):
    runs = set(rec["facts"].get("timed_runs", []))
    return [b for b in rec["batches"] if b["run"] in runs]


def cycle_ms(rec):
    """One closed-loop cycle per sample (see README: delivery polls a page
    and drains a feed file; serving folds a page and runs the read mix)."""
    return [(e - s) / 1000.0 for s, e in rec["ops"]]


def operations(workload, rec):
    """Operations attempted: poll rounds and micro-batches (delivery), the
    fold and each read (serving)."""
    if workload == "delivery":
        return len(rec["samples"].get("poll_ms", [])) + len(timed_batches(rec))
    return len(rec["samples"].get("op_ms", []))


def end_to_end(workload, rec, checks):
    wall_s = rec["timed_wall_ms"] / 1000.0
    return {
        "setup_s": rec["setup_s"] + rec["gen_s"],
        "op_ms.p50": p50(cycle_ms(rec)),
        "items_per_s": checks["items"] / wall_s if wall_s > 0 else 0.0,
        "cpu_ms_per_item": rec["timed_cpu_ms"] / max(1, checks["items"]),
        "peak_rss_mb": rec["peak_rss_mb"],
    }


def per_layer(workload, rec, checks):
    import trace_report
    s = rec["samples"]
    m = {name: 0.0 for name, _ in PER_LAYER}
    n_ops = max(1, operations(workload, rec))
    for k in ("cdc.state_read_ms", "cdc.page_query_ms", "cdc.commit_ms",
              "cdc.unaccounted_ms", "sinks.write_ms", "sinks.readback_ms",
              "ops.mv_refresh_ms", "ops.mv_read_ms", "streaming.view_read_ms"):
        m[k] = p50(s.get(k, []))
    for k in READ_KEYS:
        m[f"ops.query_ms.{k}"] = p50(s.get(f"ops.query_ms.{k}", []))
    for k in GRAM_KEYS:
        m[f"llm.query_ms.{k}"] = p50(s.get(f"llm.query_ms.{k}", []))
    tree = trace_report.build(rec)
    # micro-batch phases, from Structured Streaming's progress reports
    batches = timed_batches(rec)
    if batches:
        def ph(k):
            return p50([b["durations"].get(k, 0) for b in batches])
        m["sources.latest_offset_ms"] = ph("latestOffset")
        m["sources.get_batch_ms"] = ph("getBatch")
        m["sources.rows_per_batch"] = p50([b["input_rows"] for b in batches])
        m["streaming.query_planning_ms"] = ph("queryPlanning")
        m["streaming.add_batch_ms"] = ph("addBatch")
        m["streaming.wal_commit_ms"] = ph("walCommit")
        m["streaming.commit_offsets_ms"] = ph("commitOffsets")
        m["streaming.trigger_gap_ms"] = p50([
            b["durations"].get("triggerExecution", 0) - sum(
                b["durations"].get(k, 0) for k in trace_report.PHASES)
            for b in batches])
    m.update(tree.hook_metrics)
    if workload == "delivery":
        rows = sum(b["input_rows"] for b in batches)
        if rows:
            m["streaming.docs_per_change"] = checks.get("stream_docs", 0) / rows
        m["cdc.feed_rows_per_poll"] = p50(tree.feed_rows_per_op)
        if sum(tree.feed_rows_per_op):
            m["cdc.docs_per_feed_row"] = checks.get("poll_docs", 0) / sum(tree.feed_rows_per_op)
        f = rec["facts"]
        pages = len(s.get("poll_ms", [])) + f.get("warmup_cycles", 0)
        dedup = f.get("poll_sink_dedup_records", 0)
        m["sinks.files_per_page"] = checks["sink"]["files"] / max(1, pages)
        m["sinks.bytes_per_doc"] = checks["sink"]["bytes"] / max(1, dedup)
        m["sinks.dup_ratio"] = f.get("poll_sink_records", 0) / max(1, dedup)
    eng = (rec.get("trace") or {}).get("engine", {})
    for k in ("tasks", "failed_tasks", "executor_run_ms", "executor_cpu_ms",
              "jvm_gc_ms", "input_bytes", "shuffle_read_bytes",
              "shuffle_write_bytes", "spill_bytes", "output_bytes"):
        m[f"spark.{k}"] = eng.get(k, 0.0) / n_ops
    m["spark.task_wait_ms"] = eng.get("task_wait_ms", 0.0) / max(1, eng.get("tasks", 0))
    m["spark.jobs_per_op"] = tree.jobs / n_ops
    m["spark.job_busy_ms"] = tree.job_busy_ms / n_ops
    m["spark.driver_gap_ms"] = (rec["timed_wall_ms"] - tree.job_busy_ms) / n_ops
    m["spark.peak_storage_mb"] = (rec.get("trace") or {}).get("peak_storage_mb", 0.0)
    m["spark.stage_skew"] = (rec.get("trace") or {}).get("stage_skew", 0.0)
    for layer, v in tree.self_ms.items():
        m[f"layer.{layer}.self_ms"] = v / n_ops
    return m


def summarize(workload, rec, checks, trace):
    # each failed check counts one failed operation
    attempted = max(1, operations(workload, rec))
    fails = checks["fails"]
    names = PER_LAYER if trace else END_TO_END
    if rec.get("error"):
        vals = {n: 0.0 for n, _ in names}
    else:
        vals = (per_layer if trace else end_to_end)(workload, rec, checks)
    return {"correct": not fails, "attempted": attempted,
            "failed": min(attempted, len(fails)),
            "metrics": {n: {"value": float(vals[n]), "unit": u} for n, u in names}}


def describe(workload, seed, shape, rec, checks):
    """The workload's own named metrics, each timing with its count."""
    s = rec["samples"]
    out = [f"# workload={workload} seed={seed} shape={json.dumps(shape, sort_keys=True)}"]

    def t(name, xs, tail=False):
        line = f"# {name}.p50={p50(xs):.1f} ms (n={len(xs)})"
        if tail and len(xs) >= 100:
            line += f" {name}.p90={quantile(xs, 0.9):.1f} ms"
        out.append(line)
    wall_s = rec["timed_wall_ms"] / 1000.0 or 1.0
    att = max(1, operations(workload, rec))
    t("cycle_ms", cycle_ms(rec))
    if workload == "delivery":
        t("poll_ms", s.get("poll_ms", []))
        t("batch_ms", [b["durations"].get("triggerExecution", 0) for b in timed_batches(rec)],
          tail=True)
        out.append(f"# docs_per_s={checks.get('items', 0) / wall_s:.1f} docs/s "
                   f"(poll {checks.get('poll_docs', 0):.0f}, "
                   f"stream {checks.get('stream_docs', 0)} docs in {wall_s:.1f} s)")
    else:
        t("fold_ms", s.get("fold_ms", []))
        t("query_ms", s.get("query_ms", []), tail=True)
        for k in READ_KEYS:
            t(f"ops.query_ms.{k}", s.get(f"ops.query_ms.{k}", []))
        for k in GRAM_KEYS:
            t(f"llm.query_ms.{k}", s.get(f"llm.query_ms.{k}", []))
    out.append(f"# setup_s={rec['setup_s'] + rec['gen_s']:.2f} s "
               f"peak_rss_mb={rec['peak_rss_mb']:.0f} MB "
               f"failed_ratio={len(checks['fails']) / att:.4f} (attempted {att})")
    for f in checks["fails"][:20]:
        out.append(f"# CHECK FAILED: {f}")
    return out
