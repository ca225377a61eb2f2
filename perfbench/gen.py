"""Seeded input generator for the benchmark workloads.

Every input the program reads is made here from the workload's seed, so
the same seed gives byte-identical files and different seeds give inputs
of the same size and shape. The shape parameters of each workload are
fixed in SHAPES and echoed in the run's output.

Tables follow the star schema the library reads (`graft.Tables`):
orders, lineitem, events and documents, one parquet file each unless a
workload lays a table out as several files.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Fixed per workload; a change here is a change of the benchmark.
SHAPES = {
    "delivery": {
        "orders": 60_000,            # invoice keyspace
        "page": 1000,                # ChangeFeed page limit (server default)
        "cursor_lo": 0.05,           # start cursor drawn from this share ...
        "cursor_hi": 0.25,           # ... to this share of the keyspace
        "versions_per_batch": 1000,  # maxVersionsPerBatch of deliver
        "chunk_versions": 2000,      # one landed streaming feed file
        "chunks": 40,                # feed files available to a run
        "zipf_s": 1.1,               # entity skew over the keyspace
    },
    "serving": {
        "orders": 20_000,
        "events": 50_000,
        "page_ids": 500,             # invoices per change page
        "delete_share": 0.2,         # share of a page that deletes live ids
        "pages": 20,                 # change pages available to a run
        "documents": 2_500,          # corpus scale (half the sf0.1 corpus)
        "vocab": 48,
        "min_tokens": 20,
        "max_tokens": 90,
    },
}

EPOCH_1992_US = 694_224_000_000_000
SPAN_DAYS = 2_400
DAY_US = 86_400_000_000

VOCAB = ("spark stream batch query table column row key value group sort "
         "merge join scan filter hash order line part data window agg fast "
         "slow big small the a customer vector index cache page feed view "
         "sink source change version delta state commit log shard token "
         "gram corpus score rank").split()

BOILERPLATE = ("all rights reserved copyright notice", "click here to "
               "subscribe to the feed", "terms of service apply to every page")


def _rng(seed, salt):
    # one independent stream per table, so adding a table never shifts
    # another table's values
    return np.random.default_rng([int(seed), salt])


def _ts(rng, n):
    days = rng.integers(0, SPAN_DAYS, n, dtype=np.int64)
    return pa.array(EPOCH_1992_US + days * DAY_US, type=pa.timestamp("us"))


def _write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy", write_statistics=True)


def orders_table(seed, n):
    r = _rng(seed, 1)
    status = np.array(["F", "O", "P"])[r.choice(3, n, p=[0.48, 0.48, 0.04])]
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPEC", "5-LOW"])
    return pa.table({
        "o_orderkey": pa.array(np.arange(1, n + 1, dtype=np.int64)),
        "o_custkey": pa.array(r.integers(1, 15_001, n, dtype=np.int64)),
        "o_orderstatus": pa.array(status),
        "o_totalprice": pa.array(np.round(r.uniform(900.0, 450_000.0, n), 2)),
        "o_orderdate": _ts(r, n),
        "o_orderpriority": pa.array(prio[r.integers(0, 5, n)]),
    })


def lineitem_table(seed, n_orders):
    r = _rng(seed, 2)
    # 1..7 lines per invoice; one invoice in 20 has none, so its newest
    # change is the header's and not a line's. A shuffled fixed multiset
    # of counts keeps the table's size the same for every seed.
    per = np.arange(n_orders) % 7 + 1
    per[::20] = 0
    per = r.permutation(per)
    keys = np.repeat(np.arange(1, n_orders + 1, dtype=np.int64), per)
    n = len(keys)
    starts = np.repeat(np.cumsum(per) - per, per)
    lineno = (np.arange(n) - starts + 1).astype(np.int32)
    qty = r.integers(1, 51, n).astype(np.float64)
    return pa.table({
        "l_orderkey": pa.array(keys),
        "l_partkey": pa.array(r.integers(1, 20_001, n, dtype=np.int64)),
        "l_suppkey": pa.array(r.integers(1, 1_001, n, dtype=np.int64)),
        "l_linenumber": pa.array(lineno),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * r.uniform(900.0, 2_000.0, n), 2)),
        "l_discount": pa.array(np.round(r.uniform(0.0, 0.1, n), 2)),
        "l_tax": pa.array(np.round(r.uniform(0.0, 0.08, n), 2)),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[r.integers(0, 3, n)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[r.integers(0, 2, n)]),
        "l_shipdate": _ts(r, n),
    })


def events_table(seed, n):
    r = _rng(seed, 3)
    kinds = np.array(["click", "error", "purchase", "signup", "view"])
    return pa.table({
        "event_id": pa.array(r.permutation(n).astype(np.int64)),
        "ts": _ts(r, n),
        "user_id": pa.array(r.integers(0, 1_500, n, dtype=np.int64)),
        "event_type": pa.array(kinds[r.integers(0, 5, n)]),
        "value": pa.array(np.round(r.uniform(0.0, 100.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in r.integers(0, 100, n)]),
    })


def documents_table(seed, shape):
    r = _rng(seed, 4)
    n, v = shape["documents"], shape["vocab"]
    words = np.array(VOCAB[:v])
    w = 1.0 / np.arange(1, v + 1) ** 1.05
    w = w[r.permutation(v)]
    w /= w.sum()
    lens = r.integers(shape["min_tokens"], shape["max_tokens"] + 1, n)
    toks = words[r.choice(v, int(lens.sum()), p=w)]
    bounds = np.concatenate([[0], np.cumsum(lens)])
    plate = r.integers(-6, len(BOILERPLATE), n)  # negative: no boilerplate
    texts = []
    for i in range(n):
        body = " ".join(toks[bounds[i]:bounds[i + 1]])
        texts.append(body if plate[i] < 0 else BOILERPLATE[plate[i]] + " " + body)
    langs = np.array(["de", "en", "fr"])[r.choice(3, n, p=[0.05, 0.9, 0.05])]
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(langs),
        "source": pa.array([f"src{k}" for k in r.integers(0, 20, n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def feed_chunks(seed, shape):
    """The streaming changefeed: version v (1-based, dense) changes
    entity user_id, drawn Zipf-skewed over the invoice keyspace."""
    r = _rng(seed, 5)
    n = shape["orders"]
    w = 1.0 / np.arange(1, n + 1) ** shape["zipf_s"]
    w /= w.sum()
    rank_to_key = r.permutation(n).astype(np.int64) + 1
    total = shape["chunks"] * shape["chunk_versions"]
    ents = rank_to_key[r.choice(n, total, p=w)]
    vers = np.arange(1, total + 1, dtype=np.int64)
    cv = shape["chunk_versions"]
    return [(vers[i:i + cv], ents[i:i + cv]) for i in range(0, total, cv)]


def change_pages(seed, shape):
    """serving change pages: each page touches page_ids distinct
    invoices; delete_share of them delete a live invoice, the rest insert
    (or update, when live already)."""
    r = _rng(seed, 6)
    n, k = shape["orders"], shape["page_ids"]
    n_del = int(round(k * shape["delete_share"]))
    live = np.zeros(n + 1, dtype=bool)
    version = 0
    pages = []
    for _ in range(shape["pages"]):
        live_ids = np.flatnonzero(live)
        dels = (r.choice(live_ids, min(n_del, len(live_ids)), replace=False)
                if len(live_ids) else np.empty(0, dtype=np.int64))
        pool = np.setdiff1d(np.arange(1, n + 1), dels, assume_unique=True)
        ups = r.choice(pool, k - len(dels), replace=False)
        ids = np.concatenate([dels, ups]).astype(np.int64)
        ops = np.array(["D"] * len(dels) +
                       ["U" if live[i] else "I" for i in ups])
        order = r.permutation(k)
        ids, ops = ids[order], ops[order]
        vers = np.arange(version + 1, version + k + 1, dtype=np.int64)
        version += k
        live[ids[ops == "D"]] = False
        live[ids[ops != "D"]] = True
        pages.append((ids, vers, ops))
    return pages


def generate(workload, seed, out):
    """Write every input of `workload` under `out`, plus inputs.json (seed,
    shape, the consumer's start cursor) that the harness reads."""
    shape = SHAPES[workload]
    os.makedirs(out, exist_ok=True)
    meta = {"workload": workload, "seed": int(seed), "shape": shape}
    base = os.path.join(out, "base")
    _write(orders_table(seed, shape["orders"]), f"{base}/orders.parquet")
    _write(lineitem_table(seed, shape["orders"]), f"{base}/lineitem.parquet")
    if workload == "delivery":
        r = _rng(seed, 7)
        k = int(r.integers(int(shape["orders"] * shape["cursor_lo"]),
                           int(shape["orders"] * shape["cursor_hi"])))
        # a cursor on the invoice's header change: (version 2k, id k)
        meta["cursor"] = [2 * k, k]
        for i, (v, e) in enumerate(feed_chunks(seed, shape)):
            _write(pa.table({"event_id": pa.array(v), "user_id": pa.array(e)}),
                   f"{out}/feed/part-{i:05d}.parquet")
    if workload == "serving":
        _write(events_table(seed, shape["events"]), f"{base}/events.parquet")
        _write(documents_table(seed, shape), f"{base}/documents.parquet")
        for i, (ids, vers, ops) in enumerate(change_pages(seed, shape)):
            _write(pa.table({"invoice_id": pa.array(ids),
                             "change_version": pa.array(vers),
                             "change_operation": pa.array(ops)}),
                   f"{out}/pages/page-{i:05d}.parquet")
    with open(os.path.join(out, "inputs.json"), "w") as f:
        json.dump(meta, f, indent=1, sort_keys=True)
    return meta
