"""Seeded input generator for the benchmark.

Writes the ten catalog tables (region, nation, customer, supplier, part,
orders, lineitem, events, documents, embeddings) as parquet files in the
catalog's schema, so every catalog row and its DuckDB oracle run on them
unchanged. The same (workload, seed) always gives byte-identical inputs.

Each workload has its own size profile (SIZES). The knobs:
  orders/parts/lines_max   lineitem volume; the graph rows read
                           l_orderkey < 60/600/2000 subsets of it
  hubs/hub_frac            degree skew: hub_frac of all lines go to the
                           first `hubs` parts (Zipf over them), which sets
                           the product fill sum(deg^2) on the contraction
                           key of mxm and the peel depth of k-core
  chain                    length of a path of two-line orders ending at
                           order 59 and hung off order 0, inside the
                           l_orderkey < 60 graph of q_cc_small: it sets
                           the rounds FastSV needs to converge
  docs/clusters/cluster_max  corpus size and planted near-duplicate
                           clusters (sizes 2..cluster_max, Zipf): bucket
                           self-join work grows with sum(bucket^2)
  embeds, events, users    embeddings and event log sizes

`scale` multiplies the row-count knobs (never below FLOOR); the
benchmark runs at 1, and a small scale measures what an op costs on
almost no data (its fixed cost).

Usage: python3 perfbench/gen.py <workload> <seed> <out_dir> [scale]
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SIZES = {
    # every layer without loops on one table set: a skewed order x part
    # matrix for mxm, its every-8th-order batch for the bucketed COO
    # write-then-read cycle, a corpus with planted near-duplicate
    # clusters for the dedup and stream ops, and an event log for
    # sessionize
    "oneshot": dict(orders=2400, parts=800, supps=100, custs=800, lines_max=6,
                    hubs=16, hub_frac=0.25, chain=0, docs=1500, clusters=120,
                    cluster_max=32, embeds=50, events=20000, users=600),
    # iterative algorithms: small per-round state, a path for FastSV depth
    "graph_iter": dict(orders=1500, parts=1500, supps=50, custs=300, lines_max=5,
                       hubs=8, hub_frac=0.10, chain=12, docs=50, clusters=5,
                       cluster_max=3, embeds=50, events=500, users=50),
}

# the smallest value of each row-count knob under `scale`; graph_iter's
# path needs orders 0..59
FLOOR = dict(orders=60, parts=40, supps=5, custs=10, docs=50, clusters=2,
             embeds=50, events=200, users=10)

WORDS = ("a the data table row column key value join agg group sort merge hash "
         "scan filter window stream batch query part order line customer small "
         "big fast slow spark vector graph edge node rank label core band sketch "
         "token shard index cache spill plan stage task round").split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
LANGS = ["en", "de", "fr", "es", "zh"]
EVENT_TYPES = ["view", "click", "cart", "purchase", "error"]
EPOCH_1995_US = 788918400 * 10**6
EPOCH_2024_US = 1704067200 * 10**6


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def _money(rng, lo, hi, n):
    return np.round(rng.integers(int(lo * 100), int(hi * 100), n) / 100.0, 2)


def _ts(us):
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def gen_tpch(rng, p, out):
    _write(out, "region", {"r_regionkey": pa.array(range(5), pa.int32()),
                           "r_name": [f"REGION{i}" for i in range(5)]})
    _write(out, "nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                           "n_name": [f"NATION{i}" for i in range(25)],
                           "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    c = p["custs"]
    _write(out, "customer", {
        "c_custkey": pa.array(np.arange(c), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": pa.array(rng.integers(0, 25, c), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, c),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, c)]})
    s = p["supps"]
    _write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(s), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": pa.array(rng.integers(0, 25, s), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, s)})
    np_ = p["parts"]
    _write(out, "part", {
        "p_partkey": pa.array(np.arange(np_), pa.int64()),
        "p_name": [f"{WORDS[a]} {WORDS[b]}" for a, b in rng.integers(0, len(WORDS), (np_, 2))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, np_)],
        "p_type": [["ECONOMY", "STANDARD", "PROMO", "LARGE", "MEDIUM", "SMALL"][i]
                   for i in rng.integers(0, 6, np_)],
        "p_size": pa.array(rng.integers(1, 51, np_), pa.int32()),
        "p_retailprice": _money(rng, 900.0, 999.99, np_)})
    o = p["orders"]
    _write(out, "orders", {
        "o_orderkey": pa.array(np.arange(o), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, c, o), pa.int64()),
        "o_orderstatus": [["F", "O", "P"][i] for i in rng.integers(0, 3, o)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, o),
        "o_orderdate": _ts(EPOCH_1995_US + rng.integers(0, 2400, o) * 86400 * 10**6),
        "o_orderpriority": [f"{i}-P" for i in rng.integers(1, 6, o)]})
    # lineitem: 1..lines_max lines per order; part picked from the hub
    # set with probability hub_frac (Zipf over hubs), else uniformly
    per = rng.integers(1, p["lines_max"] + 1, o)
    chain = p["chain"]
    # a path of `chain` two-line orders ending at order 59 (inside the
    # l_orderkey < 60 graph that q_cc_small reads) over parts no other
    # order uses, hung off order 0: the component's diameter, and so the
    # rounds FastSV needs, grows with it
    first = 60 - chain
    per[first:60] = 2
    free = np_ - (chain + 1 if chain else 0)
    ok = np.repeat(np.arange(o), per)
    ln = np.concatenate([np.arange(1, k + 1) for k in per])
    n = len(ok)
    zipf = 1.0 / np.arange(1, p["hubs"] + 1)
    hub_pick = rng.choice(p["hubs"], n, p=zipf / zipf.sum())
    uni = rng.integers(0, free, n)
    pk = np.where(rng.random(n) < p["hub_frac"], hub_pick, uni)
    if chain:
        rows = np.nonzero((ok >= first) & (ok < 60))[0]
        pk[rows] = free + (ok[rows] - first) + (ln[rows] - 1)
        pk[0] = free
    _write(out, "lineitem", {
        "l_orderkey": pa.array(ok, pa.int64()),
        "l_partkey": pa.array(pk, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, s, n), pa.int64()),
        "l_linenumber": pa.array(ln, pa.int32()),
        "l_quantity": rng.integers(1, 51, n).astype("float64"),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": [["A", "N", "R"][i] for i in rng.integers(0, 3, n)],
        "l_linestatus": [["F", "O"][i] for i in rng.integers(0, 2, n)],
        "l_shipdate": _ts(EPOCH_1995_US + rng.integers(0, 2500, n) * 86400 * 10**6)})


def gen_events(rng, p, out):
    e = p["events"]
    ts = np.sort(EPOCH_2024_US + rng.integers(0, 30 * 86400 * 10**6, e))
    w = 1.0 / np.arange(1, p["users"] + 1) ** 0.6
    _write(out, "events", {
        "event_id": pa.array(np.arange(e), pa.int64()),
        "ts": _ts(ts),
        "user_id": pa.array(rng.choice(p["users"], e, p=w / w.sum()), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.choice(5, e, p=[.45, .3, .12, .08, .05])],
        "value": np.round(rng.exponential(50.0, e), 2) + 0.01,
        "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, e)]})


def gen_documents(rng, p, out):
    """Random word texts plus planted clusters: each cluster member is a
    copy of the cluster's first document with one word replaced, so
    member pairs sit near Jaccard 0.8 on word 3-shingles. Returns the
    planted (a, b) doc-id pairs, a < b."""
    d = p["docs"]
    texts = [" ".join(WORDS[i] for i in rng.integers(0, len(WORDS), rng.integers(20, 90)))
             for _ in range(d)]
    sizes = np.minimum(rng.zipf(1.6, p["clusters"]) + 1, p["cluster_max"])
    ids = rng.permutation(d)
    planted, at = [], 0
    for sz in sizes:
        if at + sz > d:
            break
        members = sorted(int(x) for x in ids[at:at + sz])
        at += sz
        base = texts[members[0]].split(" ")
        for m in members[1:]:
            words = list(base)
            words[int(rng.integers(0, len(words)))] = WORDS[int(rng.integers(0, len(WORDS)))]
            texts[m] = " ".join(words)
        planted += [(a, b) for i, a in enumerate(members) for b in members[i + 1:]]
    _write(out, "documents", {
        "doc_id": pa.array(np.arange(d), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.choice(5, d, p=[.6, .1, .1, .1, .1])],
        "source": [f"src{i}" for i in rng.integers(0, 20, d)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    return planted


def gen_embeddings(rng, p, out):
    v = p["embeds"]
    centers = rng.normal(0, 1, (10, 64))
    label = rng.integers(0, 10, v)
    x = centers[label] + rng.normal(0, 0.6, (v, 64))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype("float32")
    _write(out, "embeddings", {
        "vec_id": pa.array(np.arange(v), pa.int64()),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32())})


def generate(workload, seed, out, scale=1.0):
    p = {k: max(int(v * scale), FLOOR[k]) if k in FLOOR else v
         for k, v in SIZES[workload].items()}
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, sorted(SIZES).index(workload)])
    gen_tpch(rng, p, out)
    gen_events(rng, p, out)
    planted = gen_documents(rng, p, out)
    gen_embeddings(rng, p, out)
    with open(os.path.join(out, "planted_pairs.txt"), "w") as f:
        f.writelines(f"{a} {b}\n" for a, b in planted)
    return planted


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]), sys.argv[3],
             float(sys.argv[4]) if len(sys.argv) > 4 else 1.0)
