"""Fixed analytics tables for the analytics_mix workload.

The declared queries read a TPC-H-ish star schema plus the events,
documents and embeddings tables (schemas in the repository's FIXTURES.md).
This module writes a deterministic copy of them at scale factor 0.1 with a
fixed seed, so that the benchmark needs no data from outside its checkout.
The tables do not depend on the benchmark's --seed: analytics_mix varies
only the order in which it replays queries.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEED = 42
SF = 0.1
WORDS = ("a the key agg row scan slow fast table value part hash merge batch "
         "spark line sort window join small column customer query order "
         "group stream filter data big").split()
LANGS = ["en", "es", "zh", "de", "fr"]


def _ts_ms(np_days, base="1995-01-01"):
    return (np.datetime64(base, "D") + np_days).astype("datetime64[ms]")


def build(out_dir):
    rng = np.random.default_rng(SEED)
    n_sup, n_cust, n_part = int(10000 * SF), int(150000 * SF), int(200000 * SF)
    n_ord, n_li, n_ev = int(1500000 * SF), int(6000000 * SF), int(1000000 * SF)
    n_doc, n_emb = 5000, 2000
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32))})
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_sup, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_sup)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_sup).astype(np.int32)),
        "s_acctbal": np.round(rng.uniform(-999, 9999, n_sup), 2)})
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)]})
    adj = np.array(["small", "red", "blue", "green", "large", "shiny", "old"])
    noun = np.array(["ring", "widget", "bolt", "gear", "pipe", "valve"])
    types = np.array(["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"])
    t["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 7, n_part)], " "),
                              noun[rng.integers(0, 6, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": types[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2)})
    status = np.array(["F", "O", "P"])
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
        "o_orderstatus": status[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
        "o_orderdate": pa.array(_ts_ms(rng.integers(0, 2404, n_ord)), pa.timestamp("ms")),
        "o_orderpriority": prio[rng.integers(0, 5, n_ord)]})
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_li, dtype=np.int64),
        "l_partkey": rng.integers(0, n_part, n_li, dtype=np.int64),
        "l_suppkey": rng.integers(0, n_sup, n_li, dtype=np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(np.int32)),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2000, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": pa.array(_ts_ms(rng.integers(1, 2500, n_li)), pa.timestamp("ms"))})
    ev_ns = np.sort(rng.integers(0, 30 * 86400 * 10**9, n_ev))
    ev_types = np.array(["view", "click", "signup", "purchase", "error"])
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(np.datetime64("2024-01-01", "ns") + ev_ns.astype("timedelta64[ns]"),
                       pa.timestamp("ns")),
        "user_id": rng.integers(0, 1500, n_ev, dtype=np.int64),
        "event_type": ev_types[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2) + 0.01,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    words = np.array(WORDS)
    texts = [" ".join(words[rng.integers(0, len(WORDS), int(rng.integers(20, 80)))])
             for _ in range(n_doc)]
    t["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.integers(0, 5, n_doc)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64)})
    centers = rng.normal(0, 0.15, (10, 64))
    labels = rng.integers(0, 10, n_emb)
    emb = (centers[labels] + rng.normal(0, 0.05, (n_emb, 64))).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32))})
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in t.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
    return sorted(t)


if __name__ == "__main__":
    import sys
    print(build(sys.argv[1]))
