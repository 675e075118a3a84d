"""Seeded generator for the analytics_suite tables.

Writes the ten tables the query inventory reads (region, nation,
customer, supplier, part, orders, lineitem, events, documents,
embeddings) as one Parquet file each, with the row counts, value laws
and column types of the synthetic TPC-H-ish star schema the engine's
correctness suite runs on (see TESTDATA.md / FIXTURES.md). All draws
come from one numpy generator seeded by `seed`, so a seed fixes every
byte of the tables.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def generate(out, sf, seed):
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    k = sf / 0.1  # multiplier vs sf0.1

    n_cust = int(15000 * k); n_supp = int(1000 * k); n_part = int(20000 * k)
    n_ord = int(150000 * k); n_li = int(600000 * k); n_ev = int(100000 * k)
    n_users = int(1500 * k); n_doc = int(5000 * k)
    n_emb = int(round(2000 * (4 ** np.log10(k))))  # 4x per decade

    def write(name, table):
        pq.write_table(table, os.path.join(out, f"{name}.parquet"))

    write("region", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    }))
    write("nation", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }))

    segments = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE",
                         "HOUSEHOLD", "MACHINERY"])
    write("customer", pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-1000, 10000, n_cust), 2),
        "c_mktsegment": segments[rng.integers(0, 5, n_cust)],
    }))

    write("supplier", pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-1000, 10000, n_supp), 2),
    }))

    adjs = np.array(["large", "hot", "blue", "old", "cold",
                     "red", "new", "small"])
    nouns = np.array(["ring", "bolt", "plate", "screw", "cap",
                      "wheel", "case", "box"])
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO",
                      "SMALL", "STANDARD"])
    pk = np.arange(n_part, dtype=np.int64)
    write("part", pa.table({
        "p_partkey": pk,
        "p_name": np.char.add(np.char.add(
            adjs[rng.integers(0, 8, n_part)], " "),
            nouns[rng.integers(0, 8, n_part)]),
        "p_brand": np.array([f"Brand#{b}" for b in
                             rng.integers(1, 26, n_part)]),
        "p_type": types[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": 900.0 + (pk % 1000) / 10.0,
    }))

    d0 = np.datetime64("1995-01-01")
    od_span = int((np.datetime64("2001-08-01") - d0)
                  / np.timedelta64(1, "D"))
    statuses = np.array(["O", "P", "F"])
    prios = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM",
                      "4-NOT SPECIFIED", "5-LOW"])
    odate = d0 + rng.integers(0, od_span + 1, n_ord).astype("timedelta64[D]")
    write("orders", pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": statuses[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
        "o_orderdate": odate.astype("datetime64[us]"),
        "o_orderpriority": prios[rng.integers(0, 5, n_ord)],
    }))

    lok = np.sort(rng.integers(0, n_ord, n_li))
    # 1-based position within each order (lok is sorted)
    first = np.zeros(n_li, dtype=bool); first[0] = True
    first[1:] = lok[1:] != lok[:-1]
    idx = np.arange(n_li, dtype=np.int64)
    lineno = idx - np.maximum.accumulate(np.where(first, idx, 0)) + 1
    ship = (d0 + rng.integers(0, od_span + 1, n_li).astype("timedelta64[D]")
            + rng.integers(1, 96, n_li).astype("timedelta64[D]"))
    write("lineitem", pa.table({
        "l_orderkey": lok,
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": lineno.astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105000, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_li)],
        "l_shipdate": ship.astype("datetime64[us]"),
    }))

    ev_types = np.array(["click", "view", "purchase", "signup", "error"])
    e0 = np.datetime64("2024-01-01T00:00:00", "us")
    ev_span_us = 30 * 86400 * 1_000_000
    write("events", pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": e0 + rng.integers(0, ev_span_us, n_ev).astype("timedelta64[us]"),
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": ev_types[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": np.array([f'{{"k": {v}}}' for v in
                           rng.integers(0, 100, n_ev)]),
    }))

    vocab = np.array([
        "a", "agg", "batch", "big", "column", "customer", "data", "dup",
        "fast", "filter", "group", "hash", "join", "key", "line", "merge",
        "order", "part", "query", "row", "scan", "slow", "small", "sort",
        "spark", "stream", "table", "the", "value", "vector", "window"])
    langs = np.array(["en", "de", "es", "fr", "zh"])
    lang_w = np.array([0.4, 0.15, 0.15, 0.15, 0.15])
    nw = rng.integers(10, 101, n_doc)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), n)]) for n in nw]
    write("documents", pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": langs[rng.choice(5, n_doc, p=lang_w)],
        "source": np.array([f"src{i % 20}" for i in range(n_doc)]),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }))

    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    write("embeddings", pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_emb).astype(np.int32),
    }))
