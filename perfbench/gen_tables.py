"""Generator of the tables the analytics suite reads.

The registry entries read ten parquet tables: a TPC-H-like star schema
(region, nation, customer, supplier, part, orders, lineitem) plus
documents, embeddings and events. This writes them with the schema
and value shapes of the project's sf0.1 test data, scaled by SCALE
(1.0 = sf0.1: 600k lineitem rows, 5k documents, 2k vectors, 100k
events). The seed is fixed: the suite's expected row counts and
content hashes (suite_expected.json) are recorded for exactly these
bytes, so the tables must not vary with the run seed, and SCALE must
not change without recording them again. run.py calls `generate(out)`.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEED = 42
# A tenth of sf0.1 (sf0.01): one pass over the whole suite then fits a
# run of the benchmark's time budget (see README).
SCALE = 0.1
VOCAB = ("batch part spark line column order small sort fast value scan a hash "
         "slow group agg filter query big key window row table stream merge "
         "data vector join customer the").split()
LANGS = np.array(["en"] * 8 + ["de", "es", "fr", "zh"] * 3)
DIM, N_LABELS = 64, 10
DAY_US = 24 * 3600 * 1_000_000
T95_US = 788_918_400_000_000      # 1995-01-01
T2024_US = 1_704_067_200_000_000  # 2024-01-01


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def generate(out, scale=SCALE):
    rng = np.random.default_rng(SEED)
    os.makedirs(out, exist_ok=True)
    n_docs, n_vecs = int(5000 * scale), int(2000 * scale)
    n_events, n_users = int(100000 * scale), max(1, int(1500 * scale))
    n_cust, n_supp, n_part = int(15000 * scale), int(1000 * scale), int(20000 * scale)
    n_orders, n_line = int(150000 * scale), int(600000 * scale)

    # documents: ~5% planted near-duplicates (an earlier text + " dup")
    texts = []
    dup = rng.random(n_docs) < 0.05
    lengths = rng.integers(10, 101, n_docs)
    for i in range(n_docs):
        if i > 10 and dup[i]:
            texts.append(texts[int(rng.integers(i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(VOCAB, lengths[i])))
    _write(out, "documents", {
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, n_docs), pa.string()),
        "source": pa.array([f"src{s}" for s in rng.integers(0, 20, n_docs)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })

    # embeddings: unit vectors, every 33rd a near-copy of its predecessor
    vecs = rng.normal(0.0, 1.0, (n_vecs, DIM))
    for i in range(32, n_vecs, 33):
        vecs[i] = vecs[i - 1] + rng.normal(0.0, 0.05, DIM)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out, "embeddings", {
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, N_LABELS, n_vecs), pa.int32()),
    })

    # events: 30 days from 2024-01-01, exponential values (mean 50)
    etypes = np.array(["click", "view", "purchase", "signup", "error"])
    ts = np.sort(T2024_US + rng.integers(0, 30 * DAY_US, n_events))
    _write(out, "events", {
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_events), pa.int64()),
        "event_type": pa.array(rng.choice(etypes, n_events), pa.string()),
        "value": pa.array(np.round(rng.exponential(50.0, n_events), 2), pa.float64()),
        "props": pa.array([json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_events)],
                          pa.string()),
    })

    _write(out, "region", {
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"], pa.string()),
    })
    _write(out, "nation", {
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    _write(out, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], pa.string()),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": pa.array(np.round(rng.uniform(-1000, 10000, n_cust), 2), pa.float64()),
        "c_mktsegment": pa.array(rng.choice(segs, n_cust), pa.string()),
    })
    _write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], pa.string()),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": pa.array(np.round(rng.uniform(-1000, 10000, n_supp), 2), pa.float64()),
    })
    adjs = np.array(["blue", "cold", "hot", "large", "new", "old", "red", "small"])
    nouns = np.array(["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"])
    ptypes = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    _write(out, "part", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": pa.array(np.char.add(np.char.add(rng.choice(adjs, n_part), " "),
                                       rng.choice(nouns, n_part)), pa.string()),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)], pa.string()),
        "p_type": pa.array(rng.choice(ptypes, n_part), pa.string()),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": pa.array(np.round(rng.uniform(900, 1000, n_part), 2), pa.float64()),
    })
    prios = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    _write(out, "orders", {
        "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(np.array(["F", "O", "P"]), n_orders), pa.string()),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, n_orders), 2), pa.float64()),
        "o_orderdate": pa.array(T95_US + rng.integers(0, 2405, n_orders) * DAY_US, pa.timestamp("us")),
        "o_orderpriority": pa.array(rng.choice(prios, n_orders), pa.string()),
    })
    _write(out, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_orders, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64), pa.float64()),
        "l_extendedprice": pa.array(np.round(rng.uniform(900, 105000, n_line), 2), pa.float64()),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0, pa.float64()),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0, pa.float64()),
        "l_returnflag": pa.array(rng.choice(np.array(["A", "N", "R"]), n_line), pa.string()),
        "l_linestatus": pa.array(rng.choice(np.array(["F", "O"]), n_line), pa.string()),
        "l_shipdate": pa.array(T95_US + (1 + rng.integers(0, 2499, n_line)) * DAY_US,
                               pa.timestamp("us")),
    })

