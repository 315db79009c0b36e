"""Generator for the query-sweep input tables.

Writes one parquet file per table (the layout `graft.Tables` reads): the
TPC-H-like star schema, the `events` stream table, and the
`documents`/`embeddings` corpus tables. Row counts, key ranges, value
sets, distributions, text lengths and vocabulary follow the repository's
sf0.01 fixtures (see e2ebench/README.md for the comparison). Every run
sweeps the same tables: they come from the fixed `SEED`, not from the
run's seed.

    python3 e2ebench/tables.py <out_dir> [<seed>]
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEED = 42
WORDS = ("a the key agg row scan slow fast table value part hash merge batch "
         "spark line sort window order data column join small customer query "
         "big stream group filter vector dup").split()
TEXT_WORDS = WORDS[:-1]  # "dup" marks a near-duplicate document only
LANGS = ["en", "de", "fr", "es", "zh"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
EVENT_TYPES = ["signup", "view", "click", "purchase", "error"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
ADJECTIVES = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]


def _ts(days_from, days_to, n, rng, base="1995-01-01"):
    start = np.datetime64(base, "D")
    return start + rng.integers(days_from, days_to, n).astype("timedelta64[D]")


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def _text(rng, n_words):
    return " ".join(TEXT_WORDS[i] for i in rng.integers(0, len(TEXT_WORDS), n_words))


def generate(out, seed=SEED):
    rng = np.random.Generator(np.random.PCG64(seed))
    os.makedirs(out, exist_ok=True)
    n_cust, n_orders, n_line, n_part, n_supp = 1500, 15000, 60000, 2000, 100

    _write(out, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": REGIONS})
    _write(out, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32))})
    _write(out, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)]})
    _write(out, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": np.round(rng.uniform(-999, 9999, n_supp), 2)})
    _write(out, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{ADJECTIVES[a]} {NOUNS[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2)})
    _write(out, "orders", {
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_orders).astype(np.int64),
        "o_orderstatus": [["F", "O", "P"][i] for i in rng.integers(0, 3, n_orders)],
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_orders), 2),
        "o_orderdate": pa.array(_ts(0, 2404, n_orders, rng).astype("datetime64[us]")),
        "o_orderpriority": [["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"][i]
                            for i in rng.integers(0, 5, n_orders)]})
    _write(out, "lineitem", {
        "l_orderkey": rng.integers(0, n_orders, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105000, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": [["A", "N", "R"][i] for i in rng.integers(0, 3, n_line)],
        "l_linestatus": [["F", "O"][i] for i in rng.integers(0, 2, n_line)],
        "l_shipdate": pa.array(_ts(1, 2500, n_line, rng).astype("datetime64[us]"))})

    n_ev = 10000
    # exponential gaps, mean 259 s: ten thousand events over thirty days
    gaps = np.maximum(1, rng.exponential(259e6, n_ev)).astype(np.int64)
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(gaps).astype("timedelta64[us]")
    _write(out, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ts),
        "user_id": rng.integers(0, 150, n_ev).astype(np.int64),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_ev)],
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_ev), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})

    n_docs = 500
    texts = [_text(rng, n) for n in rng.integers(10, 100, n_docs)]
    # near-duplicates: one document in twenty copies another one and
    # appends "dup", so the dedup operators have pairs to find
    for i in rng.choice(n_docs, 25, replace=False):
        j = int(rng.integers(0, n_docs - 1))
        texts[i] = texts[j + (j >= i)] + " dup"
    _write(out, "documents", {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": [LANGS[i] for i in rng.choice(5, n_docs, p=[.44, .14, .14, .14, .14])],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})

    n_vec, dim = 500, 64
    vecs = rng.standard_normal((n_vec, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(out, "embeddings", {
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vec).astype(np.int32))})


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]) if len(sys.argv) > 2 else SEED)
