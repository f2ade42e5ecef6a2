"""Deterministic tables for the `query_suite` workload.

Writes the ten tables the engine's batch queries read (`region`,
`nation`, `customer`, `supplier`, `part`, `orders`, `lineitem`,
`events`, `documents`, `embeddings`), one single-file parquet table
each, with the column names, types and value shapes of the engine's
test data. The generator is seeded with a constant, not with the
benchmark's `--seed`: the stored output hashes in `expected_suite.json`
are only valid for these exact tables. The run seed only permutes the
query order of each pass.

    python3 perfbench/tables.py <out_dir> [scale]
"""

import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
# 0.02 of the TPC-H-ish unit: 30k orders, 120k lineitem rows, 4000
# parts, 20k events over 300 users, 1000 documents, 500 embeddings.
# The largest scale whose suite runs fit the benchmark's time budget;
# its per-query job, stage and time profile matches sf0.1 (README.md)
DEFAULT_SCALE = 0.02

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
STATUS = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJ = ["small", "red", "new", "hot", "old", "big", "blue", "cold"]
NOUN = ["ring", "widget", "bolt", "anvil", "rod", "plate", "gear", "nut"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = np.array(["en", "fr", "zh", "de", "es"])
LANG_P = [0.41, 0.15, 0.15, 0.14, 0.15]
VOCAB = ("a the key agg row scan slow fast table value part hash merge batch "
         "spark line sort window order data column join small customer query "
         "big filter group stream vector").split()

US = 1_000_000  # microseconds per second


def _ts(micros):
    return pa.array(micros.astype("int64"), type=pa.timestamp("us"))


def _day_micros(y, m, d):
    return int(np.datetime64(f"{y:04d}-{m:02d}-{d:02d}", "us").astype("int64"))


def build(scale=DEFAULT_SCALE):
    """Return {table name: pyarrow.Table}, a pure function of `scale`."""
    rng = np.random.default_rng(DATA_SEED)
    # row counts follow the engine's test data at every scale factor
    # (TESTDATA.md): 0.1 gives its sf0.1 counts table for table
    n_cust = int(150_000 * scale)
    n_supp = max(10, int(10_000 * scale))
    n_part = int(200_000 * scale)
    n_ord = int(1_500_000 * scale)
    n_users = max(50, n_cust // 10)
    n_events = int(1_000_000 * scale)
    n_docs = max(500, int(50_000 * scale))
    n_emb = max(500, int(20_000 * scale))
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]})
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})
    names = [f"{ADJ[a]} {NOUN[b]}" for a, b in
             zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))]
    t["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype="int64"),
        "p_name": names,
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)})
    d0, d1 = _day_micros(1995, 1, 1), _day_micros(2001, 8, 1)
    odate = d0 + rng.integers(0, (d1 - d0) // (86400 * US) + 1, n_ord) * 86400 * US
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype="int64"),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(STATUS)[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": _ts(odate),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]})
    lines = rng.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord, dtype="int64"), lines)
    n_li = len(okey)
    lnum = np.concatenate([np.arange(1, k + 1) for k in lines]).astype("int32")
    qty = rng.integers(1, 51, n_li).astype("float64")
    ship = np.repeat(odate, lines) + rng.integers(1, 96, n_li) * 86400 * US
    # shuffle so the file is not clustered on the order key
    perm = rng.permutation(n_li)
    t["lineitem"] = pa.table({
        "l_orderkey": okey[perm],
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": pa.array(lnum[perm], pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) * 0.01, 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(ship[perm])})
    e0 = _day_micros(2024, 1, 1)
    ets = np.sort(e0 + rng.integers(0, 30 * 86400 * US, n_events))
    value = np.round(rng.exponential(50.0, n_events), 2)
    t["events"] = pa.table({
        "event_id": np.arange(n_events, dtype="int64"),
        "ts": _ts(ets),
        "user_id": rng.integers(0, n_users, n_events),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_events)],
        "value": value,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]})
    docs = []
    for _ in range(n_docs):
        n_words = int(rng.integers(4, 110))
        docs.append(" ".join(np.array(VOCAB)[rng.integers(0, len(VOCAB), n_words)]))
    # a few exact duplicates, as the engine's document corpora carry
    for i in range(0, n_docs, 600):
        docs[i + 1] = docs[i]
    t["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype="int64"),
        "text": docs,
        "lang": LANGS[rng.choice(5, n_docs, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(d) for d in docs], dtype="int64")})
    emb = rng.standard_normal((n_emb, 64))
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype="int64"),
        "embedding": pa.array(list(emb.astype("float32")), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32())})
    return t


def write(out_dir, scale=DEFAULT_SCALE):
    """Write every table as `<out_dir>/<name>.parquet`, atomically: the
    directory appears only once all tables are complete."""
    tmp = out_dir + ".partial"
    os.makedirs(tmp, exist_ok=True)
    for name, table in build(scale).items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    os.rename(tmp, out_dir)


if __name__ == "__main__":
    write(sys.argv[1], float(sys.argv[2]) if len(sys.argv) > 2 else DEFAULT_SCALE)
