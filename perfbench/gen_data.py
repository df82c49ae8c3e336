"""Deterministic synthetic tables for the benchmark.

Writes the ten tables graft's catalog reads (a TPC-H-like star schema,
an `events` stream table, a `documents` corpus and an `embeddings`
table) as one parquet file each, at scale factor SF (sf0.1: 600k
lineitem rows). The shapes follow the data the catalog was built
against: uniform keys and measures, a 30-word vocabulary for the
documents with ~5% near-duplicates (a copy of another document plus
one word) and a few exact copies, and unit-norm 64-d embeddings with
ten labels. The tables are the same for every benchmark seed; the seed
only drives what each workload does with them.

Usage: python3 gen_data.py SF OUT_DIR
"""
import datetime
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEED = 42
WORDS = ("spark window merge table column vector stream value data small join filter big group "
         "hash customer sort order slow line part fast row the agg key query a scan batch").split()
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]


def ts_us(start: datetime.datetime, offsets_us: np.ndarray) -> pa.Array:
    base = int((start - datetime.datetime(1970, 1, 1)).total_seconds()) * 1000000
    return pa.array(base + offsets_us.astype(np.int64), type=pa.timestamp("us"))


def day_range(rng, n, start, end):
    days = (end - start).days
    return ts_us(start, rng.integers(0, days + 1, n) * 86400 * 1000000)


def write(out: str, name: str, cols: dict):
    pq.write_table(pa.table(cols), f"{out}/{name}.parquet")


def main(sf: float, out: str):
    rng = np.random.default_rng(SEED)
    n_cust, n_supp, n_part = int(150000 * sf), max(10, int(10000 * sf)), int(200000 * sf)
    n_ord, n_line = int(1500000 * sf), int(6000000 * sf)
    n_ev, n_doc, n_emb = int(1000000 * sf), int(50000 * sf), int(20000 * sf)

    write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    write(out, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)]})
    write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})
    adj = np.array(["large", "hot", "blue", "old", "cold", "small", "red", "shiny"])
    noun = np.array(["ring", "bolt", "plate", "gear", "widget", "nut", "screw", "spring"])
    types = np.array(["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"])
    pk = np.arange(n_part)
    write(out, "part", {
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, n_part)], " "), noun[rng.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": types[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 2)})
    status = np.array(["O", "F", "P"])
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    write(out, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": status[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": day_range(rng, n_ord, datetime.datetime(1995, 1, 1), datetime.datetime(2001, 8, 1)),
        "o_orderpriority": prio[rng.integers(0, 5, n_ord)]})
    flags = np.array([("N", "O"), ("A", "F"), ("A", "O"), ("N", "F"), ("R", "O"), ("R", "F")])
    fl = flags[rng.integers(0, 6, n_line)]
    write(out, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": fl[:, 0],
        "l_linestatus": fl[:, 1],
        "l_shipdate": day_range(rng, n_line, datetime.datetime(1995, 1, 2), datetime.datetime(2001, 11, 4))})
    etypes = np.array(["click", "view", "purchase", "signup", "error"])
    offs = np.sort(rng.integers(0, 30 * 86400 * 1000000, n_ev))
    write(out, "events", {
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": ts_us(datetime.datetime(2024, 1, 1), offs),
        "user_id": pa.array(rng.integers(0, max(10, int(15000 * sf)), n_ev), pa.int64()),
        "event_type": etypes[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    texts = []
    for _ in range(n_doc):
        n = int(rng.integers(10, 101))
        texts.append(" ".join(WORDS[i] for i in rng.integers(0, len(WORDS), n)))
    ids = rng.permutation(n_doc)
    near = ids[: n_doc // 20]
    for i in near:  # near-duplicate: another document plus one word
        texts[i] = texts[int(rng.integers(0, n_doc))] + " dup"
    for i in ids[n_doc // 20: n_doc // 20 + max(1, n_doc // 600)]:  # exact copies
        texts[i] = texts[int(rng.integers(0, n_doc))]
    write(out, "documents", {
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n_doc, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    write(out, "embeddings", {
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.FixedSizeListArray.from_arrays(pa.array(emb.reshape(-1), pa.float32()), 64)
                       .cast(pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32())})


if __name__ == "__main__":
    main(float(sys.argv[1]), sys.argv[2])
