"""Deterministic synthetic tables for the `catalog` workload.

Writes the ten tables the query catalog reads (region, nation, customer,
supplier, part, orders, lineitem, events, documents, embeddings) as one
parquet file each, with the column names, physical types and value domains
of the engine's test data (a TPC-H-like star schema, an event stream, a text
corpus and unit-norm 64-d embeddings). Row counts follow the scale factor:
sf=0.01 gives 60 000 lineitem rows.

Usage: python3 gen_catalog.py <out_dir> <sf> <seed>
"""
import datetime as dt
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIOS = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENTS = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
VOCAB = ("a agg batch big column customer data dup fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream table "
         "the value vector window").split()


def write(out, name, cols, schema):
    pq.write_table(pa.table(cols, schema=schema), os.path.join(out, f"{name}.parquet"),
                   compression="snappy")


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def days(base, offsets):
    return [base + dt.timedelta(days=int(d)) for d in offsets]


def main():
    out, sf, seed = sys.argv[1], float(sys.argv[2]), int(sys.argv[3])
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150000 * sf), max(10, int(10000 * sf)), int(200000 * sf)
    n_ord, n_line, n_ev = int(1500000 * sf), int(6000000 * sf), int(1000000 * sf)
    n_doc = 500 if sf <= 0.01 else 5000
    n_vec = 500 if sf <= 0.01 else 2000
    i32, i64, f64, s, ts = pa.int32(), pa.int64(), pa.float64(), pa.string(), pa.timestamp("us")

    write(out, "region", {"r_regionkey": list(range(5)), "r_name": REGIONS},
          pa.schema([("r_regionkey", i32), ("r_name", s)]))
    write(out, "nation", {"n_nationkey": list(range(25)),
                          "n_name": [f"NATION_{i}" for i in range(25)],
                          "n_regionkey": [i % 5 for i in range(25)]},
          pa.schema([("n_nationkey", i32), ("n_name", s), ("n_regionkey", i32)]))
    write(out, "customer", {
        "c_custkey": np.arange(n_cust), "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust), "c_acctbal": money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)},
        pa.schema([("c_custkey", i64), ("c_name", s), ("c_nationkey", i32), ("c_acctbal", f64),
                   ("c_mktsegment", s)]))
    write(out, "supplier", {
        "s_suppkey": np.arange(n_supp), "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp), "s_acctbal": money(rng, -999.99, 9999.99, n_supp)},
        pa.schema([("s_suppkey", i64), ("s_name", s), ("s_nationkey", i32), ("s_acctbal", f64)]))
    pk = np.arange(n_part)
    write(out, "part", {
        "p_partkey": pk,
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(ADJ, n_part), rng.choice(NOUN, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PTYPES, n_part), "p_size": rng.integers(1, 51, n_part),
        "p_retailprice": np.round(900 + (pk % 1000) / 10.0, 2)},
        pa.schema([("p_partkey", i64), ("p_name", s), ("p_brand", s), ("p_type", s),
                   ("p_size", i32), ("p_retailprice", f64)]))
    write(out, "orders", {
        "o_orderkey": np.arange(n_ord), "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": money(rng, 1000, 500000, n_ord),
        "o_orderdate": days(dt.datetime(1995, 1, 1), rng.integers(0, 2404, n_ord)),
        "o_orderpriority": rng.choice(PRIOS, n_ord)},
        pa.schema([("o_orderkey", i64), ("o_custkey", i64), ("o_orderstatus", s),
                   ("o_totalprice", f64), ("o_orderdate", ts), ("o_orderpriority", s)]))
    write(out, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line), "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line), "l_linenumber": rng.integers(1, 8, n_line),
        "l_quantity": rng.integers(1, 51, n_line).astype(float),
        "l_extendedprice": money(rng, 900, 105000, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0, "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line), "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": days(dt.datetime(1995, 1, 2), rng.integers(0, 2499, n_line))},
        pa.schema([("l_orderkey", i64), ("l_partkey", i64), ("l_suppkey", i64), ("l_linenumber", i32),
                   ("l_quantity", f64), ("l_extendedprice", f64), ("l_discount", f64), ("l_tax", f64),
                   ("l_returnflag", s), ("l_linestatus", s), ("l_shipdate", ts)]))
    start = dt.datetime(2024, 1, 1)
    micros = np.sort(rng.integers(0, 30 * 86400 * 10**6, n_ev))
    write(out, "events", {
        "event_id": np.arange(n_ev), "ts": [start + dt.timedelta(microseconds=int(u)) for u in micros],
        "user_id": rng.integers(0, max(10, int(15000 * sf)), n_ev), "event_type": rng.choice(EVENTS, n_ev),
        "value": np.maximum(0.01, np.round(rng.exponential(50, n_ev), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]},
        pa.schema([("event_id", i64), ("ts", ts), ("user_id", i64), ("event_type", s),
                   ("value", f64), ("props", s)]))
    texts = [" ".join(rng.choice(VOCAB, int(k))) for k in rng.integers(10, 100, n_doc)]
    write(out, "documents", {
        "doc_id": np.arange(n_doc), "text": texts,
        "lang": rng.choice(LANGS, n_doc, p=[0.44, 0.14, 0.14, 0.14, 0.14]),
        "source": [f"src{i % 20}" for i in range(n_doc)], "n_chars": [len(t) for t in texts]},
        pa.schema([("doc_id", i64), ("text", s), ("lang", s), ("source", s), ("n_chars", i64)]))
    v = rng.normal(size=(n_vec, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    write(out, "embeddings", {
        "vec_id": np.arange(n_vec), "embedding": [row.tolist() for row in v],
        "label": rng.integers(0, 10, n_vec)},
        pa.schema([("vec_id", i64), ("embedding", pa.list_(pa.float32())), ("label", i32)]))


if __name__ == "__main__":
    main()
