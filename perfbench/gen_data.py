"""Deterministic fixture tables for the benchmark, shaped like graft's sf0.01
fixtures: the same tables, schemas, row counts and value domains (a
TPC-H-like star, an event stream, a text corpus with planted near
duplicates, and unit-norm embeddings).

The data seed is fixed: the expected output folds in `expected_folds.json`
are taken over exactly these bytes. The workload seed of `run.py` varies
step order and month buckets, not the tables.

    python3 perfbench/gen_data.py OUT_DIR
"""
import datetime as dt
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()


def _ts(start, offsets_s):
    base = np.datetime64(start, "us")
    return pa.array(base + (np.asarray(offsets_s) * 1e6).astype("timedelta64[us]"),
                    type=pa.timestamp("us"))


def _days(a, b):
    return (dt.date.fromisoformat(b) - dt.date.fromisoformat(a)).days


# Row counts of the sf0.01 fixtures (lineitem 60k rows).
ROWS = {"customer": 1500, "supplier": 100, "part": 2000, "orders": 15000, "lineitem": 60000,
        "events": 10000, "users": 150, "documents": 500, "near_dups": 25, "embeddings": 500}


def tables(rng):
    money = lambda lo, hi, n: np.round(rng.uniform(lo, hi, n), 2)
    choice = lambda xs, n, p=None: pa.array(np.asarray(xs)[rng.choice(len(xs), n, p=p)])
    i32 = lambda a: pa.array(a, type=pa.int32())
    i64 = lambda a: pa.array(a, type=pa.int64())
    out = {}
    out["region"] = pa.table({"r_regionkey": i32(range(5)), "r_name": pa.array(
        ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"])})
    out["nation"] = pa.table({"n_nationkey": i32(range(25)),
                              "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                              "n_regionkey": i32([i % 5 for i in range(25)])})
    n = ROWS["customer"]
    out["customer"] = pa.table({
        "c_custkey": i64(range(n)), "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)]),
        "c_nationkey": i32(rng.integers(0, 25, n)), "c_acctbal": money(-999.99, 9999.99, n),
        "c_mktsegment": choice(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n)})
    n = ROWS["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": i64(range(n)), "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n)]),
        "s_nationkey": i32(rng.integers(0, 25, n)), "s_acctbal": money(-999.99, 9999.99, n)})
    n = ROWS["part"]
    adj = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
    noun = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
    out["part"] = pa.table({
        "p_partkey": i64(range(n)),
        "p_name": pa.array([f"{adj[a]} {noun[b]}" for a, b in
                            zip(rng.integers(0, 8, n), rng.integers(0, 8, n))]),
        "p_brand": pa.array([f"Brand#{k}" for k in rng.integers(1, 26, n)]),
        "p_type": choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n),
        "p_size": i32(rng.integers(1, 51, n)),
        "p_retailprice": np.round(900 + (np.arange(n) % 1000) * 0.1, 1)})
    n = ROWS["orders"]
    out["orders"] = pa.table({
        "o_orderkey": i64(range(n)), "o_custkey": i64(rng.integers(0, ROWS["customer"], n)),
        "o_orderstatus": choice(["F", "O", "P"], n), "o_totalprice": money(1000, 500000, n),
        "o_orderdate": _ts("1995-01-01", rng.integers(0, _days("1995-01-01", "2001-08-01") + 1, n) * 86400),
        "o_orderpriority": choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n)})
    n = ROWS["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": i64(rng.integers(0, ROWS["orders"], n)),
        "l_partkey": i64(rng.integers(0, ROWS["part"], n)),
        "l_suppkey": i64(rng.integers(0, ROWS["supplier"], n)), "l_linenumber": i32(rng.integers(1, 8, n)),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": money(900, 105000, n),
        "l_discount": rng.integers(0, 11, n) / 100.0, "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": choice(["A", "N", "R"], n), "l_linestatus": choice(["F", "O"], n),
        "l_shipdate": _ts("1995-01-02", rng.integers(0, _days("1995-01-02", "2001-11-04") + 1, n) * 86400)})
    n = ROWS["events"]
    out["events"] = pa.table({
        "event_id": i64(range(n)),
        "ts": _ts("2024-01-01", np.sort(rng.uniform(0, 30 * 86400, n))),
        "user_id": i64(rng.integers(0, ROWS["users"], n)),
        "event_type": choice(["click", "error", "purchase", "signup", "view"], n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)])})
    n = ROWS["documents"]
    text = [" ".join(np.asarray(VOCAB)[rng.integers(0, len(VOCAB), k)])
            for k in rng.integers(10, 101, n)]
    # near duplicates: a copy of another document plus one extra token
    planted = rng.permutation(n)[:ROWS["near_dups"]]
    originals = rng.permutation(np.setdiff1d(np.arange(n), planted))[:len(planted)]
    for i, j in zip(planted, originals):
        text[i] = text[j] + " dup"
    out["documents"] = pa.table({
        "doc_id": i64(range(n)), "text": pa.array(text),
        "lang": choice(["en", "de", "es", "fr", "zh"], n, p=[0.41, 0.14, 0.15, 0.15, 0.15]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": i64([len(t) for t in text])})
    n = ROWS["embeddings"]
    emb = rng.standard_normal((n, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": i64(range(n)),
        "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
        "label": i32(rng.integers(0, 10, n))})
    return out


def generate(out_dir):
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(np.random.default_rng(DATA_SEED)).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


if __name__ == "__main__":
    generate(sys.argv[1])
