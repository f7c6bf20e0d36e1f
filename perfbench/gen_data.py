"""Deterministic synthetic input tables for the benchmark.

Writes the ten parquet tables the engine reads (`region nation customer
supplier part orders lineitem documents embeddings events`) with the
schemas and value domains of the engine's test data (FIXTURES.md) and its
sf0.1 row counts: a TPC-H-like star schema, a 5k-document corpus over a
30-word vocabulary with exact and near ("... dup") duplicates, 2k unit
64-d float embeddings, and a time-ordered event stream (10k rows, see
SCALE).

The generator uses numpy's legacy `RandomState`, whose stream is frozen
across numpy releases, so a given seed always yields byte-identical
column values; the committed reference hashes depend on that.

    python3 perfbench/gen_data.py OUT_DIR [--seed 42]
"""
import argparse
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = ["en", "es", "zh", "de", "fr"]
LANG_P = [0.41, 0.15, 0.15, 0.14, 0.15]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "FURNITURE", "BUILDING"]
PART_ADJ = ["large", "hot", "blue", "old", "cold", "red", "small", "green"]
PART_NOUN = ["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "nut"]
PART_TYPES = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

# sf0.1 row counts, except events at its sf0.01 size: every s_stream_* op
# replays the whole event table through a MemoryStream, and at 100k rows a
# warm pass plus a measured pass of the stream mix outlast a benchmark run.
SCALE = {"customer": 15000, "supplier": 1000, "part": 20000,
         "orders": 150000, "lineitem": 600000, "documents": 5000,
         "embeddings": 2000, "events": 10000}


def days(rng, n, start, end):
    """n timestamps at midnight, uniform over [start, end]."""
    span = (end - start).days
    d = rng.randint(0, span + 1, size=n).astype("int64")
    base = np.datetime64(start.isoformat(), "us")
    return base + d * np.timedelta64(86400, "s").astype("timedelta64[us]")


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, size=n), 2)


def tables(seed):
    rng = np.random.RandomState(seed)
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    n = SCALE["customer"]
    out["customer"] = pa.table({
        "c_custkey": np.arange(n, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(rng.randint(0, 25, n), pa.int32()),
        "c_acctbal": money(rng, -999.99, 9999.99, n),
        "c_mktsegment": [SEGMENTS[i] for i in rng.randint(0, 5, n)]})

    n = SCALE["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": pa.array(rng.randint(0, 25, n), pa.int32()),
        "s_acctbal": money(rng, -999.99, 9999.99, n)})

    n = SCALE["part"]
    out["part"] = pa.table({
        "p_partkey": np.arange(n, dtype="int64"),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(rng.randint(0, 8, n), rng.randint(0, 8, n))],
        "p_brand": [f"Brand#{b}" for b in rng.randint(1, 26, n)],
        "p_type": [PART_TYPES[i] for i in rng.randint(0, 6, n)],
        "p_size": pa.array(rng.randint(1, 51, n), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n) % 1000) * 0.1, 1)})

    n = SCALE["orders"]
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n, dtype="int64"),
        "o_custkey": rng.randint(0, SCALE["customer"], n).astype("int64"),
        "o_orderstatus": [("O", "P", "F")[i] for i in rng.randint(0, 3, n)],
        "o_totalprice": money(rng, 1000.0, 500000.0, n),
        "o_orderdate": days(rng, n, dt.date(1995, 1, 1), dt.date(2001, 8, 1)),
        "o_orderpriority": [PRIORITIES[i] for i in rng.randint(0, 5, n)]})

    n = SCALE["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": rng.randint(0, SCALE["orders"], n).astype("int64"),
        "l_partkey": rng.randint(0, SCALE["part"], n).astype("int64"),
        "l_suppkey": rng.randint(0, SCALE["supplier"], n).astype("int64"),
        "l_linenumber": pa.array(rng.randint(1, 8, n), pa.int32()),
        "l_quantity": rng.randint(1, 51, n).astype("float64"),
        "l_extendedprice": money(rng, 900.0, 105000.0, n),
        "l_discount": rng.randint(0, 11, n) / 100.0,
        "l_tax": rng.randint(0, 9, n) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.randint(0, 3, n)],
        "l_linestatus": [("O", "F")[i] for i in rng.randint(0, 2, n)],
        "l_shipdate": days(rng, n, dt.date(1995, 1, 2), dt.date(2001, 11, 4))})

    n = SCALE["documents"]
    texts = []
    for i in range(n):
        r = rng.random_sample()
        if i >= 200 and r < 0.05:
            # near duplicate of an earlier document
            texts.append(texts[rng.randint(0, i)] + " dup")
        elif i >= 200 and r < 0.052:
            texts.append(texts[rng.randint(0, i)])  # exact duplicate
        else:
            k = rng.randint(10, 101)
            texts.append(" ".join(VOCAB[j] for j in rng.randint(0, 30, k)))
    out["documents"] = pa.table({
        "doc_id": np.arange(n, dtype="int64"),
        "text": texts,
        "lang": [LANGS[i] for i in rng.choice(5, size=n, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64")})

    n = SCALE["embeddings"]
    vecs = rng.standard_normal((n, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    vecs = vecs.astype("float32")
    out["embeddings"] = pa.table({
        "vec_id": np.arange(n, dtype="int64"),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.randint(0, 10, n), pa.int32())})

    n = SCALE["events"]
    span_us = 30 * 86400 * 10**6
    offs = np.sort(rng.randint(0, span_us, n).astype("int64"))
    base = np.datetime64("2024-01-01T00:00:00", "us")
    out["events"] = pa.table({
        "event_id": np.arange(n, dtype="int64"),
        "ts": base + offs.astype("timedelta64[us]"),
        "user_id": rng.randint(0, 1500, n).astype("int64"),
        "event_type": [EVENT_TYPES[i] for i in rng.randint(0, 5, n)],
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.randint(0, 100, n)]})
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("out_dir")
    ap.add_argument("--seed", type=int, default=42)
    args = ap.parse_args()
    os.makedirs(args.out_dir, exist_ok=True)
    for name, table in tables(args.seed).items():
        pq.write_table(table, os.path.join(args.out_dir, f"{name}.parquet"))


if __name__ == "__main__":
    main()
