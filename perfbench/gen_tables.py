"""Seeded generator for the curate_batch input tables.

Writes one parquet file per table, with the schemas and value domains
of graft's oracle fixtures (TPC-H-like star schema, an `events` stream
table, a `documents` corpus and 64-dim unit `embeddings`), so every
query in SparkEntry.queries and its DuckDB oracle run on them
unchanged. The same seed always gives the same bytes of data.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# rows per table: about the size of the sf0.01 fixture
SIZES = dict(part=2000, supplier=100, customer=1500, orders=15000, lineitem=60000,
             events=10000, documents=500, embeddings=500)
VOCAB = ("row the query stream fast spark line small customer group value hash batch "
         "sort data big filter dup key agg scan slow table part a merge window order "
         "column join vector").split()
COLORS = "red blue green black white small large old".split()
NOUNS = "widget bolt ring gear nut spring valve pipe".split()


def _us(days_from, days_to, n, rng, whole_days=False):
    """Timestamps (µs, naive) uniformly between two day offsets from 1995-01-01."""
    base = np.datetime64("1995-01-01T00:00:00", "us")
    if whole_days:
        off = rng.integers(days_from, days_to, n).astype("timedelta64[D]")
    else:
        off = rng.integers(days_from * 86400_000_000, days_to * 86400_000_000, n).astype("timedelta64[us]")
    return base + off


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(seed):
    rng = np.random.default_rng(seed)
    n = SIZES
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())})
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n["supplier"], dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
        "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"])})
    t["customer"] = pa.table({
        "c_custkey": np.arange(n["customer"], dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
        "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
        "c_mktsegment": rng.choice(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING",
                                    "FURNITURE"], n["customer"])})
    np_ = n["part"]
    t["part"] = pa.table({
        "p_partkey": np.arange(np_, dtype=np.int64),
        "p_name": [f"{rng.choice(COLORS)} {rng.choice(NOUNS)}" for _ in range(np_)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, np_)],
        "p_type": rng.choice(["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"], np_),
        "p_size": pa.array(rng.integers(1, 51, np_), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(np_) % 1000) / 10.0, 2)})
    no = n["orders"]
    t["orders"] = pa.table({
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, n["customer"], no).astype(np.int64),
        "o_orderstatus": rng.choice(["O", "F", "P"], no),
        "o_totalprice": _money(rng, 1000, 500000, no),
        "o_orderdate": pa.array(_us(0, 2400, no, rng, whole_days=True), pa.timestamp("us")),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                       "5-LOW"], no)})
    nl = n["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, no, nl).astype(np.int64),
        "l_partkey": rng.integers(0, np_, nl).astype(np.int64),
        "l_suppkey": rng.integers(0, n["supplier"], nl).astype(np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], nl),
        "l_linestatus": rng.choice(["O", "F"], nl),
        "l_shipdate": pa.array(_us(1, 2500, nl, rng, whole_days=True), pa.timestamp("us"))})
    ne = n["events"]
    ev_base = np.datetime64("2024-01-01T00:00:00", "us")
    ev_ts = np.sort(ev_base + rng.integers(0, 30 * 86400_000_000, ne).astype("timedelta64[us]"))
    t["events"] = pa.table({
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": pa.array(ev_ts, pa.timestamp("us")),
        "user_id": rng.integers(0, 150, ne).astype(np.int64),
        "event_type": rng.choice(["click", "signup", "error", "view", "purchase"], ne),
        "value": _money(rng, 0.01, 490.0, ne),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]})
    nd = n["documents"]
    words = [list(rng.choice(VOCAB, rng.integers(10, 100))) for _ in range(nd)]
    # plant near duplicates: a fifth of the docs copy an earlier doc
    # with one word changed, so the dedup queries find pairs and clusters
    for i in range(1, nd):
        if rng.random() < 0.2:
            w = list(words[rng.integers(0, i)])
            w[rng.integers(0, len(w))] = str(rng.choice(VOCAB))
            words[i] = w
    texts = [" ".join(w) for w in words]
    t["documents"] = pa.table({
        "doc_id": np.arange(nd, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["en", "de", "es", "fr", "zh"], nd, p=[0.5, 0.15, 0.12, 0.12, 0.11]),
        "source": [f"src{s}" for s in rng.integers(0, 20, nd)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64)})
    nv = n["embeddings"]
    v = rng.standard_normal((nv, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv), pa.int32())})
    return t


def generate(out_dir, seed):
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
