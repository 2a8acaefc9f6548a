"""Seeded generator of the parquet tables the `queries` workload reads.

The tables have the schema of the repo's TPC-H-style query inputs (region,
nation, customer, supplier, part, orders, lineitem, events, documents,
embeddings) at scale factor 0.001 row counts. The same seed writes the
same files.

    python3 perfbench/gen_tables.py <out_dir> <seed>
"""
import sys
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("a the key agg row scan slow fast table value part hash data window "
         "column join small big line customer query merge batch spark order "
         "filter group stream sort vector").split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
COLORS = "blue red small large hot cold new old".split()
NOUNS = "anvil gear rod ring bolt widget".split()
TYPES = "ECONOMY LARGE STANDARD MEDIUM SMALL PROMO".split()
SEGMENTS = "MACHINERY AUTOMOBILE HOUSEHOLD BUILDING FURNITURE".split()
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = "click signup error view purchase".split()
LANGS = "en de es fr zh".split()

ROWS = dict(customer=150, supplier=10, part=200, orders=1500, lineitem=6000,
            events=1000, documents=500, embeddings=500)


def _days(rng, n, start, end):
    lo, hi = np.datetime64(start, "D"), np.datetime64(end, "D")
    d = rng.integers(0, (hi - lo).astype(int) + 1, n)
    return (lo + d).astype("datetime64[us]")


def _text(rng, n_words):
    return " ".join(rng.choice(WORDS, n_words))


def tables(seed):
    rng = np.random.default_rng(seed)
    r = ROWS
    i32, i64, f64 = pa.int32(), pa.int64(), pa.float64()
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": REGIONS})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    n = r["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(range(n), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(rng.integers(0, 25, n), i32),
        "c_acctbal": pa.array(np.round(rng.uniform(-999, 9999, n), 2), f64),
        "c_mktsegment": list(rng.choice(SEGMENTS, n))})
    n = r["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(range(n), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": pa.array(rng.integers(0, 25, n), i32),
        "s_acctbal": pa.array(np.round(rng.uniform(-999, 9999, n), 2), f64)})
    n = r["part"]
    price = np.round(900.0 + (np.arange(n) % 200) * 0.1, 2)
    out["part"] = pa.table({
        "p_partkey": pa.array(range(n), i64),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(COLORS, n),
                                              rng.choice(NOUNS, n))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
        "p_type": list(rng.choice(TYPES, n)),
        "p_size": pa.array(rng.integers(1, 51, n), i32),
        "p_retailprice": pa.array(price, f64)})
    n = r["orders"]
    out["orders"] = pa.table({
        "o_orderkey": pa.array(range(n), i64),
        "o_custkey": pa.array(rng.integers(0, r["customer"], n), i64),
        "o_orderstatus": list(rng.choice(["F", "O", "P"], n)),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, n), 2), f64),
        "o_orderdate": pa.array(_days(rng, n, "1995-01-01", "2001-08-01")),
        "o_orderpriority": list(rng.choice(PRIORITIES, n))})
    n = r["lineitem"]
    part = rng.integers(0, r["part"], n)
    qty = rng.integers(1, 51, n).astype(float)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, r["orders"], n), i64),
        "l_partkey": pa.array(part, i64),
        "l_suppkey": pa.array(rng.integers(0, r["supplier"], n), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n), i32),
        "l_quantity": pa.array(qty, f64),
        "l_extendedprice": pa.array(np.round(qty * price[part] * rng.uniform(
            0.9, 2.3, n), 2), f64),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0, f64),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0, f64),
        "l_returnflag": list(rng.choice(["A", "N", "R"], n)),
        "l_linestatus": list(rng.choice(["F", "O"], n)),
        "l_shipdate": pa.array(_days(rng, n, "1995-01-02", "2001-11-04"))})
    n = r["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86400 * 10**6, n))
    out["events"] = pa.table({
        "event_id": pa.array(range(n), i64),
        "ts": pa.array(start + offs.astype("timedelta64[us]")),
        "user_id": pa.array(rng.integers(0, 15, n), i64),
        "event_type": list(rng.choice(EVENT_TYPES, n)),
        "value": pa.array(np.round(rng.exponential(50.0, n) + 0.01, 2), f64),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]})
    n = r["documents"]
    texts = []
    for i in range(n):
        if i >= 20 and rng.random() < 0.06:
            # near-duplicate of an earlier document: a few words replaced
            words = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(words), max(1, len(words) // 20)):
                words[j] = str(rng.choice(WORDS))
            texts.append(" ".join(words))
        else:
            texts.append(_text(rng, int(rng.integers(8, 100))))
    out["documents"] = pa.table({
        "doc_id": pa.array(range(n), i64),
        "text": texts,
        "lang": list(rng.choice(LANGS, n, p=[0.5, 0.125, 0.125, 0.125, 0.125])),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], i64)})
    n = r["embeddings"]
    labels = rng.integers(0, 10, n)
    centers = rng.normal(0, 1, (10, 64))
    vecs = centers[labels] + rng.normal(0, 0.8, (n, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(range(n), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, i32)})
    return out


def write(out_dir, seed):
    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    for name, t in tables(seed).items():
        pq.write_table(t, out / f"{name}.parquet")


if __name__ == "__main__":
    write(sys.argv[1], int(sys.argv[2]))
