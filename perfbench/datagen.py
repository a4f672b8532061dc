"""Seeded input generator for the pipeline benchmark.

Writes one directory of parquet tables with the schema the engine's
`Tables` loaders read (region, nation, customer, supplier, part, orders,
lineitem, events, documents, embeddings). Every value is drawn from a
numpy generator seeded with the run's `--seed`, so the same seed always
gives byte-identical inputs and another seed gives another study.

Keys stay dense (0..n-1) because the derived methylation views key on
them arithmetically (`s_suppkey % 25 = 3` picks the IDAT panel, parity
picks the Infinium design type). Line items draw their order, part and
supplier keys uniformly from those dense ranges, so every foreign key
resolves and the key pattern changes with the seed. Table sizes are fixed
per scale so that run time depends on the code, not on the seed.

Usage: python3 datagen.py <out_dir> <scale: 0.1|0.01> <seed>
"""
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SIZES = {
    "0.1": dict(customer=15000, supplier=1000, part=20000, orders=150000,
                lineitem=600000, events=100000, users=1500, documents=5000,
                embeddings=2000),
    "0.01": dict(customer=1500, supplier=100, part=2000, orders=15000,
                 lineitem=60000, events=10000, users=150, documents=500,
                 embeddings=500),
}
WORDS = ("query row stream the spark line small fast group customer batch "
         "sort value hash filter big data part column order scan a slow agg "
         "key window table merge vector join").split()
COLORS = "blue cold hot red small new old green".split()
NOUNS = "ring plate gear rod bolt anvil widget pin".split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
# 1995-01-01 and the day spans of the order and ship dates, in microseconds
EPOCH_1995_US = 788918400 * 10**6
DAY_US = 86400 * 10**6
JAN_2024_US = 1704067200 * 10**6


def cents(rng, lo, hi, n):
    """Uniform money values with exactly two decimals."""
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0


def days(rng, lo_day, span, n):
    return pa.array(EPOCH_1995_US + (lo_day + rng.integers(0, span, n)) * DAY_US,
                    pa.timestamp("us"))


def write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"),
                   compression="snappy")


def generate(out, scale, seed):
    n = SIZES[scale]
    rng = np.random.default_rng([seed, int(float(scale) * 1000)])
    os.makedirs(out, exist_ok=True)

    write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    nc = n["customer"]
    write(out, "customer", {
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": cents(rng, -999.99, 9999.99, nc),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, nc)]})

    ns = n["supplier"]
    write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": cents(rng, -999.99, 9999.99, ns)})

    np_ = n["part"]
    names = np.array([f"{c} {w}" for c in COLORS for w in NOUNS])
    write(out, "part", {
        "p_partkey": pa.array(np.arange(np_), pa.int64()),
        "p_name": names[rng.integers(0, len(names), np_)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, np_)],
        "p_type": np.array(TYPES)[rng.integers(0, len(TYPES), np_)],
        "p_size": pa.array(rng.integers(1, 51, np_), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(np_) % 1000) * 0.1, 1)})

    no, nl = n["orders"], n["lineitem"]
    write(out, "orders", {
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, no)],
        "o_totalprice": cents(rng, 1000.0, 500000.0, no),
        "o_orderdate": days(rng, 0, 2404, no),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, no)]})

    write(out, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, np_, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": cents(rng, 900.0, 105000.0, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
        "l_shipdate": days(rng, 1, 2499, nl)})

    ne = n["events"]
    gaps = rng.integers(1, 2 * (30 * DAY_US // ne), ne)
    write(out, "events", {
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": pa.array(JAN_2024_US + np.cumsum(gaps), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n["users"], ne), pa.int64()),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, ne)],
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]})

    # Documents: random word sequences; 5% are near-duplicates (another
    # document's text plus " dup") and 0.2% exact copies, the shapes the
    # dedup and near-dup stages exist to find.
    nd = n["documents"]
    texts = [" ".join(np.array(WORDS)[rng.integers(0, len(WORDS), k)])
             for k in rng.integers(10, 101, nd)]
    near = rng.choice(nd, nd // 20, replace=False)
    for i in near:
        texts[i] = texts[(i + 1 + rng.integers(0, nd - 1)) % nd] + " dup"
    for i in rng.choice(np.setdiff1d(np.arange(nd), near), nd // 500,
                        replace=False):
        texts[i] = texts[(i + 1 + rng.integers(0, nd - 1)) % nd]
    write(out, "documents", {
        "doc_id": pa.array(np.arange(nd), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, nd, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})

    nv = n["embeddings"]
    labels = rng.integers(0, 10, nv)
    centers = rng.normal(size=(10, 64))
    vecs = centers[labels] + 0.5 * rng.normal(size=(nv, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    write(out, "embeddings", {
        "vec_id": pa.array(np.arange(nv), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)),
                              pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})

    rows = {t: pq.ParquetFile(os.path.join(out, f"{t}.parquet")).metadata.num_rows
            for t in ("customer", "supplier", "part", "orders", "lineitem",
                      "events", "documents", "embeddings")}
    with open(os.path.join(out, "rows.json"), "w") as f:
        json.dump(rows, f, sort_keys=True)
    return rows


if __name__ == "__main__":
    print(json.dumps(generate(sys.argv[1], sys.argv[2], int(sys.argv[3]))))
