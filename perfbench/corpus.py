"""Seeded generator for the benchmark's input corpus.

Writes the ten parquet tables the engine's queries read (region, nation,
customer, supplier, part, orders, lineitem, events, documents, embeddings)
with the column names, physical types and value domains of the engine's
TPC-H-ish test corpus, so the benchmark needs no data from outside its
checkout. Row counts follow the test corpus's scale rules; the same
(scale, seed) always gives byte-identical tables.

Usage: corpus.py <out_dir> <scale> <seed>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ORDER_STATUS = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
WORDS = ("a the agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table value vector window").split()
EMBED_DIM = 64
DAY_US = 86_400_000_000
ORDER_EPOCH = np.datetime64("1995-01-01", "us")
SHIP_EPOCH = np.datetime64("1995-01-02", "us")
EVENT_EPOCH = np.datetime64("2024-01-01", "us")


def counts(scale):
    """Row counts per table at a scale factor (sf1 = 6M lineitem rows)."""
    n = lambda per_sf, floor=1: max(floor, int(round(per_sf * scale)))
    return {
        "customer": n(150_000), "supplier": n(10_000), "part": n(200_000),
        "orders": n(1_500_000), "lineitem": n(6_000_000),
        "events": n(1_000_000), "users": n(15_000),
        "documents": n(50_000, 500), "embeddings": n(20_000, 500),
    }


def money(rng, lo, hi, size):
    return np.round(rng.uniform(lo, hi, size), 2)


def pick(rng, values, size, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), size, p=p)],
                    pa.string())


def days(rng, epoch, span, size):
    return pa.array(epoch + rng.integers(0, span, size) * DAY_US, pa.timestamp("us"))


def tables(scale, seed):
    c = counts(scale)
    rng = np.random.default_rng([seed, int(scale * 1e6)])
    i64 = lambda a: pa.array(a, pa.int64())
    i32 = lambda a: pa.array(a, pa.int32())
    out = {}
    out["region"] = pa.table({"r_regionkey": i32(range(5)), "r_name": pa.array(REGIONS)})
    out["nation"] = pa.table({
        "n_nationkey": i32(range(25)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": i32([i % 5 for i in range(25)])})
    nc = c["customer"]
    out["customer"] = pa.table({
        "c_custkey": i64(np.arange(nc)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
        "c_nationkey": i32(rng.integers(0, 25, nc)),
        "c_acctbal": money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": pick(rng, SEGMENTS, nc)})
    ns = c["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": i64(np.arange(ns)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
        "s_nationkey": i32(rng.integers(0, 25, ns)),
        "s_acctbal": money(rng, -999.99, 9999.99, ns)})
    npart = c["part"]
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    out["part"] = pa.table({
        "p_partkey": i64(np.arange(npart)),
        "p_name": pick(rng, names, npart),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, npart)]),
        "p_type": pick(rng, PART_TYPES, npart),
        "p_size": i32(rng.integers(1, 51, npart)),
        "p_retailprice": np.round(900 + (np.arange(npart) % 1000) / 10.0, 1)})
    no = c["orders"]
    out["orders"] = pa.table({
        "o_orderkey": i64(np.arange(no)),
        "o_custkey": i64(rng.integers(0, nc, no)),
        "o_orderstatus": pick(rng, ORDER_STATUS, no),
        "o_totalprice": money(rng, 1000.0, 500_000.0, no),
        "o_orderdate": days(rng, ORDER_EPOCH, 2404, no),
        "o_orderpriority": pick(rng, PRIORITIES, no)})
    nl = c["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": i64(rng.integers(0, no, nl)),
        "l_partkey": i64(rng.integers(0, npart, nl)),
        "l_suppkey": i64(rng.integers(0, ns, nl)),
        "l_linenumber": i32(rng.integers(1, 8, nl)),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": money(rng, 900.0, 105_000.0, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": pick(rng, ["A", "N", "R"], nl),
        "l_linestatus": pick(rng, ["F", "O"], nl),
        "l_shipdate": days(rng, SHIP_EPOCH, 2499, nl)})
    ne = c["events"]
    gaps = rng.exponential(30 * DAY_US / ne, ne).astype(np.int64)
    out["events"] = pa.table({
        "event_id": i64(np.arange(ne)),
        "ts": pa.array(EVENT_EPOCH + np.cumsum(gaps), pa.timestamp("us")),
        "user_id": i64(rng.integers(0, c["users"], ne)),
        "event_type": pick(rng, EVENT_TYPES, ne),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, ne), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)])})
    nd = c["documents"]
    texts = []
    for i in range(nd):
        if i >= 20 and rng.random() < 0.05:
            # near-duplicate of an earlier document (the dedup kernels' target)
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(np.asarray(WORDS)[rng.integers(0, len(WORDS), rng.integers(10, 100))]))
    out["documents"] = pa.table({
        "doc_id": i64(np.arange(nd)),
        "text": pa.array(texts),
        "lang": pick(rng, LANGS, nd, LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(nd)]),
        "n_chars": i64([len(t) for t in texts])})
    nv = c["embeddings"]
    centroids = rng.normal(size=(10, EMBED_DIM))
    centroids /= np.linalg.norm(centroids, axis=1, keepdims=True)
    labels = rng.integers(0, 10, nv)
    vecs = 0.14 * centroids[labels] + rng.normal(scale=1 / np.sqrt(EMBED_DIM), size=(nv, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": i64(np.arange(nv)),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": i32(labels)})
    return out


def write(out_dir, scale, seed):
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(scale, seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"), compression="snappy")


if __name__ == "__main__":
    if len(sys.argv) != 4:
        sys.exit(__doc__)
    write(sys.argv[1], float(sys.argv[2]), int(sys.argv[3]))
