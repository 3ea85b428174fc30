"""Seeded generator for the benchmark's input tables.

Writes the ten tables of the repository's test data, with the same column
names, types and value distributions, at the row counts of one of its
scale factors. The distributions were measured on the test data's sf0.1
tables with `datastats.py` (README.md, "Inputs") and match its sf0.01
tables too:

  - keys are dense from 0; foreign keys, categories, dates and prices are
    uniform over their ranges; `events.value` is exponential with mean 50;
  - a document is 10 to 99 words drawn uniformly from a 30-word
    vocabulary; 5% of the documents are another document's text plus the
    word "dup", so near-duplicate pairs have Jaccard above 0.8 and the
    rest of the corpus sits near 0.03;
  - an embedding is a 64-dimensional Gaussian vector scaled to unit
    length, with a uniform label in 0..9 that does not depend on it.

The same seed gives byte-identical inputs.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# row counts of the test data's scale factors
SIZES = {
    "sf0.01": {"customer": 1500, "supplier": 100, "part": 2000,
               "orders": 15000, "lineitem": 60000, "events": 10000,
               "documents": 500, "embeddings": 500},
    "sf0.1": {"customer": 15000, "supplier": 1000, "part": 20000,
              "orders": 150000, "lineitem": 600000, "events": 100000,
              "documents": 5000, "embeddings": 2000},
}
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJECTIVES = ["blue", "old", "small", "new", "large", "hot", "cold", "red"]
SHAPES = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = ("a the data spark stream batch table row column key value query "
         "filter join group agg sort hash scan window merge part line order "
         "customer vector fast slow big small").split()
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]


def _days(rng, lo, hi, n):
    lo, hi = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    d = rng.integers(0, (hi - lo).astype(int) + 1, n)
    return (lo + d).astype("datetime64[us]")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng, d):
    texts = [" ".join(rng.choice(WORDS, rng.integers(10, 100)))
             for _ in range(d)]
    for i in np.sort(rng.choice(d, d // 20, replace=False)):
        j = (i + 1 + rng.integers(0, d - 1)) % d  # any other document
        texts[i] = texts[j] + " dup"
    return texts


def _build(name, rng, n):
    if name == "region":
        return pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                         "r_name": REGIONS})
    if name == "nation":
        return pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    if name == "customer":
        c = n["customer"]
        return pa.table({
            "c_custkey": pa.array(np.arange(c), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(c)],
            "c_nationkey": pa.array(rng.integers(0, 25, c), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, c),
            "c_mktsegment": rng.choice(SEGMENTS, c)})
    if name == "supplier":
        s = n["supplier"]
        return pa.table({
            "s_suppkey": pa.array(np.arange(s), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(s)],
            "s_nationkey": pa.array(rng.integers(0, 25, s), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, s)})
    if name == "part":
        p = n["part"]
        return pa.table({
            "p_partkey": pa.array(np.arange(p), pa.int64()),
            "p_name": [f"{a} {b}" for a, b in zip(rng.choice(ADJECTIVES, p),
                                                 rng.choice(SHAPES, p))],
            "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, p)],
            "p_type": rng.choice(PART_TYPES, p),
            "p_size": pa.array(rng.integers(1, 51, p), pa.int32()),
            "p_retailprice": np.round(900 + (np.arange(p) % 1000) / 10, 2)})
    if name == "orders":
        o = n["orders"]
        return pa.table({
            "o_orderkey": pa.array(np.arange(o), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n["customer"], o), pa.int64()),
            "o_orderstatus": rng.choice(["F", "O", "P"], o),
            "o_totalprice": _money(rng, 1000, 500000, o),
            "o_orderdate": pa.array(_days(rng, "1995-01-01", "2001-08-01", o),
                                    pa.timestamp("us")),
            "o_orderpriority": rng.choice(PRIORITIES, o)})
    if name == "lineitem":
        li = n["lineitem"]
        return pa.table({
            "l_orderkey": pa.array(rng.integers(0, n["orders"], li), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n["part"], li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n["supplier"], li), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, li), pa.int32()),
            "l_quantity": rng.integers(1, 51, li).astype(np.float64),
            "l_extendedprice": _money(rng, 900, 105000, li),
            "l_discount": _money(rng, 0, 0.1, li),
            "l_tax": _money(rng, 0, 0.08, li),
            "l_returnflag": rng.choice(["A", "N", "R"], li),
            "l_linestatus": rng.choice(["F", "O"], li),
            "l_shipdate": pa.array(_days(rng, "1995-01-02", "2001-11-04", li),
                                   pa.timestamp("us"))})
    if name == "events":
        ev = n["events"]
        ts = np.datetime64("2024-01-01T00:00:00", "us") + np.sort(
            rng.integers(0, 30 * 86400 * 10**6, ev)).astype("timedelta64[us]")
        return pa.table({
            "event_id": pa.array(np.arange(ev), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n["customer"] // 10, ev),
                                pa.int64()),
            "event_type": rng.choice(EVENT_TYPES, ev),
            "value": np.round(rng.exponential(50.0, ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ev)]})
    if name == "documents":
        d = n["documents"]
        texts = _documents(rng, d)
        return pa.table({
            "doc_id": pa.array(np.arange(d), pa.int64()),
            "text": texts,
            "lang": rng.choice(LANGS, d),
            "source": [f"src{i % 20}" for i in range(d)],
            "n_chars": pa.array([len(x) for x in texts], pa.int64())})
    if name == "embeddings":
        v = n["embeddings"]
        vec = rng.normal(0.0, 1.0, (v, 64))
        vec /= np.linalg.norm(vec, axis=1)[:, None]
        return pa.table({
            "vec_id": pa.array(np.arange(v), pa.int64()),
            "embedding": pa.array([r.astype(np.float32) for r in vec],
                                  pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, v), pa.int32())})
    raise ValueError(f"unknown table {name}")


def generate(seed, out_dir, scale="sf0.01", tables=None):
    """Writes each of `tables` (default: all) as `<out_dir>/<name>.parquet`,
    with the row counts of `scale`. Each table has its own random stream, so a table
    is the same whichever others are generated with it."""
    os.makedirs(out_dir, exist_ok=True)
    for k, name in enumerate(TABLES):
        if tables is None or name in tables:
            rng = np.random.default_rng([seed, k])
            pq.write_table(_build(name, rng, SIZES[scale]),
                           os.path.join(out_dir, f"{name}.parquet"))
