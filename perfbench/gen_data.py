"""Seeded generator for the catalog tables the batch queries read.

The tables follow the repository's reference test catalog (TESTDATA.md,
seed 42), measured at sf 0.01 and sf 0.1: the same schemas, row counts, key
domains, categorical value sets and value distributions, so every registered
query runs the plan shape and the data shape it is tested on. The figures the
constants below come from are listed in perfbench/WORKLOADS.md ("Where the
catalog's shape comes from"). Row counts scale linearly with `sf` (sf 1 = 6M
lineitem rows); documents and embeddings have at least 500 rows.

The same (seed, sf) always gives byte-identical tables.

Usage: python3 perfbench/gen_data.py <out_dir> <seed> <sf>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
COLORS = "red blue green small large black white tiny".split()
NOUNS = "ring widget bolt gear nut spring valve plate".split()
PART_TYPES = "LARGE ECONOMY STANDARD PROMO SMALL MEDIUM".split()
SEGMENTS = "HOUSEHOLD FURNITURE MACHINERY AUTOMOBILE BUILDING".split()
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]


def days(lo, hi, n, rng):
    """n uniform dates in [lo, hi) as timestamp[us] at midnight."""
    a = np.datetime64(lo, "D").astype(np.int64)
    b = np.datetime64(hi, "D").astype(np.int64)
    return (rng.integers(a, b, n) * 86_400_000_000).astype("datetime64[us]")


def money(lo, hi, n, rng):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(seed, sf):
    rng = np.random.default_rng(seed)
    n = {k: max(1, int(v * sf)) for k, v in dict(
        customer=150_000, supplier=10_000, part=200_000, orders=1_500_000,
        lineitem=6_000_000, events=1_000_000).items()}
    n["documents"] = max(500, int(50_000 * sf))
    n["embeddings"] = max(500, int(20_000 * sf))
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    c = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": np.arange(c, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": rng.integers(0, 25, c).astype(np.int32),
        "c_acctbal": money(-999.99, 9999.99, c, rng),
        "c_mktsegment": rng.choice(SEGMENTS, c)})
    s = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(s, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": rng.integers(0, 25, s).astype(np.int32),
        "s_acctbal": money(-999.99, 9999.99, s, rng)})
    p = n["part"]
    names = np.array([f"{a} {b}" for a in COLORS for b in NOUNS])
    out["part"] = pa.table({
        "p_partkey": np.arange(p, dtype=np.int64),
        "p_name": names[rng.integers(0, len(names), p)],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, p)],
        "p_type": rng.choice(PART_TYPES, p),
        "p_size": rng.integers(1, 51, p).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(p) % 1000) * 0.1, 1)})
    o = n["orders"]
    out["orders"] = pa.table({
        "o_orderkey": np.arange(o, dtype=np.int64),
        "o_custkey": rng.integers(0, c, o).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], o),
        "o_totalprice": money(900, 500_000, o, rng),
        "o_orderdate": days("1995-01-01", "2001-08-02", o, rng),
        "o_orderpriority": rng.choice(PRIORITIES, o)})
    li = n["lineitem"]
    qty = rng.integers(1, 51, li).astype(np.float64)
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, o, li).astype(np.int64),
        "l_partkey": rng.integers(0, p, li).astype(np.int64),
        "l_suppkey": rng.integers(0, s, li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, li).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": money(900, 105_000, li, rng),
        "l_discount": rng.integers(0, 11, li) / 100.0,
        "l_tax": rng.integers(0, 9, li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], li),
        "l_linestatus": rng.choice(["F", "O"], li),
        "l_shipdate": days("1995-01-02", "2001-11-05", li, rng)})
    e = n["events"]
    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    span = 30 * 86_400_000_000
    out["events"] = pa.table({
        "event_id": np.arange(e, dtype=np.int64),
        "ts": np.sort(t0 + rng.integers(0, span, e)).astype("datetime64[us]"),
        "user_id": rng.integers(0, max(1, c // 10), e).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, e),
        "value": np.round(rng.exponential(50.0, e), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)]})
    # 10-100 words each from a 30-word vocabulary; then exactly 5% of the
    # documents (seed-chosen) are replaced, one after another, by another
    # document's text with " dup" appended, so every seed carries the same
    # amount of near-duplicate structure (a source may itself be replaced
    # later, as in the reference catalog).
    d = n["documents"]
    texts = [" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), k))
             for k in rng.integers(10, 101, d)]
    for i in rng.choice(d, size=d // 20, replace=False):
        j = int(rng.integers(0, d - 1))
        texts[i] = texts[j + (j >= i)] + " dup"
    out["documents"] = pa.table({
        "doc_id": np.arange(d, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, d, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(d)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    m = n["embeddings"]
    # unit vectors in uniformly random directions: no planted neighbours
    vec = rng.standard_normal((m, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(m, dtype=np.int64),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, m).astype(np.int32)})
    return out


def main(out_dir, seed, sf):
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables(seed, sf).items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))


if __name__ == "__main__":
    main(sys.argv[1], int(sys.argv[2]), float(sys.argv[3]))
