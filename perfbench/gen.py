"""Seeded generator for graft's ten input tables.

Writes `<out>/<table>.parquet` with the same schemas and value
distributions as the repository's synthetic test corpus (a TPC-H-like
star schema, an `events` stream table, a near-duplicate text corpus and
64-d unit embeddings), so every registered query runs unchanged. The
same (seed, sf) always yields byte-identical tables.

Usage: python3 perfbench/gen.py <outDir> <sf> <seed>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "plate", "ring", "rod", "widget", "bracket"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
WORDS = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()

DAY_US = 86_400_000_000


def sizes(sf):
    """Row counts per table: linear in sf, with the corpus tables floored
    at 500 rows as in the reference corpus."""
    return {
        "customer": max(15, int(150_000 * sf)),
        "supplier": max(10, int(10_000 * sf)),
        "part": max(20, int(200_000 * sf)),
        "orders": max(150, int(1_500_000 * sf)),
        "lineitem": max(600, int(6_000_000 * sf)),
        "events": max(100, int(1_000_000 * sf)),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def day_ts(rng, start_days, span_days, n):
    """Whole-day timestamps (µs) from 1970-01-01 + start_days."""
    return ((start_days + rng.integers(0, span_days + 1, n)) * DAY_US).astype("int64")


def ts_array(us):
    return pa.array(us, type=pa.int64()).cast(pa.timestamp("us"))


def documents(rng, n):
    lens = rng.integers(10, 101, n)
    texts = []
    for i in range(n):
        r = rng.random()
        if i >= 20 and r < 0.002:            # exact duplicate
            texts.append(texts[int(rng.integers(0, i))])
        elif i >= 20 and r < 0.05:           # near duplicate: one word changed
            w = texts[int(rng.integers(0, i))].split()
            w[int(rng.integers(0, len(w)))] = "dup"
            texts.append(" ".join(w))
        else:
            texts.append(" ".join(rng.choice(WORDS, lens[i])))
    ids = np.arange(n, dtype="int64")
    return pa.table({
        "doc_id": ids,
        "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    })


def embeddings(rng, n):
    x = rng.standard_normal((n, 64)).astype("float32")
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    flat = pa.array(x.reshape(-1), type=pa.float32())
    offsets = pa.array(np.arange(0, 64 * n + 1, 64, dtype="int32"))
    return pa.table({
        "vec_id": np.arange(n, dtype="int64"),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": rng.integers(0, 10, n).astype("int32"),
    })


def tables(sf):
    """Builders for every table; each draws from its own seeded stream, so
    any subset of tables comes out the same as in a full generation."""
    n = sizes(sf)
    c, s, p, o = n["customer"], n["supplier"], n["part"], n["orders"]

    def customer(rng):
        return pa.table({
            "c_custkey": np.arange(c, dtype="int64"),
            "c_name": [f"Customer#{i:09d}" for i in range(c)],
            "c_nationkey": rng.integers(0, 25, c).astype("int32"),
            "c_acctbal": money(rng, -999.99, 9999.99, c),
            "c_mktsegment": rng.choice(SEGMENTS, c)})

    def supplier(rng):
        return pa.table({
            "s_suppkey": np.arange(s, dtype="int64"),
            "s_name": [f"Supplier#{i:09d}" for i in range(s)],
            "s_nationkey": rng.integers(0, 25, s).astype("int32"),
            "s_acctbal": money(rng, -999.99, 9999.99, s)})

    def part(rng):
        pk = np.arange(p, dtype="int64")
        return pa.table({
            "p_partkey": pk,
            "p_name": [f"{a} {b}" for a, b in zip(rng.choice(ADJ, p), rng.choice(NOUN, p))],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, p)],
            "p_type": rng.choice(PTYPES, p),
            "p_size": rng.integers(1, 51, p).astype("int32"),
            "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1)})

    def orders(rng):
        return pa.table({
            "o_orderkey": np.arange(o, dtype="int64"),
            "o_custkey": rng.integers(0, c, o).astype("int64"),
            "o_orderstatus": rng.choice(["F", "O", "P"], o),
            "o_totalprice": money(rng, 1000.0, 500000.0, o),
            "o_orderdate": ts_array(day_ts(rng, 9131, 2404, o)),   # 1995-01-01 .. 2001-08-01
            "o_orderpriority": rng.choice(PRIORITIES, o)})

    def lineitem(rng):
        li = n["lineitem"]
        return pa.table({
            "l_orderkey": rng.integers(0, o, li).astype("int64"),
            "l_partkey": rng.integers(0, p, li).astype("int64"),
            "l_suppkey": rng.integers(0, s, li).astype("int64"),
            "l_linenumber": rng.integers(1, 8, li).astype("int32"),
            "l_quantity": rng.integers(1, 51, li).astype("float64"),
            "l_extendedprice": money(rng, 900.0, 105000.0, li),
            "l_discount": rng.integers(0, 11, li) / 100.0,
            "l_tax": rng.integers(0, 9, li) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], li),
            "l_linestatus": rng.choice(["F", "O"], li),
            "l_shipdate": ts_array(day_ts(rng, 9132, 2498, li))})  # 1995-01-02 .. 2001-11-04

    def events(rng):
        e = n["events"]
        start_us = 19723 * DAY_US                                   # 2024-01-01
        gaps = rng.exponential(30 * DAY_US / e, e)
        ts = start_us + np.minimum(np.cumsum(gaps), 30 * DAY_US - 1).astype("int64")
        return pa.table({
            "event_id": np.arange(e, dtype="int64"),
            "ts": ts_array(ts),
            "user_id": rng.integers(0, max(1, c // 10), e).astype("int64"),
            "event_type": rng.choice(EVENT_TYPES, e),
            "value": np.round(rng.exponential(50.0, e), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)]})

    return {
        "region": lambda rng: pa.table({"r_regionkey": np.arange(5, dtype="int32"),
                                        "r_name": REGIONS}),
        "nation": lambda rng: pa.table({
            "n_nationkey": np.arange(25, dtype="int32"),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype("int32")}),
        "customer": customer, "supplier": supplier, "part": part, "orders": orders,
        "lineitem": lineitem, "events": events,
        "documents": lambda rng: documents(rng, n["documents"]),
        "embeddings": lambda rng: embeddings(rng, n["embeddings"]),
    }


def generate(out, sf, seed, only=None):
    """Writes the tables (all, or those named in `only`); returns row counts."""
    os.makedirs(out, exist_ok=True)
    rows = {}
    for i, (name, build) in enumerate(tables(sf).items()):
        if only is None or name in only:
            table = build(np.random.default_rng([seed, i]))
            pq.write_table(table, os.path.join(out, f"{name}.parquet"))
            rows[name] = table.num_rows
    return rows


if __name__ == "__main__":
    if len(sys.argv) != 4:
        sys.exit(__doc__)
    print(generate(sys.argv[1], float(sys.argv[2]), int(sys.argv[3])))
