"""Seeded input generators for the graft benchmark.

Every generator takes a seed and writes parquet files whose bytes depend on
the seed alone: the same seed gives byte-identical files, another seed gives
different files. The tables follow the schema and value domains of the
TPC-H-like star schema plus `events`, `documents` and `embeddings` that the
query catalog reads (see `graft.Tables`).
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]

VOCAB = ("query row stream the batch sort value hash filter big data dup "
         "spark line small fast group customer part column order scan a "
         "slow agg key window table merge vector join").split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.14, 0.42, 0.15, 0.15, 0.14]
DAY_US = 86_400_000_000


def rng(seed, stream):
    """Independent generator per (seed, stream) so tables don't shift when
    another table's size changes."""
    return np.random.Generator(np.random.PCG64([seed, stream]))


def write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")


def money(r, lo, hi, n):
    return np.round(r.uniform(lo, hi, n), 2)


def days(r, start, n_days, n):
    base = np.datetime64(start, "us").astype(np.int64)
    return (base + r.integers(0, n_days, n) * DAY_US).astype("datetime64[us]")


def texts(r, n):
    lens = r.integers(10, 101, n)
    words = r.integers(0, len(VOCAB), int(lens.sum()))
    out, i = [], 0
    for k in lens:
        out.append(" ".join(VOCAB[w] for w in words[i:i + k]))
        i += k
    return out


def star(out, seed, sf):
    """The ten catalog tables at scale factor `sf` (sf 0.1 = 600k lineitem
    rows, the size of the catalog's reference testdata)."""
    n = lambda base: max(1, int(round(base * sf)))
    n_cust, n_supp, n_part = n(150_000), n(10_000), n(200_000)
    n_ord, n_li, n_ev = n(1_500_000), n(6_000_000), n(1_000_000)
    n_doc, n_emb = n(50_000), min(n(20_000), 2_000)
    n_users = max(10, n(15_000))

    write(pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    }), f"{out}/region.parquet")
    write(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }), f"{out}/nation.parquet")

    r = rng(seed, 1)
    write(pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(r, -999.99, 9999.99, n_cust),
        "c_mktsegment": r.choice(SEGMENTS, n_cust),
    }), f"{out}/customer.parquet")

    r = rng(seed, 2)
    write(pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(r.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(r, -999.99, 9999.99, n_supp),
    }), f"{out}/supplier.parquet")

    r = rng(seed, 3)
    pk = np.arange(n_part)
    write(pa.table({
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(r.integers(0, 8, n_part), r.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, n_part)],
        "p_type": r.choice(PART_TYPES, n_part),
        "p_size": pa.array(r.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2),
    }), f"{out}/part.parquet")

    r = rng(seed, 4)
    write(pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(r.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": r.choice(["F", "O", "P"], n_ord),
        "o_totalprice": money(r, 1000.0, 500000.0, n_ord),
        "o_orderdate": pa.array(days(r, "1995-01-01", 2404, n_ord),
                                pa.timestamp("us")),
        "o_orderpriority": r.choice(PRIORITIES, n_ord),
    }), f"{out}/orders.parquet")

    r = rng(seed, 5)
    write(pa.table({
        "l_orderkey": pa.array(r.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(r.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, n_li), pa.int32()),
        "l_quantity": r.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": money(r, 900.0, 105000.0, n_li),
        "l_discount": r.integers(0, 11, n_li) / 100.0,
        "l_tax": r.integers(0, 9, n_li) / 100.0,
        "l_returnflag": r.choice(["A", "N", "R"], n_li),
        "l_linestatus": r.choice(["F", "O"], n_li),
        "l_shipdate": pa.array(days(r, "1995-01-02", 2499, n_li),
                               pa.timestamp("us")),
    }), f"{out}/lineitem.parquet")

    write(events_table(seed, 0, n_ev, n_users), f"{out}/events.parquet")

    r = rng(seed, 7)
    text = texts(r, n_doc)
    write(pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": pa.array(text, pa.string()),
        "lang": pa.array(r.choice(LANGS, n_doc, p=LANG_P), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n_doc)], pa.string()),
        "n_chars": pa.array([len(t) for t in text], pa.int64()),
    }), f"{out}/documents.parquet")

    r = rng(seed, 8)
    e = r.standard_normal((n_emb, 64)).astype(np.float32)
    e /= np.linalg.norm(e, axis=1, keepdims=True)
    write(pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(e), pa.list_(pa.float32())),
        "label": pa.array(r.integers(0, 10, n_emb), pa.int32()),
    }), f"{out}/embeddings.parquet")


def events_table(seed, first_id, n, n_users, start="2024-01-01", n_days=30):
    """`n` events with ids from `first_id`, timestamps increasing with the id
    inside [start, start + n_days)."""
    r = rng(seed, 6 + 1000 * first_id)
    base = np.datetime64(start, "us").astype(np.int64)
    ts = np.sort(r.integers(0, n_days * DAY_US, n)) + base
    return pa.table({
        "event_id": pa.array(np.arange(first_id, first_id + n), pa.int64()),
        "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
        "user_id": pa.array(r.integers(0, n_users, n), pa.int64()),
        "event_type": r.choice(EVENT_TYPES, n),
        "value": np.round(r.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n)],
    })
