"""Seeded generator for the engine's input directory.

Writes one parquet file per table (`<dir>/<table>.parquet`) in the schema
of the engine's fixture tables (FIXTURES.md): the TPC-H-ish star schema,
the `events` stream and the `documents`/`embeddings` extension tables.
Value ranges and shapes follow the fixtures, so the ops run on a
generated dir as they do on a fixture dir.

The same (seed, size) always yields byte-identical files: all values come
from one numpy PCG64 stream per table, and parquet is written without
timestamps or statistics that depend on the clock.

The documents table can be upscaled beyond the fixture's 500 rows, with a
stated share of planted near-duplicates (a copy of an earlier original
with a few words substituted), so near-dup dedup ops have real work.
"""
import datetime
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings")

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.14, 0.44, 0.14, 0.14, 0.14]
EMB_DIM = 64

ORDER_DAY0 = datetime.datetime(1995, 1, 1)
ORDER_DAYS = 2404          # 1995-01-01 .. 2001-08-01
SHIP_DAY0 = datetime.datetime(1995, 1, 2)
SHIP_DAYS = 2498           # 1995-01-02 .. 2001-11-04
EVENT_T0 = datetime.datetime(2024, 1, 1)
EVENT_SPAN_US = 30 * 86400 * 1_000_000


def _rng(seed, table):
    # one independent stream per table: resizing one table leaves the
    # others' bytes unchanged
    return np.random.Generator(np.random.PCG64([seed, TABLES.index(table)]))


def _cents(rng, lo, hi, n):
    return np.round(rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0, 2)


def _days(day0, offsets):
    base = np.datetime64(day0, "us")
    return pa.array(base + offsets.astype("timedelta64[D]"), pa.timestamp("us"))


def _fmt(prefix, keys):
    return pa.array([f"{prefix}#{k:09d}" for k in keys.tolist()], pa.string())


def region():
    return pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": pa.array(REGIONS, pa.string())})


def nation():
    keys = np.arange(25)
    return pa.table({"n_nationkey": pa.array(keys, pa.int32()),
                     "n_name": pa.array([f"NATION_{k}" for k in keys.tolist()]),
                     "n_regionkey": pa.array(keys % 5, pa.int32())})


def customer(seed, n):
    rng = _rng(seed, "customer")
    keys = np.arange(n, dtype=np.int64)
    return pa.table({
        "c_custkey": keys,
        "c_name": _fmt("Customer", keys),
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": _cents(rng, -999.99, 9999.99, n),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n).tolist(), pa.string())})


def supplier(seed, n):
    rng = _rng(seed, "supplier")
    keys = np.arange(n, dtype=np.int64)
    return pa.table({
        "s_suppkey": keys,
        "s_name": _fmt("Supplier", keys),
        "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "s_acctbal": _cents(rng, -999.99, 9999.99, n)})


def part(seed, n):
    rng = _rng(seed, "part")
    keys = np.arange(n, dtype=np.int64)
    names = [f"{ADJ[a]} {NOUN[b]}" for a, b in
             zip(rng.integers(0, 8, n).tolist(), rng.integers(0, 8, n).tolist())]
    return pa.table({
        "p_partkey": keys,
        "p_name": pa.array(names, pa.string()),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n).tolist()]),
        "p_type": pa.array(rng.choice(PTYPES, n).tolist(), pa.string()),
        "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 2)})


def orders(seed, n, n_cust):
    rng = _rng(seed, "orders")
    return pa.table({
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n).astype(np.int64),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n).tolist()),
        "o_totalprice": _cents(rng, 1000.0, 500000.0, n),
        "o_orderdate": _days(ORDER_DAY0, rng.integers(0, ORDER_DAYS, n)),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n).tolist())})


def lineitem(seed, n, n_orders, n_part, n_supp):
    rng = _rng(seed, "lineitem")
    return pa.table({
        "l_orderkey": rng.integers(0, n_orders, n).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n).astype(np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _cents(rng, 900.0, 105000.0, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n).tolist()),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n).tolist()),
        "l_shipdate": _days(SHIP_DAY0, rng.integers(0, SHIP_DAYS, n))})


def events(seed, n, n_users):
    rng = _rng(seed, "events")
    offs = np.sort(rng.integers(0, EVENT_SPAN_US, n))
    ts = np.datetime64(EVENT_T0, "us") + offs.astype("timedelta64[us]")
    value = np.maximum(0.01, np.round(rng.exponential(50.0, n), 2))
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, n).astype(np.int64),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n).tolist()),
        "value": value,
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n).tolist()])})


def documents(seed, n, dup_share):
    """`n` documents of 10-99 words; a `dup_share` of them are planted
    near-duplicates: an earlier original with 1-3 words substituted."""
    rng = _rng(seed, "documents")
    vocab = np.array(VOCAB)
    texts = []
    originals = []
    is_dup = rng.random(n) < dup_share
    for i in range(n):
        if is_dup[i] and originals:
            words = texts[originals[rng.integers(0, len(originals))]].split(" ")
            for j in rng.integers(0, len(words), rng.integers(1, 4)).tolist():
                words[j] = vocab[rng.integers(0, len(vocab))]
            texts.append(" ".join(words))
        else:
            originals.append(i)
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), rng.integers(10, 100))]))
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P).tolist()),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})


def embeddings(seed, n):
    rng = _rng(seed, "embeddings")
    v = rng.standard_normal((n, EMB_DIM))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    flat = pa.array(v.astype(np.float32).ravel(), pa.float32())
    offsets = pa.array(np.arange(0, n * EMB_DIM + 1, EMB_DIM, dtype=np.int32))
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(rng.integers(0, 10, n), pa.int32())})


def build_tables(seed, size):
    """All tables for one (seed, size). `size` keys: sf (star schema and
    events scale, fixture convention: lineitem = 6e6 * sf), docs,
    dup_share, vecs."""
    sf = size["sf"]
    n_cust = max(15, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_orders = max(150, int(1_500_000 * sf))
    return {
        "region": region(),
        "nation": nation(),
        "customer": customer(seed, n_cust),
        "supplier": supplier(seed, n_supp),
        "part": part(seed, n_part),
        "orders": orders(seed, n_orders, n_cust),
        "lineitem": lineitem(seed, int(6_000_000 * sf), n_orders, n_part, n_supp),
        "events": events(seed, int(1_000_000 * sf), max(15, int(15_000 * sf))),
        "documents": documents(seed, size["docs"], size["dup_share"]),
        "embeddings": embeddings(seed, size["vecs"]),
    }


def write_dir(out_dir, seed, size):
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in build_tables(seed, size).items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"), compression="snappy")
