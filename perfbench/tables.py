"""Seeded generator of the registry's tables (TPC-H-like star schema,
an ``events`` stream, ``documents`` and ``embeddings``), shaped like the
driver's test scales: same schemas, value ranges and word vocabulary, a
few near-duplicate documents. Row counts are fixed, so
the cost of a registry pass barely moves between seeds.
"""

from __future__ import annotations

import os
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("scan column window order sort part agg value line key join merge group "
         "query a vector hash slow stream filter fast the batch spark table small "
         "data big customer row").split()
LANGS = ("en", "fr", "es", "zh", "de")
LANG_P = (0.38, 0.16, 0.16, 0.15, 0.15)
SEGMENTS = ("FURNITURE", "MACHINERY", "BUILDING", "HOUSEHOLD", "AUTOMOBILE")
PART_ADJ = ("cold", "small", "large", "blue", "old", "new", "hot")
PART_NOUN = ("widget", "bolt", "rod", "anvil", "ring", "gizmo", "plate", "gear")
PART_TYPES = ("ECONOMY", "PROMO", "LARGE", "MEDIUM", "STANDARD", "SMALL")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "purchase", "error", "signup", "view")

# Row counts are SCALE times the smallest driver scale's, documents
# DOC_SCALE times. At the smallest scale a registry key's time is nearly
# all fixed per-query cost, which moved up to 2x from one JVM to the
# next on a shared host; the text keys' work over the documents moved
# about 10%, so they carry most of a pass.
SCALE, DOC_SCALE = 30, 100
N_CUSTOMER, N_SUPPLIER, N_PART, N_ORDERS = 150 * SCALE, 10, 200 * SCALE, 1500 * SCALE
N_EVENTS, N_USERS, N_VECS, DIM = 1000 * SCALE, 15, 500 * SCALE, 64
N_DOCS = 500 * DOC_SCALE
EVENTS_START_US = 1704067200 * 10**6  # 2024-01-01T00:00:00


def _cents(rng, lo, hi, n):
    return np.round(rng.integers(int(lo * 100), int(hi * 100), n) / 100, 2)


def _days(start: datetime, offsets) -> pa.Array:
    return pa.array([start + timedelta(days=int(d)) for d in offsets], pa.timestamp("us"))


def _documents(rng) -> pa.Table:
    texts = []
    for _ in range(N_DOCS):
        words = list(rng.choice(VOCAB, int(rng.integers(8, 100))))
        if rng.random() < 0.06:
            words.insert(int(rng.integers(0, len(words))), "dup")
        texts.append(" ".join(words))
    # near duplicates: a later document copies an earlier one's opening
    for i in rng.choice(np.arange(50, N_DOCS), 25, replace=False):
        src = texts[int(rng.integers(0, i))]
        tail = " ".join(rng.choice(VOCAB, int(rng.integers(2, 6))))
        texts[i] = f"{src} {tail}"
    return pa.table({
        "doc_id": pa.array(np.arange(N_DOCS), pa.int64()),
        "text": texts,
        "lang": list(rng.choice(LANGS, N_DOCS, p=LANG_P)),
        "source": [f"src{i % 20}" for i in rng.permutation(N_DOCS)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def generate(seed: int, out_dir: str) -> int:
    """Write every table as ``<out_dir>/<name>.parquet``; returns bytes written."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    order_day = rng.integers(0, 2404, N_ORDERS)
    lines_per = rng.integers(1, 8, N_ORDERS)
    l_order = np.repeat(np.arange(N_ORDERS), lines_per)
    n_line = int(l_order.size)
    l_part = rng.integers(0, N_PART, n_line)
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    retail = 900.0 + (np.arange(N_PART) % 200) / 10
    centers = rng.normal(0, 0.12, (10, DIM))
    labels = rng.integers(0, 10, N_VECS)
    emb = (centers[labels] + rng.normal(0, 0.04, (N_VECS, DIM))).astype(np.float32)
    ev_ts = np.sort(rng.integers(0, 30 * 86400 * 10**6, N_EVENTS))
    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(N_CUSTOMER), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMER)],
            "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMER), pa.int32()),
            "c_acctbal": _cents(rng, -999.99, 9999.99, N_CUSTOMER),
            "c_mktsegment": list(rng.choice(SEGMENTS, N_CUSTOMER))}),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(N_SUPPLIER), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIER)],
            "s_nationkey": pa.array(rng.integers(0, 25, N_SUPPLIER), pa.int32()),
            "s_acctbal": _cents(rng, -999.99, 9999.99, N_SUPPLIER)}),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(N_PART), pa.int64()),
            "p_name": [f"{rng.choice(PART_ADJ)} {rng.choice(PART_NOUN)}" for _ in range(N_PART)],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, N_PART)],
            "p_type": list(rng.choice(PART_TYPES, N_PART)),
            "p_size": pa.array(rng.integers(1, 51, N_PART), pa.int32()),
            "p_retailprice": retail}),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(N_ORDERS), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, N_CUSTOMER, N_ORDERS), pa.int64()),
            "o_orderstatus": list(rng.choice(["O", "F", "P"], N_ORDERS)),
            "o_totalprice": _cents(rng, 1000, 500000, N_ORDERS),
            "o_orderdate": _days(datetime(1995, 1, 1), order_day),
            "o_orderpriority": list(rng.choice(PRIORITIES, N_ORDERS))}),
        "lineitem": pa.table({
            "l_orderkey": pa.array(l_order, pa.int64()),
            "l_partkey": pa.array(l_part, pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, N_SUPPLIER, n_line), pa.int64()),
            "l_linenumber": pa.array(np.concatenate([np.arange(1, k + 1) for k in lines_per]),
                                     pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * retail[l_part] * rng.uniform(0.95, 2.3, n_line), 2),
            "l_discount": rng.integers(0, 11, n_line) / 100,
            "l_tax": rng.integers(0, 9, n_line) / 100,
            "l_returnflag": list(rng.choice(["N", "R", "A"], n_line)),
            "l_linestatus": list(rng.choice(["F", "O"], n_line)),
            "l_shipdate": _days(datetime(1995, 1, 1),
                                np.repeat(order_day, lines_per) + rng.integers(1, 122, n_line))}),
        "events": pa.table({
            "event_id": pa.array(np.arange(N_EVENTS), pa.int64()),
            "ts": pa.array(ev_ts + EVENTS_START_US, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, N_USERS, N_EVENTS), pa.int64()),
            "event_type": list(rng.choice(EVENT_TYPES, N_EVENTS)),
            "value": _cents(rng, 1, 200, N_EVENTS),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)]}),
        "documents": _documents(rng),
        "embeddings": pa.table({
            "vec_id": pa.array(np.arange(N_VECS), pa.int64()),
            "embedding": pa.array(list(emb), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32())}),
    }
    total = 0
    for name, table in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path)
        total += os.path.getsize(path)
    return total
