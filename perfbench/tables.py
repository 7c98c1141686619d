"""Seeded stand-in for the registry's parquet tables.

The query registry reads ten tables from an sf directory (see
``catalog.TABLES``): a TPC-H-like star schema, an event stream,
documents and embeddings. This module writes the same schemas and
value domains at a small scale, as a pure function of the seed, so the
registry workload needs no data from outside the benchmark. Documents
reuse the corpus generator, and a share of them are near-duplicates
(a copy plus one token) so the dedup queries find pairs.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from . import corpus

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
P_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
P_ADJ = ("red", "blue", "hot", "old", "small", "large", "green", "cold")
P_NOUN = ("plate", "widget", "ring", "rod", "bolt", "gizmo", "gear", "nut")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
DAY_US = 86_400_000_000
EPOCH_1995_US = (dt.date(1995, 1, 1) - dt.date(1970, 1, 1)).days * DAY_US
EPOCH_2024_US = (dt.date(2024, 1, 1) - dt.date(1970, 1, 1)).days * DAY_US

# rows per table (lineitem: 1 to 7 lines per order, about 18k rows)
SIZES = {"customer": 450, "supplier": 30, "part": 600, "orders": 4500,
         "events": 3000, "documents": 900, "embeddings": 900}


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def make_tables(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng([seed, 7])
    n = SIZES
    out = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": list(REGIONS)}),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
        "customer": pa.table({
            "c_custkey": pa.array(range(n["customer"]), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
            "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), pa.int32()),
            "c_acctbal": np.round(rng.uniform(-999, 9999, n["customer"]), 2),
            "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n["customer"])]}),
        "supplier": pa.table({
            "s_suppkey": pa.array(range(n["supplier"]), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
            "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), pa.int32()),
            "s_acctbal": np.round(rng.uniform(-999, 9999, n["supplier"]), 2)}),
        "part": pa.table({
            "p_partkey": pa.array(range(n["part"]), pa.int64()),
            "p_name": [f"{P_ADJ[a]} {P_NOUN[b]}" for a, b in zip(
                rng.integers(0, 8, n["part"]), rng.integers(0, 8, n["part"]))],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n["part"])],
            "p_type": [P_TYPES[i] for i in rng.integers(0, 6, n["part"])],
            "p_size": pa.array(rng.integers(1, 51, n["part"]), pa.int32()),
            "p_retailprice": np.round(900 + rng.integers(0, 1100, n["part"]), 2).astype(float)}),
    }
    n_ord = n["orders"]
    odate = EPOCH_1995_US + rng.integers(0, 2405, n_ord) * DAY_US
    out["orders"] = pa.table({
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n["customer"], n_ord), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(900, 500_000, n_ord), 2),
        "o_orderdate": _ts(odate),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)]})
    lines = rng.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord), lines)
    n_li = len(okey)
    qty = rng.integers(1, 51, n_li).astype(float)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n["part"], n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], n_li), pa.int64()),
        "l_linenumber": pa.array(np.concatenate([np.arange(1, k + 1) for k in lines]), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_li)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(np.repeat(odate, lines) + rng.integers(1, 122, n_li) * DAY_US)})
    n_ev = n["events"]
    out["events"] = pa.table({
        "event_id": pa.array(range(n_ev), pa.int64()),
        "ts": _ts(np.sort(EPOCH_2024_US + rng.integers(0, 30 * DAY_US, n_ev))),
        "user_id": pa.array(rng.integers(0, max(15, n_ev // 66), n_ev), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50, n_ev) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    docs = corpus.make_documents(seed, n["documents"], median_chars=300, sigma=0.5)
    for d in docs[1::20]:
        src = docs[int(rng.integers(0, len(docs)))]
        d["text"] = src["text"] + " dup"
        d["n_chars"] = len(d["text"])
    out["documents"] = pa.table({
        "doc_id": pa.array([d["doc_id"] for d in docs], pa.int64()),
        "text": [d["text"] for d in docs],
        "lang": [d["lang"] for d in docs],
        "source": [d["source"] for d in docs],
        "n_chars": pa.array([d["n_chars"] for d in docs], pa.int64())})
    n_emb = n["embeddings"]
    vec = rng.normal(size=(n_emb, 64)).astype("float32")
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(range(n_emb), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32())})
    return out


def write_tables(tables: dict[str, pa.Table], sf_dir: str) -> None:
    os.makedirs(sf_dir, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(sf_dir, f"{name}.parquet"))
