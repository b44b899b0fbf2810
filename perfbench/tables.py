"""Seeded input tables for the operator suite.

The registered queries read parquet tables by name from one directory:
a TPC-H-shaped star (region, nation, customer, supplier, orders, lineitem),
a ``documents`` text table and an ``embeddings`` vector table. This module
writes them from a seed, at the size the query oracles are checked at
(about 60k lineitems, 500 documents, 500 unit vectors of 64 dims).
Documents share boilerplate passages so substring and near-duplicate
operators have work to find.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
WORDS = ("a the data table row column key value query join scan sort merge "
         "group agg window filter batch stream spark hash part order line "
         "customer big small fast slow vector").split()
LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]


def _day(rng, lo: dt.date, span_days: int, n: int) -> np.ndarray:
    base = np.datetime64(lo, "us")
    return base + rng.integers(0, span_days, n).astype("timedelta64[D]").astype("timedelta64[us]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def write_tables(out_dir: str, seed: int, n_orders: int = 15_000, n_docs: int = 500,
                 n_vecs: int = 500, dim: int = 64) -> str:
    """Write every table under ``out_dir``; return ``out_dir``."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = n_orders // 10, max(10, n_orders // 150), n_orders // 7

    def put(name: str, cols: dict) -> None:
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))

    put("region", {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS})
    put("nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(rng.integers(0, 5, 25), pa.int32()),
    })
    put("customer", {
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999, 9999, n_cust),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)],
    })
    put("supplier", {
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999, 9999, n_supp),
    })
    put("orders", {
        "o_orderkey": pa.array(range(n_orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_orders)],
        "o_totalprice": _money(rng, 1000, 500_000, n_orders),
        "o_orderdate": pa.array(_day(rng, dt.date(1992, 1, 1), 2500, n_orders), pa.timestamp("us")),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_orders)],
    })
    lines = rng.integers(1, 8, n_orders)
    n_li = int(lines.sum())
    put("lineitem", {
        "l_orderkey": pa.array(np.repeat(np.arange(n_orders), lines), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(np.concatenate([np.arange(1, k + 1) for k in lines]), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 100_000, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_li)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_li)],
        "l_shipdate": pa.array(_day(rng, dt.date(1992, 1, 2), 2600, n_li), pa.timestamp("us")),
    })
    boiler = [" ".join(WORDS[i] for i in rng.integers(0, len(WORDS), 14)) for _ in range(6)]
    texts = []
    for _ in range(n_docs):
        words = [WORDS[i] for i in rng.integers(0, len(WORDS), int(rng.integers(8, 90)))]
        if rng.random() < 0.3:  # a shared passage at a random offset
            at = int(rng.integers(0, len(words) + 1))
            words[at:at] = [boiler[int(rng.integers(0, len(boiler)))]]
        texts.append(" ".join(words))
    put("documents", {
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    centers = rng.normal(size=(10, dim))
    labels = rng.integers(0, 10, n_vecs)
    vecs = centers[labels] + 0.6 * rng.normal(size=(n_vecs, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    put("embeddings", {
        "vec_id": pa.array(range(n_vecs), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return out_dir


TABLE_NAMES = ("region", "nation", "customer", "supplier", "orders", "lineitem",
               "documents", "embeddings")
