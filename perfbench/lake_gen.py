"""Seeded generator of the catalog tables the LLM-lake side reads.

Same schemas as the catalog's synthetic tables (FIXTURES.md section A):
region, nation, customer, orders, lineitem and documents.
``scale`` sizes them (1.0 ~ 150k orders); parts are few enough that the
urgent-order co-purchase graph has a non-empty 8-core.

``generate(out_dir, seed, scale)`` writes one snappy parquet per table, rows
in a seed-permuted order, and a second, unpermuted copy of ``documents``
(sorted by ``doc_id``) under ``canonical/`` for the training-set check.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch spark "
    "line sort window column order small data join filter query big group "
    "stream vector customer"
).split()
LANGS = ("en", "en", "en", "zh", "de", "fr", "es")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
TABLES = ("region", "nation", "customer", "orders", "lineitem", "documents")


def _ts(days_from_epoch: np.ndarray) -> pa.Array:
    us = (days_from_epoch * 86_400_000_000).astype("int64")
    return pa.array(us, type=pa.timestamp("us"))


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        if i >= 10 and rng.random() < 0.15:
            # near-duplicate of an earlier document: a few words changed
            words = texts[int(rng.integers(0, i))].split()
            for _ in range(int(rng.integers(0, 3))):
                words[int(rng.integers(0, len(words)))] = WORDS[int(rng.integers(0, len(WORDS)))]
            texts.append(" ".join(words))
        else:
            k = int(rng.integers(8, 80))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), k)))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype="int64")),
            "text": pa.array(texts),
            "lang": pa.array([LANGS[j] for j in rng.integers(0, len(LANGS), n)]),
            "source": pa.array([f"src{j}" for j in rng.integers(0, 20, n)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype="int64")),
        }
    )


def tables(seed: int, scale: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_orders = max(100, int(150_000 * scale))
    n_cust = max(20, int(15_000 * scale))
    n_parts = max(50, int(20_000 * scale))
    n_docs = max(50, int(50_000 * scale))

    region = pa.table({"r_regionkey": pa.array(range(5), pa.int32()), "r_name": list(REGIONS)})
    nation = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    customer = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust, dtype="int64")),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype("int32")),
            "c_acctbal": pa.array(np.round(rng.uniform(-999, 9999, n_cust), 2)),
            "c_mktsegment": [SEGMENTS[j] for j in rng.integers(0, 5, n_cust)],
        }
    )
    o_days = rng.integers(9131, 11535, n_orders)  # 1995-01-01 .. 2001-08-01
    orders = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_orders, dtype="int64")),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_orders).astype("int64")),
            "o_orderstatus": [("F", "O", "P")[j] for j in rng.integers(0, 3, n_orders)],
            "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, n_orders), 2)),
            "o_orderdate": _ts(o_days),
            "o_orderpriority": [PRIORITIES[j] for j in rng.integers(0, 5, n_orders)],
        }
    )
    lines = rng.integers(1, 8, n_orders)
    l_order = np.repeat(np.arange(n_orders, dtype="int64"), lines)
    l_num = np.concatenate([np.arange(1, k + 1) for k in lines]).astype("int32")
    n_li = len(l_order)
    qty = rng.integers(1, 51, n_li).astype("float64")
    lineitem = pa.table(
        {
            "l_orderkey": pa.array(l_order),
            "l_partkey": pa.array(rng.integers(0, n_parts, n_li).astype("int64")),
            "l_suppkey": pa.array(rng.integers(0, max(10, n_parts // 20), n_li).astype("int64")),
            "l_linenumber": pa.array(l_num),
            "l_quantity": pa.array(qty),
            "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2100, n_li), 2)),
            "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
            "l_returnflag": [("A", "N", "R")[j] for j in rng.integers(0, 3, n_li)],
            "l_linestatus": [("F", "O")[j] for j in rng.integers(0, 2, n_li)],
            "l_shipdate": _ts(np.repeat(o_days, lines) + rng.integers(1, 122, n_li)),
        }
    )
    return {
        "region": region,
        "nation": nation,
        "customer": customer,
        "orders": orders,
        "lineitem": lineitem,
        "documents": _documents(rng, n_docs),
    }


def generate(out_dir: str, seed: int, scale: float) -> dict:
    """Write the permuted tables plus ``canonical/documents.parquet``;
    return {table: rows} and the total parquet bytes."""
    perm_rng = np.random.default_rng(seed + 1_000_003)
    os.makedirs(os.path.join(out_dir, "canonical"), exist_ok=True)
    rows: dict[str, int] = {}
    for name, t in tables(seed, scale).items():
        if name == "documents":
            pq.write_table(t, os.path.join(out_dir, "canonical", f"{name}.parquet"), compression="snappy")
        permuted = t.take(pa.array(perm_rng.permutation(t.num_rows)))
        pq.write_table(permuted, os.path.join(out_dir, f"{name}.parquet"), compression="snappy")
        rows[name] = t.num_rows
    size = sum(
        os.path.getsize(os.path.join(out_dir, f)) for f in os.listdir(out_dir) if f.endswith(".parquet")
    )
    return {"rows": rows, "bytes": size}
