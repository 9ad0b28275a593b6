"""Seeded input tables for the ``registry_doc`` workload.

Writes the parquet tables the benchmarked registry queries read
(``documents``, ``embeddings`` and the TPC-H-style star ``region``,
``nation``, ``customer``, ``orders``, ``lineitem``) with the column types
and value ranges of the repository's test data at scale factor 0.01
(200 rather than 500 documents, which keeps the tokenizer oracle at a few
seconds), so every query returns a non-empty result. Values are drawn
with numpy from the seed; nothing is read from outside the output
directory.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np

VOCAB = (
    "a the join hash row batch scan column customer filter small slow merge "
    "vector order line table data agg value key stream window spark part "
    "group big sort query fast"
).split()
LANGS = (("en", 0.44), ("zh", 0.15), ("es", 0.14), ("de", 0.14), ("fr", 0.13))
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
TABLES = ("region", "nation", "customer", "orders", "lineitem", "documents", "embeddings")

N_DOCS = 200
N_VECS = 500
N_CUSTOMERS = 1500
N_ORDERS = 15000
N_LINEITEMS = 60000


def _documents(shape: np.random.Generator, rng: np.random.Generator):
    import pyarrow as pa

    texts: list[str] = []
    for i in range(N_DOCS):
        if i >= 20 and shape.random() < 0.05:
            # near-duplicate of an earlier document: same words, a few edits
            words = texts[int(shape.integers(0, i))].split()
            for _ in range(int(shape.integers(1, 4))):
                words[int(shape.integers(0, len(words)))] = "dup"
        else:
            words = list(rng.choice(VOCAB, size=int(shape.integers(10, 90))))
        texts.append(" ".join(words))
    langs = rng.choice([lang for lang, _ in LANGS], size=N_DOCS, p=[p for _, p in LANGS])
    return pa.table({
        "doc_id": pa.array(np.arange(N_DOCS), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(N_DOCS)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(shape: np.random.Generator, rng: np.random.Generator):
    import pyarrow as pa

    centroids = rng.normal(size=(10, 64))
    labels = shape.integers(0, 10, size=N_VECS)
    vecs = centroids[labels] + rng.normal(scale=1.1, size=(N_VECS, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(N_VECS), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, size=n), 2)


def _star(rng: np.random.Generator) -> dict:
    import pyarrow as pa

    ts = pa.timestamp("us")
    day0 = np.datetime64("1995-01-01", "us")
    region = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": pa.array(REGIONS, pa.string()),
    })
    nation = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    customer = pa.table({
        "c_custkey": pa.array(np.arange(N_CUSTOMERS), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(N_CUSTOMERS)], pa.string()),
        "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMERS), pa.int32()),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, N_CUSTOMERS), pa.float64()),
        "c_mktsegment": pa.array(rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], N_CUSTOMERS
        ), pa.string()),
    })
    order_days = rng.integers(0, 2404, N_ORDERS)
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(N_ORDERS), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, N_CUSTOMERS, N_ORDERS), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], N_ORDERS), pa.string()),
        "o_totalprice": pa.array(_money(rng, 900, 500000, N_ORDERS), pa.float64()),
        "o_orderdate": pa.array(day0 + order_days * np.timedelta64(1, "D"), ts),
        "o_orderpriority": pa.array(rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], N_ORDERS
        ), pa.string()),
    })
    l_order = rng.integers(0, N_ORDERS, N_LINEITEMS)
    lineitem = pa.table({
        "l_orderkey": pa.array(l_order, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, 2000, N_LINEITEMS), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, 100, N_LINEITEMS), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, N_LINEITEMS), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, N_LINEITEMS).astype(float), pa.float64()),
        "l_extendedprice": pa.array(_money(rng, 900, 105000, N_LINEITEMS), pa.float64()),
        "l_discount": pa.array(rng.integers(0, 11, N_LINEITEMS) / 100.0, pa.float64()),
        "l_tax": pa.array(rng.integers(0, 9, N_LINEITEMS) / 100.0, pa.float64()),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], N_LINEITEMS), pa.string()),
        "l_linestatus": pa.array(rng.choice(["F", "O"], N_LINEITEMS), pa.string()),
        "l_shipdate": pa.array(
            day0 + (order_days[l_order] + rng.integers(1, 122, N_LINEITEMS)) * np.timedelta64(1, "D"),
            ts,
        ),
    })
    return {"region": region, "nation": nation, "customer": customer,
            "orders": orders, "lineitem": lineitem}


def generate(root: str, seed: int) -> dict:
    """Write every table as ``root/<name>.parquet``; reuse a complete
    earlier generation for the same seed. Returns the manifest."""
    import pyarrow.parquet as pq

    mpath = os.path.join(root, "manifest.json")
    if os.path.exists(mpath):
        with open(mpath, encoding="utf-8") as f:
            return json.load(f)
    if os.path.exists(root):
        shutil.rmtree(root)
    os.makedirs(root)
    # the seed draws values; sizes, document lengths, near-duplicate
    # positions and cluster sizes come from a fixed generator, so every
    # seed gives the queries the same amount of work
    shape, rng = np.random.default_rng(0), np.random.default_rng(seed)
    tables = {"documents": _documents(shape, rng),
              "embeddings": _embeddings(shape, rng), **_star(rng)}
    for name, table in tables.items():
        pq.write_table(table, os.path.join(root, f"{name}.parquet"))
    manifest = {
        "seed": seed,
        "rows": {n: t.num_rows for n, t in tables.items()},
        "input_bytes": sum(os.path.getsize(os.path.join(root, f"{n}.parquet")) for n in tables),
    }
    with open(mpath + ".tmp", "w", encoding="utf-8") as f:
        json.dump(manifest, f)
    os.replace(mpath + ".tmp", mpath)
    return manifest
