"""Seeded tables for the ``query_mix`` workload.

The declared queries read a TPC-H-like star schema plus ``documents`` and
``embeddings`` (the engine's catalog names them). This module writes the
tables those queries read, one parquet file each, with the column names
and types the catalog expects and the shapes the queries depend on:
every order has 1-7 line items, a few suppliers are hot, documents are
sentences over a small vocabulary with a share of near-duplicates, and
embeddings are unit vectors around ten labelled centres.

Row counts sit between the catalog's scale factors 0.001 and 0.01
(3,000 orders, about 12,000 line items, 500 documents, 200 embeddings),
so that a run's warm-up pass and DuckDB cross-check fit its time budget.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("nation", "customer", "supplier", "orders", "lineitem",
          "documents", "embeddings")

_WORDS = (
    "a the data spark table query join group sort scan filter value key "
    "row column order part line batch stream window hash merge agg fast "
    "slow big small vector customer index shard audio clip speech text "
    "token model train split dedup cluster graph rank"
).split()
_LANGS = ("en", "en", "en", "es", "fr", "de", "zh")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")


def _ts(rng, n: int, start: str, days: int) -> pa.Array:
    base = np.datetime64(start, "D")
    d = base + rng.integers(0, days, size=n).astype("timedelta64[D]")
    return pa.array(d.astype("datetime64[us]"), pa.timestamp("us"))


def _sentences(rng, n: int) -> list[str]:
    lengths = rng.integers(8, 90, size=n)
    words = np.array(_WORDS)
    return [" ".join(words[rng.integers(0, len(words), size=k)])
            for k in lengths]


def write_tables(out_dir: str, seed: int) -> dict[str, int]:
    """Write every table under ``out_dir``; returns rows per table."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_orders, n_docs, n_vecs = 300, 20, 3000, 500, 200
    t: dict[str, pa.Table] = {}

    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
        "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999, 9999, n_supp), 2),
    })
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), pa.int64()),
        "o_orderstatus": np.array(["O", "F", "P"])[
            rng.integers(0, 3, n_orders)],
        "o_totalprice": np.round(rng.uniform(900, 500000, n_orders), 2),
        "o_orderdate": _ts(rng, n_orders, "1995-01-01", 2404),
        "o_orderpriority": np.array(_PRIORITIES)[
            rng.integers(0, 5, n_orders)],
    })

    per_order = rng.integers(1, 8, size=n_orders)
    n_li = int(per_order.sum())
    orderkey = np.repeat(np.arange(n_orders), per_order)
    linenumber = np.concatenate([np.arange(1, k + 1) for k in per_order])
    # a fifth of the line items come from three hot suppliers
    suppkey = np.where(rng.random(n_li) < 0.2, rng.integers(0, 3, n_li),
                       rng.integers(0, n_supp, n_li))
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(orderkey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, 2000, n_li), pa.int64()),
        "l_suppkey": pa.array(suppkey, pa.int64()),
        "l_linenumber": pa.array(linenumber, pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype("float64"),
        "l_extendedprice": np.round(rng.uniform(900, 100000, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(rng, n_li, "1995-01-02", 2498),
    })

    text = _sentences(rng, n_docs)
    # 10 % near-duplicates: a copy of an earlier document with one word
    # replaced, so the dedup and split queries find real clusters
    for i in rng.choice(np.arange(1, n_docs), n_docs // 10, replace=False):
        words = text[int(rng.integers(0, i))].split()
        words[int(rng.integers(0, len(words)))] = _WORDS[
            int(rng.integers(0, len(_WORDS)))]
        text[i] = " ".join(words)
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": text,
        "lang": np.array(_LANGS)[rng.integers(0, len(_LANGS), n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(s) for s in text], pa.int64()),
    })

    centres = rng.normal(size=(10, 64))
    label = rng.integers(0, 10, n_vecs)
    vec = centres[label] + rng.normal(scale=1.5, size=(n_vecs, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype("f4")
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    })

    os.makedirs(out_dir, exist_ok=True)
    for name, table in t.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: table.num_rows for name, table in t.items()}
