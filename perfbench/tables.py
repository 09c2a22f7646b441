"""Seeded star-schema + text tables for the query-leaf workload.

Same schemas as the TPC-H-ish testdata tables of TESTDATA.md (``documents``,
``embeddings``, ``lineitem``, ``orders``, ``customer``, ``nation``), written
as one parquet file each, so ``__spark_entry__.queries()`` and its DuckDB
oracles read them unchanged.  Row counts scale with ``sf`` as the testdata
does (sf 0.1: 5k documents, 2k embeddings, 150k orders, ~600k lineitems).

Properties the leaves depend on: a ~30-word document vocabulary
(``seg_wordcount``, ``keyphrases_top5``), 5% planted near-duplicate documents
(one ``dup`` word inserted into a copy; ``simhash_neardup``,
``minhash_clusters``, ``word_jaccard_pairs``), 20 sources, and clustered
unit-norm embeddings (``cosine_topk``).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = (("en", 0.41), ("zh", 0.15), ("es", 0.15), ("fr", 0.15), ("de", 0.14))
DUP_SHARE = 0.05
EMB_DIM = 64


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < DUP_SHARE:
            words = texts[int(rng.integers(0, i))].split(" ")
            words.insert(int(rng.integers(0, len(words) + 1)), "dup")
        else:
            words = [WORDS[j] for j in rng.integers(0, len(WORDS), int(rng.integers(10, 101)))]
        texts.append(" ".join(words))
    langs = rng.choice([l for l, _ in LANGS], size=n, p=[p for _, p in LANGS])
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs.tolist(), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    centers = rng.normal(size=(10, EMB_DIM))
    labels = rng.integers(0, 10, n)
    vecs = centers[labels] + rng.normal(scale=0.8, size=(n, EMB_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def _star(rng: np.random.Generator, n_orders: int, n_cust: int) -> dict[str, pa.Table]:
    nation = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    customer = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], pa.string()),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": pa.array(np.round(rng.uniform(-999, 9999, n_cust), 2), pa.float64()),
        "c_mktsegment": pa.array(
            rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust).tolist(),
            pa.string(),
        ),
    })
    day = np.datetime64("1992-01-01", "us")
    span_days = 2400
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_orders).tolist(), pa.string()),
        "o_totalprice": pa.array(np.round(rng.uniform(900, 500000, n_orders), 2), pa.float64()),
        "o_orderdate": pa.array(day + rng.integers(0, span_days, n_orders).astype("timedelta64[D]"), pa.timestamp("us")),
        "o_orderpriority": pa.array(
            rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_orders).tolist(),
            pa.string(),
        ),
    })
    lines = rng.integers(1, 8, n_orders)
    okey = np.repeat(np.arange(n_orders), lines)
    n_li = okey.size
    linenumber = np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    lineitem = pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, 20000, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, 1000, n_li), pa.int64()),
        "l_linenumber": pa.array(linenumber, pa.int32()),
        "l_quantity": pa.array(qty, pa.float64()),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2100, n_li), 2), pa.float64()),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0, pa.float64()),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0, pa.float64()),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_li).tolist(), pa.string()),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_li).tolist(), pa.string()),
        "l_shipdate": pa.array(day + rng.integers(0, span_days + 120, n_li).astype("timedelta64[D]"), pa.timestamp("us")),
    })
    return {"nation": nation, "customer": customer, "orders": orders, "lineitem": lineitem}


def generate(seed: int, sf: float) -> dict[str, pa.Table]:
    """All query tables at scale ``sf``, a pure function of ``seed``."""
    rng = np.random.default_rng([seed, 0x7AB1E5])
    tables = {
        "documents": _documents(rng, max(16, int(sf * 50_000))),
        "embeddings": _embeddings(rng, max(16, int(sf * 20_000))),
    }
    tables.update(_star(rng, max(16, int(sf * 1_500_000)), max(16, int(sf * 150_000))))
    return tables


def write(tables: dict[str, pa.Table], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
