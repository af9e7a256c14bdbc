"""Deterministic synthetic input tables for the benchmark.

The package's ODM derivations read ``customer``, ``orders`` and
``lineitem`` parquet tables from a directory, its curation operators
``documents`` and ``embeddings``.  The benchmark writes its own, shaped
like the repository's synthetic test data (same columns and types, same
row counts per scale factor), so it needs nothing outside its checkout.
Table contents depend only on the scale factor: the ``--seed`` of a run
changes the order and mix of requests, never the data, so the golden
digests in ``golden.json`` stay valid for every seed.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

DATA_SEED = 42

SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")


def _days(rng: np.random.RandomState, n: int, lo: str, hi: str) -> np.ndarray:
    lo_d, hi_d = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    off = rng.randint(0, int((hi_d - lo_d).astype(int)), size=n)
    return (lo_d + off).astype("datetime64[us]")


def _tpch(rng: np.random.RandomState, sf: float) -> dict[str, pd.DataFrame]:
    n_cust, n_ord, n_li = int(150_000 * sf), int(1_500_000 * sf), int(6_000_000 * sf)
    customer = pd.DataFrame({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.randint(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": np.array(SEGMENTS)[rng.randint(0, 5, n_cust)],
    })
    orders = pd.DataFrame({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.randint(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.randint(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(900.0, 500_000.0, n_ord), 2),
        "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-12-31"),
        "o_orderpriority": np.array(PRIORITIES)[rng.randint(0, 5, n_ord)],
    })
    lineitem = pd.DataFrame({
        "l_orderkey": rng.randint(0, n_ord, n_li).astype(np.int64),
        "l_partkey": rng.randint(0, max(1, int(200_000 * sf)), n_li).astype(np.int64),
        "l_suppkey": rng.randint(0, max(1, int(10_000 * sf)), n_li).astype(np.int64),
        "l_linenumber": rng.randint(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.randint(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105_000.0, n_li), 2),
        "l_discount": rng.randint(0, 11, n_li) / 100.0,
        "l_tax": rng.randint(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.randint(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.randint(0, 2, n_li)],
        "l_shipdate": _days(rng, n_li, "1995-01-02", "2001-11-04"),
    })
    return {"customer": customer, "orders": orders, "lineitem": lineitem}


WORDS = ("join hash row batch scan column customer filter small slow merge order vector line "
         "table data agg value key stream window a spark part group big sort query fast the").split()
LANGS = ("en", "es", "de", "fr", "zh")


def _corpus(rng: np.random.RandomState, n_docs: int) -> dict[str, pd.DataFrame]:
    """``n_docs`` documents over a small vocabulary, one in ten a copy
    of an earlier document with one word changed (near duplicates for
    the dedup operators), and as many 64-dim embeddings around ten
    label centers."""
    texts = []
    for i in range(n_docs):
        if i >= 10 and rng.rand() < 0.1:
            words = texts[rng.randint(0, i)].split()
            words[rng.randint(0, len(words))] = WORDS[rng.randint(0, len(WORDS))]
        else:
            words = [WORDS[j] for j in rng.randint(0, len(WORDS), rng.randint(8, 90))]
        texts.append(" ".join(words))
    documents = pd.DataFrame({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.randint(0, len(LANGS), n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    centers = rng.normal(0.0, 0.2, (10, 64))
    label = rng.randint(0, 10, n_docs).astype(np.int32)
    vecs = (centers[label] + rng.normal(0.0, 0.05, (n_docs, 64))).astype(np.float32)
    embeddings = pd.DataFrame({"vec_id": np.arange(n_docs, dtype=np.int64),
                               "embedding": list(vecs), "label": label})
    return {"documents": documents, "embeddings": embeddings}


def write_tables(out_dir: str, sf: float, n_docs: int = 0) -> dict[str, int]:
    """Write the customer, orders and lineitem tables at ``sf`` (and,
    with ``n_docs``, the documents and embeddings tables) to
    ``out_dir``; returns the row count of each table."""
    rng = np.random.RandomState(DATA_SEED)
    tables = _tpch(rng, sf)
    if n_docs:
        tables.update(_corpus(rng, n_docs))
    os.makedirs(out_dir, exist_ok=True)
    for name, df in tables.items():
        df.to_parquet(os.path.join(out_dir, f"{name}.parquet"), index=False)
    return {name: len(df) for name, df in tables.items()}
