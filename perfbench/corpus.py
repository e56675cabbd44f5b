"""Seeded parquet corpus for the registry workload.

Writes the three testdata tables the benchmarked registry queries read
(``documents``, ``lineitem``, ``orders``) with the schemas, value
distributions and row counts per ``sf`` of ``scripts/gen_testdata.py``
(sf=0.1: 5,000 documents, 150,000 orders, 600,000 lineitems): word-soup
documents of 10-79 words over the same 33-word vocabulary with an
en-heavy language tag, and a TPC-H-like order/lineitem pair whose
``(o_custkey, l_partkey, l_quantity)`` join is the registry's ratings
analog. The constants are copied rather than imported so that a change
to that script cannot change the benchmark's inputs; the script itself
is not reused because its seed and output directory are fixed.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("documents", "lineitem", "orders")

WORDS = (
    "spark line column order small sort fast value scan batch part "
    "vector query agg table hash slow filter customer stream key group "
    "join shuffle broadcast window rank merge cache plan stage task row"
).split()
LANGS = ("en", "en", "en", "en", "es", "de", "fr", "zh")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
DAY = np.timedelta64(1, "D")


def write_corpus(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write ``<table>.parquet`` for each of :data:`TABLES`; return row counts."""
    rng = np.random.default_rng(seed)
    n_doc, n_ord, n_li = int(50_000 * sf), int(1_500_000 * sf), int(6_000_000 * sf)
    n_cust, n_part, n_supp = int(150_000 * sf), int(200_000 * sf), int(10_000 * sf)
    os.makedirs(out_dir, exist_ok=True)

    n_words = rng.integers(10, 80, n_doc)
    word_ids = rng.integers(0, len(WORDS), int(n_words.sum()))
    cuts = np.cumsum(n_words)[:-1]
    texts = [" ".join(WORDS[i] for i in ids) for ids in np.split(word_ids, cuts)]
    documents = pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), n_doc)],
        "source": [f"src{i}" for i in rng.integers(0, 20, n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })

    odate = np.datetime64("1995-01-01") + rng.integers(0, 2404, n_ord) * DAY
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": [("O", "F", "P")[i] for i in rng.choice(3, n_ord, p=[0.49, 0.49, 0.02])],
        "o_totalprice": np.round(rng.uniform(1000, 450000, n_ord), 2),
        "o_orderdate": pa.array(odate, pa.timestamp("us")),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)],
    })

    lkey = rng.integers(0, n_ord, n_li)
    lineitem = pa.table({
        "l_orderkey": pa.array(lkey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(1000, 105000, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_li)],
        "l_linestatus": [("O", "F")[i] for i in rng.integers(0, 2, n_li)],
        "l_shipdate": pa.array(odate[lkey] + rng.integers(1, 122, n_li) * DAY, pa.timestamp("us")),
    })

    tables = {"documents": documents, "lineitem": lineitem, "orders": orders}
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: table.num_rows for name, table in tables.items()}
