"""Seeded generator for the tables the `queries` workload reads.

Writes `nation customer orders lineitem documents embeddings` as parquet
with the column names, types and value ranges the nine bench queries in
`__spark_entry__.queries()` expect (the TPC-H-like star schema plus the
documents and embeddings tables). Row counts and value distributions follow
the fixed test tables: 6M lineitem rows, 1.5M orders and 150k customers per
unit of `sf`, 50k documents and 20k embeddings per unit with a floor of 500
each; keys drawn uniformly; documents over the same 30-word vocabulary, 5 %
of them a copy of another document with " dup" appended (the near-duplicate
pairs q12 finds). The same (sf, seed) always writes the same bytes.
"""

from __future__ import annotations

import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "spark window merge table column vector stream value data small query "
    "scan sort hash join part line order key group filter fast slow batch "
    "agg row customer the a big"
).split()
LANGS = ["en", "es", "zh", "de", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
NEAR_DUP = 0.05
_EPOCH = datetime(1970, 1, 1)
_DAY_US = 86_400 * 1_000_000


def _days(start: datetime, rng: np.random.Generator, n: int, span: int):
    base = (start - _EPOCH).days
    days = base + rng.integers(0, span, n)
    return pa.array(days * _DAY_US, type=pa.timestamp("us"))


def generate(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write every table under `out_dir`; returns row counts by table."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust = max(int(150_000 * sf), 50)
    n_ord = max(int(1_500_000 * sf), 100)
    n_li = max(int(6_000_000 * sf), 400)
    n_part = max(int(200_000 * sf), 100)
    n_doc = max(int(50_000 * sf), 500)
    n_emb = max(int(20_000 * sf), 500)

    nation = pa.table({
        "n_nationkey": pa.array(np.arange(25), type=pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, type=pa.int32()),
    })
    customer = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), type=pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "MACHINERY", "HOUSEHOLD"],
            n_cust,
        ),
    })
    orders = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["O", "F", "P"], n_ord),
        "o_totalprice": np.round(rng.uniform(900, 500_000, n_ord), 2),
        "o_orderdate": _days(datetime(1995, 1, 1), rng, n_ord, 2404),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
            n_ord,
        ),
    })
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    lineitem = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, max(n_part // 20, 10), n_li),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), type=pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2000, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["O", "F"], n_li),
        "l_shipdate": _days(datetime(1995, 1, 2), rng, n_li, 2498),
    })
    n_words = rng.integers(10, 101, n_doc)
    words = np.array(WORDS)
    texts = [" ".join(words[rng.integers(0, len(WORDS), k)]) for k in n_words]
    for i in rng.choice(n_doc, int(n_doc * NEAR_DUP), replace=False):
        j = (i + rng.integers(1, n_doc)) % n_doc
        texts[i] = texts[j] + " dup"
    documents = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n_doc, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    vecs = rng.normal(0.0, 1.0, (n_emb, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    embeddings = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), type=pa.int32()),
    })
    tables = {
        "nation": nation, "customer": customer, "orders": orders,
        "lineitem": lineitem, "documents": documents,
        "embeddings": embeddings,
    }
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
