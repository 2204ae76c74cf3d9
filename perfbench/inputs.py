"""Seeded input tables for the benchmark workloads.

Every table is generated from ``--seed`` alone, so the same seed always
gives the same files, and the program only ever sees the directory
they are written to (its ``sf_dir``). Schemas follow the engine's
catalog contract (``sources/catalog.CANONICAL_TYPES``). Row counts,
value ranges and the document corpus's shape are the ones measured on
the reference test tables (README.md, "Inputs"); the seed draws the
values and permutes the row order of every table.

- ``customer`` / ``orders`` feed the patient and ROI sync plans.
- ``documents`` are 10-100 words drawn uniformly from a 30-word
  vocabulary. ``NEAR_DUP_RATE`` of them re-deliver an earlier document
  (possibly itself a re-delivery) with the marker word ``dup``
  appended, as in the reference corpus, whose near-duplicate pairs
  have word 3-gram Jaccard 0.8-1.0, nearly all above 0.9.
- ``embeddings`` are 64-dim float32 unit vectors.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Row counts. ``full`` are the reference tables' sf0.01 counts (README.md
#: says why not sf0.1); ``small`` serves the self-test. Some registry
#: keys filter on vec_id < 200, so embeddings never go below that.
SIZES = {
    "full": {"customer": 1500, "orders": 15000, "documents": 500, "embeddings": 500},
    "small": {"customer": 150, "orders": 1500, "documents": 200, "embeddings": 300},
}

TABLE_IDS = {"customer": 1, "orders": 2, "documents": 3, "embeddings": 4}

#: share of documents that re-deliver an earlier one (reference: 23 of
#: 500 at sf0.01 and about 240 of 5000 at sf0.1)
NEAR_DUP_RATE = 0.048
DUP_MARKER = "dup"
WORDS_PER_DOC = (10, 100)
EMBED_DIM = 64

ORDER_DATES = (dt.date(1995, 1, 1), dt.date(2001, 8, 1))
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_WEIGHTS = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
N_SOURCES = 20
VOCAB = (
    "a the key agg row scan slow fast table value part hash merge batch spark "
    "line sort window order data column join small customer query big stream "
    "group filter vector"
).split()


def _write(out_dir: str, name: str, table: pa.Table, rng: np.random.Generator) -> None:
    order = rng.permutation(table.num_rows)
    pq.write_table(table.take(pa.array(order)), os.path.join(out_dir, f"{name}.parquet"))


def _customer(rng, n):
    keys = np.arange(n, dtype=np.int64)
    return pa.table(
        {
            "c_custkey": keys,
            "c_name": [f"Customer#{k:09d}" for k in keys],
            "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n), 2),
            "c_mktsegment": rng.choice(SEGMENTS, n),
        }
    )


def _orders(rng, n, n_customers):
    first, last = ORDER_DATES
    days = rng.integers(0, (last - first).days + 1, n)
    start = dt.datetime.combine(first, dt.time())
    return pa.table(
        {
            "o_orderkey": np.arange(n, dtype=np.int64),
            "o_custkey": rng.integers(0, n_customers, n).astype(np.int64),
            "o_orderstatus": rng.choice(["F", "O", "P"], n),
            "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n), 2),
            "o_orderdate": pa.array(
                [start + dt.timedelta(days=int(d)) for d in days], pa.timestamp("us")
            ),
            "o_orderpriority": rng.choice(PRIORITIES, n),
        }
    )


def _documents(rng, n):
    lo, hi = WORDS_PER_DOC
    texts: list[str] = []
    for i in range(n):
        if i > 0 and rng.random() < NEAR_DUP_RATE:
            text = f"{texts[int(rng.integers(0, i))]} {DUP_MARKER}"
        else:
            n_words = int(rng.integers(lo, hi + 1))
            text = " ".join(VOCAB[int(w)] for w in rng.integers(0, len(VOCAB), n_words))
        texts.append(text)
    return pa.table(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(LANGS, n, p=LANG_WEIGHTS),
            "source": [f"src{i % N_SOURCES}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def _embeddings(rng, n):
    vecs = rng.standard_normal((n, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n), pa.int32()),
        }
    )


def generate(out_dir: str, seed: int, scale: str, tables: tuple[str, ...]) -> None:
    """Write the named tables for ``seed`` under ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    size = SIZES[scale]
    builders = {
        "customer": lambda r: _customer(r, size["customer"]),
        "orders": lambda r: _orders(r, size["orders"], size["customer"]),
        "documents": lambda r: _documents(r, size["documents"]),
        "embeddings": lambda r: _embeddings(r, size["embeddings"]),
    }
    for name in tables:
        # one stream per table, so a workload that adds a table does
        # not change the values of the others
        rng = np.random.default_rng([seed, TABLE_IDS[name]])
        _write(out_dir, name, builders[name](rng), rng)
