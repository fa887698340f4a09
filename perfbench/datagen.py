"""Seeded tables for the ``batch_headline`` workload.

Writes the five tables the headline queries and the two near-dup
riders read (events, orders, lineitem, documents, embeddings) in the
shape of the engine's sf0.1 testdata: same columns and physical
types, same row counts at ``sf=0.1``, and the same value domains
(uniform keys, a 31-word document vocabulary, unit-norm 64-d
embeddings). The same seed gives byte-identical files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table "
    "value vector window index cache shard"
).split()
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.14, 0.41, 0.15, 0.15, 0.15]

_DAY_US = 86_400_000_000
_EPOCH_1995_US = 788_918_400_000_000  # 1995-01-01T00:00:00Z
_EPOCH_2024_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.integers(int(lo * 100), int(hi * 100), n) / 100.0, 2)


def events(rng: np.random.Generator, sf: float) -> pa.Table:
    n = int(1_000_000 * sf)
    users = max(15, int(15_000 * sf))
    ts = _EPOCH_2024_US + np.sort(rng.integers(0, 30 * _DAY_US, n))
    value = np.round(rng.exponential(50.0, n), 2)
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype="int64")),
            "ts": _ts(ts),
            "user_id": pa.array(rng.integers(0, users, n).astype("int64")),
            "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n)]),
            "value": pa.array(value),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )


def orders(rng: np.random.Generator, sf: float) -> pa.Table:
    n = int(1_500_000 * sf)
    return pa.table(
        {
            "o_orderkey": pa.array(np.arange(n, dtype="int64")),
            "o_custkey": pa.array(rng.integers(0, int(150_000 * sf), n).astype("int64")),
            "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n)]),
            "o_totalprice": pa.array(_money(rng, 1000, 500_000, n)),
            "o_orderdate": _ts(_EPOCH_1995_US + rng.integers(0, 2404, n) * _DAY_US),
            "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, n)]),
        }
    )


def lineitem(rng: np.random.Generator, sf: float) -> pa.Table:
    n = int(6_000_000 * sf)
    return pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, int(1_500_000 * sf), n).astype("int64")),
            "l_partkey": pa.array(rng.integers(0, int(200_000 * sf), n).astype("int64")),
            "l_suppkey": pa.array(rng.integers(0, int(10_000 * sf), n).astype("int64")),
            "l_linenumber": pa.array(rng.integers(1, 8, n).astype("int32")),
            "l_quantity": pa.array(rng.integers(1, 51, n).astype("float64")),
            "l_extendedprice": pa.array(_money(rng, 900, 105_000, n)),
            "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
            "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n)]),
            "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n)]),
            "l_shipdate": _ts(_EPOCH_1995_US + rng.integers(0, 2499, n) * _DAY_US),
        }
    )


def documents(rng: np.random.Generator, sf: float) -> pa.Table:
    n = int(50_000 * sf)
    vocab = np.array(VOCAB)
    lengths = rng.integers(10, 101, n)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), k)]) for k in lengths]
    # a few verbatim copies, like re-posted documents
    for i in rng.choice(n, size=max(1, n // 600), replace=False):
        texts[i] = texts[int(rng.integers(0, n))]
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype="int64")),
            "text": pa.array(texts),
            "lang": pa.array(np.array(LANGS)[rng.choice(5, size=n, p=LANG_P)]),
            "source": pa.array([f"src{s}" for s in rng.integers(0, 20, n)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype="int64")),
        }
    )


def embeddings(rng: np.random.Generator, sf: float, dim: int = 64) -> pa.Table:
    n = int(20_000 * sf)
    labels = rng.integers(0, 10, n)
    centers = rng.normal(size=(10, dim))
    vecs = centers[labels] + rng.normal(scale=2.0, size=(n, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("float32")
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype="int64")),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": pa.array(labels.astype("int32")),
        }
    )


TABLES = {
    "events": events,
    "orders": orders,
    "lineitem": lineitem,
    "documents": documents,
    "embeddings": embeddings,
}


def write_tables(out_dir: str, seed: int, sf: float = 0.1) -> dict[str, int]:
    """Write every table as ``<out_dir>/<name>.parquet``; return row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for i, (name, make) in enumerate(TABLES.items()):
        # one stream per table, so a table's rows do not depend on the others
        table = make(np.random.default_rng([seed, i]), sf)
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = table.num_rows
    return rows
