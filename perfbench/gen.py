"""Seeded synthetic inputs shaped like the repo's star-schema corpus.

Each generator returns a ``pyarrow.Table`` whose schema matches the
corpus table of the same name (TESTDATA.md), with the same value
ranges and per-row-count ratios, so the registry queries and their
DuckDB oracles run unchanged on it. The same seed gives the same table.
``scale`` follows the corpus convention: ``scale=0.1`` is sf0.1
(150k orders, ~600k lineitems).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

_DAY_US = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
ORDER_DAYS = 2404  # 1995-01-01 .. 2001-08-01, the corpus's o_orderdate span
_WORDS = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()


def _ts(day_offsets: np.ndarray) -> pa.Array:
    return pa.array(_EPOCH_1995 + day_offsets.astype(np.int64) * _DAY_US, pa.timestamp("us"))


def _pick(rng: np.random.Generator, choices: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(choices, dtype=object)[rng.integers(0, len(choices), n)], pa.string())


def orders(seed: int, scale: float) -> pa.Table:
    rng = np.random.default_rng([seed, 1])
    n = int(1_500_000 * scale)
    return pa.table(
        {
            "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, max(n // 10, 1), n, dtype=np.int64)),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n),
            "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500_000.0, n), 2)),
            "o_orderdate": _ts(rng.integers(0, ORDER_DAYS, n)),
            "o_orderpriority": _pick(
                rng, ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n
            ),
        }
    )


def lineitem(seed: int, scale: float) -> pa.Table:
    rng = np.random.default_rng([seed, 2])
    n_orders = int(1_500_000 * scale)
    n = 4 * n_orders
    return pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_orders, n, dtype=np.int64)),
            "l_partkey": pa.array(rng.integers(0, max(int(200_000 * scale), 1), n, dtype=np.int64)),
            "l_suppkey": pa.array(rng.integers(0, max(int(10_000 * scale), 1), n, dtype=np.int64)),
            "l_linenumber": pa.array(rng.integers(1, 8, n, dtype=np.int32)),
            "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
            "l_extendedprice": pa.array(np.round(rng.uniform(900.0, 105_000.0, n), 2)),
            "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
            "l_returnflag": _pick(rng, ["A", "N", "R"], n),
            "l_linestatus": _pick(rng, ["F", "O"], n),
            "l_shipdate": _ts(rng.integers(1, ORDER_DAYS + 95, n)),
        }
    )


def events(seed: int, scale: float) -> pa.Table:
    rng = np.random.default_rng([seed, 3])
    n = int(1_000_000 * scale)
    start = np.datetime64("2024-01-01", "us").astype(np.int64)
    ts = np.sort(start + rng.integers(0, 30 * _DAY_US, n))
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, max(int(15_000 * scale), 1), n, dtype=np.int64)),
            "event_type": _pick(rng, ["click", "view", "signup", "error", "purchase"], n),
            "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)], pa.string()),
        }
    )


def embeddings(seed: int, scale: float, dim: int = 64, clusters: int = 10) -> pa.Table:
    rng = np.random.default_rng([seed, 4])
    n = int(20_000 * scale)
    centers = rng.normal(0.0, 0.07 / np.sqrt(dim), (clusters, dim))
    label = rng.integers(0, clusters, n)
    x = centers[label] + rng.normal(0.0, 1.0 / np.sqrt(dim), (n, dim))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    flat = pa.array(x.reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, (n + 1) * dim, dim, dtype=np.int32))
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.ListArray.from_arrays(offsets, flat),
            "label": pa.array(label.astype(np.int32)),
        }
    )


def documents(seed: int, scale: float) -> pa.Table:
    rng = np.random.default_rng([seed, 5])
    n = int(50_000 * scale)
    words = np.asarray(_WORDS, dtype=object)
    lengths = rng.integers(10, 101, n)
    text = [" ".join(words[rng.integers(0, len(words), k)]) for k in lengths]
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(text, pa.string()),
            "lang": pa.array(
                rng.choice(["en", "de", "fr", "es", "zh"], n, p=[0.4, 0.15, 0.15, 0.15, 0.15]),
                pa.string(),
            ),
            "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
            "n_chars": pa.array(np.fromiter((len(t) for t in text), np.int64, n)),
        }
    )


TABLES = {
    "orders": orders,
    "lineitem": lineitem,
    "events": events,
    "embeddings": embeddings,
    "documents": documents,
}
