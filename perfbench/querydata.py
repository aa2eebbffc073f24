"""Seeded synthetic tables for the query-mix workload.

Same names, columns and types as the star-schema test tables the query
entries are written against (lineitem, events, documents, embeddings), with
the value ranges and shapes the entries rely on: uniform keys, JSON
``props``, documents drawn from a small vocabulary with ~5% near-duplicates
(a copy plus a trailing token), and unit-norm 64-dimensional embeddings
clustered around ten labelled centres.

Prices, discounts and taxes are exact binary fractions (quarters and 64ths)
rather than TPC-H's two-decimal values. ``q1_pricing_summary`` rounds sums
of doubles to two decimals, and with two-decimal inputs that rounding
depends on the summation order, which differs between Spark and DuckDB
(one seed in five mismatched by 0.01). With exact fractions every sum is
exact, so the oracle comparison tests the query, not the addition order.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.15, 0.14, 0.14, 0.13]
EVENT_TYPES = ["signup", "error", "click", "view", "purchase"]
DIM = 64


def write_tables(out_dir: str, seed: int, n_docs: int) -> None:
    """Write the four parquet tables sized from ``n_docs`` (lineitem is
    120x, events 20x, embeddings 1x)."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    tables = {
        "lineitem": _lineitem(rng, 120 * n_docs),
        "events": _events(rng, 20 * n_docs),
        "documents": _documents(rng, n_docs),
        "embeddings": _embeddings(rng, n_docs),
    }
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))


def _days(rng, n: int, start: dt.datetime, span_days: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span_days, n).astype("timedelta64[D]").astype(
        "timedelta64[us]"
    )


def _lineitem(rng, n: int) -> pa.Table:
    n_orders = max(1, n // 4)
    qty = rng.integers(1, 51, n).astype(np.float64)
    unit = 900.0 + rng.integers(0, 400, n) * 0.25
    return pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_orders, n), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, max(1, n // 30), n), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, max(1, n // 600), n), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": qty * unit,
            "l_discount": rng.integers(0, 7, n) / 64.0,
            "l_tax": rng.integers(0, 6, n) / 64.0,
            "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n)),
            "l_linestatus": pa.array(rng.choice(["F", "O"], n)),
            "l_shipdate": pa.array(
                _days(rng, n, dt.datetime(1995, 1, 2), 2499), pa.timestamp("us")),
        }
    )


def _events(rng, n: int) -> pa.Table:
    base = np.datetime64(dt.datetime(2024, 1, 1), "us")
    ts = np.sort(base + rng.integers(0, 30 * 86400 * 10**6, n).astype("timedelta64[us]"))
    return pa.table(
        {
            "event_id": pa.array(np.arange(n), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, max(1, n // 66), n), pa.int64()),
            "event_type": pa.array(rng.choice(EVENT_TYPES, n)),
            "value": np.round(np.minimum(rng.exponential(50.0, n), 490.0) + 0.01, 2),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )


def _documents(rng, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(8, 90))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), k)))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts),
            "lang": pa.array(rng.choice(LANGS, n, p=LANG_P)),
            "source": pa.array([f"src{s}" for s in rng.integers(0, 20, n)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng, n: int) -> pa.Table:
    centres = rng.normal(size=(10, DIM))
    label = rng.integers(0, 10, n)
    v = centres[label] + rng.normal(scale=1.5, size=(n, DIM))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    v = v.astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(v), pa.list_(pa.float32())),
            "label": pa.array(label, pa.int32()),
        }
    )
