"""Seeded inputs: the analytics corpus and the time-series store.

The same seed gives the same bytes. Nothing here touches Spark: the
corpus is written with pyarrow, and the store's base points are numpy
arrays that the serve workload writes as day files, compacts through
the engine and later uses as the expected values of every read.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DAY_NS = 86_400_000_000_000
MS_NS = 1_000_000
#: 2024-01-01T00:00:00Z, the first day of both the corpus events and
#: the store's base points
T0_NS = 1_704_067_200 * 1_000_000_000

# -- analytics corpus --------------------------------------------------------

#: the 31-word vocabulary of the sf-scale documents table
VOCAB = (
    "query row stream the spark line small fast group customer batch sort "
    "value hash filter big data dup part column order scan a slow agg key "
    "window table merge vector join"
).split()
LANGS = (("en", 0.41), ("zh", 0.15), ("fr", 0.15), ("es", 0.15), ("de", 0.14))
EVENT_TYPES = ("signup", "purchase", "view", "click", "error")


def _ts_us(ns: np.ndarray) -> pa.Array:
    return pa.array(ns // 1000, pa.timestamp("us"))


def _days_us(rng, n: int, first: str, last: str) -> pa.Array:
    lo = np.datetime64(first, "D").astype(np.int64)
    hi = np.datetime64(last, "D").astype(np.int64)
    days = rng.integers(lo, hi + 1, size=n)
    return pa.array(days * 86_400_000_000, pa.timestamp("us"))


def _tables(rng, sf: float) -> dict[str, pa.Table]:
    """The four tables the headline queries read."""
    n_li, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = int(50_000 * sf), max(500, int(20_000 * sf))
    n_ord, n_part, n_supp = int(1_500_000 * sf), int(200_000 * sf), int(10_000 * sf)
    t: dict[str, pa.Table] = {}
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105_000, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["O", "F"], n_li),
        "l_shipdate": _days_us(rng, n_li, "1995-01-02", "2001-11-04"),
    })
    ev_ns = np.sort(rng.integers(T0_NS, T0_NS + 30 * DAY_NS, n_ev))
    t["events"] = pa.table({
        "event_id": pa.array(range(n_ev), pa.int64()),
        "ts": _ts_us(ev_ns),
        "user_id": pa.array(rng.integers(0, max(1, int(15_000 * sf)), n_ev), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": np.minimum(np.round(rng.exponential(50.0, n_ev), 2), 560.0),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    words = np.array(VOCAB)
    texts = [
        " ".join(words[rng.integers(0, len(VOCAB), rng.integers(10, 101))])
        for _ in range(n_doc)
    ]
    # planted duplicates: 0.2% exact clones, 1% near clones (one word
    # in eight resampled), so both dedup families have work to find
    n_exact, n_near = max(1, n_doc // 500), max(1, n_doc // 100)
    src = rng.integers(0, n_doc - n_exact - n_near, n_exact + n_near)
    for k in range(n_exact):
        texts[n_doc - 1 - k] = texts[src[k]]
    for k in range(n_near):
        w = texts[src[n_exact + k]].split()
        for j in rng.integers(0, len(w), max(1, len(w) // 8)):
            w[j] = VOCAB[rng.integers(0, len(VOCAB))]
        texts[n_doc - 1 - n_exact - k] = " ".join(w)
    t["documents"] = pa.table({
        "doc_id": pa.array(range(n_doc), pa.int64()),
        "text": texts,
        "lang": rng.choice([l for l, _ in LANGS], n_doc, p=[p for _, p in LANGS]),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64()),
    })
    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(range(n_emb), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
    })
    return t


def write_corpus(seed: int, out_dir: str, sf: float) -> int:
    """Write the corpus tables as ``<out_dir>/<table>.parquet`` with the
    schemas of the sf testdata; returns the total row count."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    rows = 0
    for name, tbl in _tables(rng, sf).items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
        rows += tbl.num_rows
    return rows


# -- time-series store --------------------------------------------------------


@dataclass
class BasePoints:
    """Base points of one series: timestamps on the millisecond grid
    (written points never are), values with two decimals."""

    ts: np.ndarray  # int64 epoch ns, strictly increasing
    value: np.ndarray  # float64


def base_store(
    seed: int, n_series: int, points_per_series: int, days: int
) -> dict[str, BasePoints]:
    """``n_series`` series ``s0..`` spread evenly over ``days`` days from
    ``T0_NS``, each on its own seeded millisecond phase."""
    rng = np.random.default_rng([seed, 2])
    step_ms = days * DAY_NS // MS_NS // points_per_series
    out = {}
    for k in range(n_series):
        phase_ms = int(rng.integers(0, step_ms))
        ts = T0_NS + (phase_ms + step_ms * np.arange(points_per_series, dtype=np.int64)) * MS_NS
        value = rng.integers(0, 100_000, points_per_series) / 100.0
        out[f"s{k}"] = BasePoints(ts, value)
    return out
