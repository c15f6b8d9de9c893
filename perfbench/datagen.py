"""Seeded synthetic input tables for the benchmark.

Writes the ten tables the query registry reads (``lineitem``,
``orders``, ``customer``, ``supplier``, ``part``, ``nation``,
``region``, ``events``, ``documents``, ``embeddings``) as one parquet
file each, with the column names, types and value ranges of the
TPC-H-shaped fixtures the repo's tests use. Row counts follow a scale
factor: ``scale=0.01`` gives 60k lineitem rows, 500 documents and 10k
events.

Everything derives from ``numpy.random.default_rng([seed, table])``,
so one seed gives the same tables on every host.
"""

from __future__ import annotations

import datetime as dt
from pathlib import Path

import numpy as np
import pandas as pd

WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark line sort window order data column join small big customer "
    "query stream group filter vector"
).split()
COLORS = "red blue green small large steel copper ring bolt widget gear nut".split()
LANGS = ["en", "en", "en", "es", "fr", "zh", "de"]
EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "STANDARD", "SMALL", "MEDIUM", "LARGE", "PROMO"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def _days(rng, n: int, start: dt.datetime, span_days: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span_days, n).astype("timedelta64[D]")


def _documents(rng, n: int) -> pd.DataFrame:
    """Random word texts; every 10th document is a near-copy of an
    earlier one (a few words swapped), so the dedup operators find
    clusters."""
    texts: list[str] = []
    for i in range(n):
        if i >= 10 and i % 10 == 0:
            words = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(words), 2):
                words[j] = WORDS[int(rng.integers(0, len(WORDS)))]
        else:
            words = list(rng.choice(WORDS, int(rng.integers(10, 90))))
        texts.append(" ".join(words))
    return pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(LANGS, n),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def _embeddings(rng, n: int, dim: int = 64) -> pd.DataFrame:
    labels = rng.integers(0, 10, n).astype(np.int32)
    centers = rng.normal(0, 1, (10, dim))
    vecs = (centers[labels] + rng.normal(0, 1.5, (n, dim))).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pd.DataFrame(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": list(vecs),
            "label": labels,
        }
    )


def _sizes(scale: float) -> dict[str, int]:
    n_orders = int(1_500_000 * scale)
    return {
        "orders": n_orders,
        "lineitem": n_orders * 4,
        "customer": int(150_000 * scale),
        "part": max(int(200_000 * scale), 200),
        "supplier": max(int(10_000 * scale), 10),
        "events": int(1_000_000 * scale),
        "documents": max(int(50_000 * scale), 100),
    }


def _lineitem(rng, n: dict[str, int]) -> pd.DataFrame:
    k = n["lineitem"]
    return pd.DataFrame(
        {
            "l_orderkey": rng.integers(0, n["orders"], k),
            "l_partkey": rng.integers(0, n["part"], k),
            "l_suppkey": rng.integers(0, n["supplier"], k),
            "l_linenumber": rng.integers(1, 8, k).astype(np.int32),
            "l_quantity": rng.integers(1, 51, k).astype(np.float64),
            "l_extendedprice": np.round(rng.uniform(900, 100_000, k), 2),
            "l_discount": rng.integers(0, 11, k) / 100.0,
            "l_tax": rng.integers(0, 9, k) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], k),
            "l_linestatus": rng.choice(["O", "F"], k),
            "l_shipdate": _days(rng, k, dt.datetime(1995, 1, 2), 2500),
        }
    )


def _orders(rng, n: dict[str, int]) -> pd.DataFrame:
    k = n["orders"]
    return pd.DataFrame(
        {
            "o_orderkey": np.arange(k, dtype=np.int64),
            "o_custkey": rng.integers(0, n["customer"], k),
            "o_orderstatus": rng.choice(["F", "O", "P"], k),
            "o_totalprice": np.round(rng.uniform(1000, 500_000, k), 2),
            "o_orderdate": _days(rng, k, dt.datetime(1995, 1, 1), 2400),
            "o_orderpriority": rng.choice(PRIORITIES, k),
        }
    )


def _customer(rng, n: dict[str, int]) -> pd.DataFrame:
    k = n["customer"]
    return pd.DataFrame(
        {
            "c_custkey": np.arange(k, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(k)],
            "c_nationkey": rng.integers(0, 25, k).astype(np.int32),
            "c_acctbal": np.round(rng.uniform(-999, 9999, k), 2),
            "c_mktsegment": rng.choice(SEGMENTS, k),
        }
    )


def _supplier(rng, n: dict[str, int]) -> pd.DataFrame:
    k = n["supplier"]
    return pd.DataFrame(
        {
            "s_suppkey": np.arange(k, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(k)],
            "s_nationkey": rng.integers(0, 25, k).astype(np.int32),
            "s_acctbal": np.round(rng.uniform(-999, 9999, k), 2),
        }
    )


def _part(rng, n: dict[str, int]) -> pd.DataFrame:
    k = n["part"]
    names = zip(rng.choice(COLORS[:6], k), rng.choice(COLORS[6:], k))
    return pd.DataFrame(
        {
            "p_partkey": np.arange(k, dtype=np.int64),
            "p_name": [f"{a} {b}" for a, b in names],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, k)],
            "p_type": rng.choice(PART_TYPES, k),
            "p_size": rng.integers(1, 51, k).astype(np.int32),
            "p_retailprice": np.round(900 + np.arange(k) * 0.1, 2),
        }
    )


def _nation(rng, n: dict[str, int]) -> pd.DataFrame:
    return pd.DataFrame(
        {
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        }
    )


def _region(rng, n: dict[str, int]) -> pd.DataFrame:
    return pd.DataFrame({"r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS})


def _events(rng, n: dict[str, int]) -> pd.DataFrame:
    k = n["events"]
    gaps = rng.integers(1, 500_000_000, k).astype("timedelta64[us]")
    return pd.DataFrame(
        {
            "event_id": np.arange(k, dtype=np.int64),
            "ts": np.datetime64(dt.datetime(2024, 1, 1), "us") + np.cumsum(gaps),
            "user_id": rng.integers(0, max(k // 66, 10), k),
            "event_type": rng.choice(EVENT_TYPES, k),
            "value": np.round(rng.uniform(0.01, 490, k), 2),
            "props": [f'{{"k": {v}}}' for v in rng.integers(0, 100, k)],
        }
    )


TABLES = {
    "lineitem": _lineitem,
    "orders": _orders,
    "customer": _customer,
    "supplier": _supplier,
    "part": _part,
    "nation": _nation,
    "region": _region,
    "events": _events,
    "documents": lambda rng, n: _documents(rng, n["documents"]),
    "embeddings": lambda rng, n: _embeddings(rng, n["documents"]),
}


def write_tables(out: str | Path, seed: int, scale: float, names=None) -> Path:
    """Write the tables (all, or those in ``names``) to
    ``out/<name>.parquet``; returns ``out``. Each table has its own
    random stream, so a table does not depend on which others are
    written."""
    out = Path(out)
    out.mkdir(parents=True, exist_ok=True)
    sizes = _sizes(scale)
    for i, (name, make) in enumerate(TABLES.items()):
        if names is None or name in names:
            rng = np.random.default_rng([seed, i])
            make(rng, sizes).to_parquet(out / f"{name}.parquet", index=False)
    return out
