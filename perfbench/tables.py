"""Seeded synthetic tables for the ``headline_queries`` workload.

The headline queries read five tables: ``lineitem``, ``orders``, ``events``,
``documents`` and ``embeddings``.  This module writes them as parquet with
the schema and value ranges of the repository's sf0.01 test tables, so every
oracle computed from the tables stays exact (distinct part keys stay below
the theta sketch's k, users below the KMV k, documents far apart except for
the planted near-duplicates).

Every table is a pure function of the seed: ``numpy.random.default_rng``
streams keyed by ``[seed, table tag]``.
"""

from __future__ import annotations

import hashlib
from pathlib import Path

import numpy as np
import pandas as pd

N_ORDERS = 3_000
N_LINEITEM = 12_000
N_CUSTOMERS = 1_500
N_PARTS = 2_000
N_SUPPLIERS = 100
N_EVENTS = 2_000
N_USERS = 150
N_DOCS = 100
N_VECS = 200
EMBED_DIM = 64
N_LABELS = 10

TABLES = ("lineitem", "orders", "events", "documents", "embeddings")

VOCAB = (
    "a the data table row column key value hash join sort merge filter group "
    "agg scan window stream batch query spark vector part customer order line "
    "small big fast slow"
).split()
LANGS = ("en", "zh", "es", "de", "fr")
LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)
EVENT_TYPES = ("view", "click", "purchase", "signup", "error")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")


def _rng(seed: int, tag: int) -> np.random.Generator:
    return np.random.default_rng([seed, tag])


def _days(base: str, offsets: np.ndarray) -> pd.Series:
    return pd.Series(
        (np.datetime64(base, "D") + offsets.astype("timedelta64[D]")).astype(
            "datetime64[us]"
        )
    )


def orders(seed: int) -> pd.DataFrame:
    r = _rng(seed, 1)
    n = N_ORDERS
    return pd.DataFrame(
        {
            "o_orderkey": np.arange(n, dtype=np.int64),
            "o_custkey": r.integers(0, N_CUSTOMERS, n, dtype=np.int64),
            "o_orderstatus": r.choice(["F", "O", "P"], n),
            "o_totalprice": np.round(r.uniform(1_000.0, 500_000.0, n), 2),
            "o_orderdate": _days("1995-01-01", r.integers(0, 2_404, n)),
            "o_orderpriority": r.choice(PRIORITIES, n),
        }
    )


def lineitem(seed: int) -> pd.DataFrame:
    r = _rng(seed, 2)
    n = N_LINEITEM
    qty = r.integers(1, 51, n).astype(np.float64)
    return pd.DataFrame(
        {
            "l_orderkey": r.integers(0, N_ORDERS, n, dtype=np.int64),
            "l_partkey": r.integers(0, N_PARTS, n, dtype=np.int64),
            "l_suppkey": r.integers(0, N_SUPPLIERS, n, dtype=np.int64),
            "l_linenumber": r.integers(1, 8, n).astype(np.int32),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * r.uniform(900.0, 2_100.0, n), 2),
            "l_discount": r.integers(0, 11, n) / 100.0,
            "l_tax": r.integers(0, 9, n) / 100.0,
            "l_returnflag": r.choice(["R", "A", "N"], n),
            "l_linestatus": r.choice(["O", "F"], n),
            "l_shipdate": _days("1995-01-02", r.integers(0, 2_498, n)),
        }
    )


def events(seed: int) -> pd.DataFrame:
    r = _rng(seed, 3)
    n = N_EVENTS
    span_us = 30 * 86_400 * 1_000_000
    ts_us = np.sort(r.integers(0, span_us, n))
    return pd.DataFrame(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": pd.Series(np.datetime64("2024-01-01", "us") + ts_us.astype("timedelta64[us]")),
            "user_id": r.integers(0, N_USERS, n, dtype=np.int64),
            "event_type": r.choice(EVENT_TYPES, n),
            "value": np.round(r.uniform(0.0, 100.0, n), 2),
            "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n)],
        }
    )


def documents(seed: int) -> pd.DataFrame:
    """Random word sequences over a 30-word vocabulary, plus planted dups:
    ~5% near-duplicates (an earlier document with one word appended, as in
    the repository's test tables) and ~2% exact duplicates that differ only
    in case and spacing."""
    r = _rng(seed, 4)
    texts: list[str] = []
    for i in range(N_DOCS):
        kind = r.random()
        long_earlier = [j for j in range(i) if len(texts[j].split()) >= 40]
        if kind < 0.05 and long_earlier:
            texts.append(texts[long_earlier[int(r.integers(len(long_earlier)))]] + " dup")
        elif kind < 0.07 and i > 0:
            src = texts[int(r.integers(i))]
            texts.append(" " + src.capitalize().replace(" ", "  ", 1))
        else:
            n_words = int(r.integers(10, 100))
            texts.append(" ".join(VOCAB[k] for k in r.integers(0, len(VOCAB), n_words)))
    return pd.DataFrame(
        {
            "doc_id": np.arange(N_DOCS, dtype=np.int64),
            "text": texts,
            "lang": r.choice(LANGS, N_DOCS, p=LANG_P),
            "source": [f"src{i % 20}" for i in range(N_DOCS)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def embeddings(seed: int) -> pd.DataFrame:
    r = _rng(seed, 5)
    centers = r.normal(size=(N_LABELS, EMBED_DIM))
    labels = r.integers(0, N_LABELS, N_VECS)
    vecs = centers[labels] + r.normal(scale=1.5, size=(N_VECS, EMBED_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pd.DataFrame(
        {
            "vec_id": np.arange(N_VECS, dtype=np.int64),
            "embedding": list(vecs.astype(np.float32)),
            "label": labels.astype(np.int32),
        }
    )


BUILDERS = {
    "lineitem": lineitem,
    "orders": orders,
    "events": events,
    "documents": documents,
    "embeddings": embeddings,
}


def build(seed: int) -> dict[str, pd.DataFrame]:
    return {name: BUILDERS[name](seed) for name in TABLES}


def fingerprint(tables: dict[str, pd.DataFrame]) -> dict:
    """Row counts and one content hash over every table."""
    h = hashlib.sha256()
    for name in TABLES:
        df = tables[name]
        h.update(name.encode())
        cols = {
            c: (df[c].map(lambda v: np.asarray(v).tobytes()) if c == "embedding" else df[c])
            for c in df.columns
        }
        h.update(pd.util.hash_pandas_object(pd.DataFrame(cols), index=False).values.tobytes())
    return {
        "rows": {name: len(tables[name]) for name in TABLES},
        "content_sha256": h.hexdigest()[:16],
    }


def write(tables: dict[str, pd.DataFrame], out_dir: Path) -> None:
    out_dir.mkdir(parents=True, exist_ok=True)
    for name, df in tables.items():
        df.to_parquet(out_dir / f"{name}.parquet", index=False)
