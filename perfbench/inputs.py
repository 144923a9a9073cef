"""Seeded input generators.

Every table is written with the physical schema of the engine's sf0.1
fixture tables (same column names, types and value ranges), so the
registry queries and their DuckDB twins run on it unchanged. The same
seed always gives byte-identical tables.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ["signup", "purchase", "view", "click", "error"]
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]

EVENTS_SCHEMA = pa.schema(
    [
        ("event_id", pa.int64()),
        ("ts", pa.timestamp("us")),
        ("user_id", pa.int64()),
        ("event_type", pa.string()),
        ("value", pa.float64()),
        ("props", pa.string()),
    ]
)
DOCS_SCHEMA = pa.schema(
    [
        ("doc_id", pa.int64()),
        ("text", pa.string()),
        ("lang", pa.string()),
        ("source", pa.string()),
        ("n_chars", pa.int64()),
    ]
)


def events(rng: np.random.Generator, n: int, first_id: int = 0) -> pd.DataFrame:
    """The ``events`` table: monotone timestamps (exponential gaps,
    mean 26 s, from 2024-01-01), 1,500 users, five uniform types,
    skewed values with two decimals and a ``{"k": 0..99}`` props blob."""
    gaps = rng.exponential(26e6, n).astype(np.int64)
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(gaps).astype("timedelta64[us]")
    return pd.DataFrame(
        {
            "event_id": np.arange(first_id, first_id + n, dtype=np.int64),
            "ts": ts,
            "user_id": rng.integers(0, 1500, n, dtype=np.int64),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n)],
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )


def documents(
    rng: np.random.Generator, n: int, near_dup_share: float = 0.0, exact_dup_share: float = 0.0
) -> tuple[pd.DataFrame, list[tuple[int, int]], list[tuple[int, int]]]:
    """The ``documents`` table: 10-100 words drawn from the fixture's
    30-word vocabulary. A seeded share of rows is replaced by a planted
    near-duplicate of an earlier row (its text plus one appended word;
    word 3-shingle Jaccard >= 0.89) and another share by an exact copy.
    Returns the table and the planted (original, copy) id pairs."""
    lengths = rng.integers(10, 101, n)
    words = np.array(VOCAB)[rng.integers(0, len(VOCAB), int(lengths.sum()))]
    cuts = np.cumsum(lengths)[:-1]
    texts = [" ".join(w) for w in np.split(words, cuts)]
    role = rng.random(n)
    planted = role < near_dup_share + exact_dup_share
    planted[0] = False
    near, exact = [], []
    for i in np.flatnonzero(planted):
        # copies are taken from unplanted rows only: every duplicate
        # cluster is a star, so the dedup's label-propagation rounds do
        # not depend on how long copy-of-copy chains happen to get
        src = int(rng.choice(np.flatnonzero(~planted[:i])))
        if role[i] < near_dup_share:
            texts[i] = texts[src] + " dup"
            near.append((src, int(i)))
        else:
            texts[i] = texts[src]
            exact.append((src, int(i)))
    df = pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": np.array(LANGS)[rng.choice(5, n, p=LANG_P)],
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    return df, near, exact


def write(table: pd.DataFrame | pa.Table, path: str, schema: pa.Schema | None = None) -> None:
    if isinstance(table, pd.DataFrame):
        table = pa.Table.from_pandas(table, schema=schema, preserve_index=False)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
