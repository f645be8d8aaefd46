"""Seeded input tables for the benchmark, in the corpus's parquet layout.

The engine reads ``<sf_dir>/<table>.parquet``. These generators write
the two tables the benchmark's workloads read, with the schemas and
value shapes of the corpus described in TESTDATA.md and FIXTURES.md
(section 2):

- ``events``: ticks in event-time order over 30 days, uniform keys,
  exponential prices, a JSON ``props`` quantity;
- ``documents``: texts over a 30-word vocabulary, with ~5% near
  duplicates (an earlier text plus a ``dup`` token) and a few exact
  copies, as in the corpus.

The same seed always writes the same bytes.
"""

from __future__ import annotations

from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.145, 0.145]


def events(rng: np.random.Generator, n: int, users: int) -> pa.Table:
    start = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    span = 30 * 86400 * 10**6
    ts = np.sort(start + rng.integers(0, span, n))
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, users, n, dtype=np.int64)),
            "event_type": pa.array(
                [EVENT_TYPES[i] for i in rng.integers(0, 5, n)]
            ),
            "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
            "props": pa.array(
                [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]
            ),
        }
    )


def documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i and r < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i and r < 0.053:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), k)))
    ids = np.arange(n, dtype=np.int64)
    return pa.table(
        {
            "doc_id": pa.array(ids),
            "text": pa.array(texts),
            "lang": pa.array([LANGS[i] for i in rng.choice(5, n, p=LANG_P)]),
            "source": pa.array([f"src{i % 20}" for i in ids]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def write_tables(sf_dir: Path, seed: int, tables: dict[str, dict]) -> None:
    """Write each named table with its size arguments, e.g.
    ``{"events": {"n": 1000, "users": 15}}``; one child generator per
    table keeps a table's bytes independent of which others are asked."""
    sf_dir.mkdir(parents=True, exist_ok=True)
    makers = {"events": events, "documents": documents}
    for name, size in tables.items():
        rng = np.random.default_rng([seed, list(makers).index(name)])
        pq.write_table(makers[name](rng, **size), sf_dir / f"{name}.parquet")
