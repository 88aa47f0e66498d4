"""Input tables for the ``detector_suite`` workload.

The suite's queries read three tables of the TPC-H-ish fixture schema
(TESTDATA.md): ``events``, ``documents`` and ``embeddings``. They are generated here, not read
from a fixture directory, so the benchmark runs from a bare checkout. Shapes
and value distributions follow the sf0.01 fixture (10 000 events over 30 days,
500 documents with ~5 % near-duplicates, 500 unit-norm 64-d embeddings). The
tables depend only on ``DATA_SEED``: the reference digests in
``reference.json`` are computed from exactly these bytes.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

DATA_SEED = 42
N_EVENTS = 10_000
N_DOCS = 500
N_VECS = 500
EMB_DIM = 64
TABLES = ("events", "documents", "embeddings")

_EVENT_TYPES = np.array(["click", "view", "purchase", "signup", "error"])
_WORDS = np.array(
    "a the row column table key value hash join merge sort group agg filter scan"
    " batch stream window query data part line order customer spark vector big"
    " small fast slow".split()
)
_LANGS = np.array(["en", "de", "es", "fr", "zh"])
_LANG_P = np.array([0.44, 0.14, 0.14, 0.13, 0.15])


def events(rng: np.random.Generator) -> pd.DataFrame:
    gaps = rng.exponential(259.0, N_EVENTS)  # mean gap ≈ 30 days / 10 000
    ts = pd.Timestamp("2024-01-01") + pd.to_timedelta(np.cumsum(gaps), unit="s")
    return pd.DataFrame(
        {
            "event_id": np.arange(N_EVENTS, dtype=np.int64),
            "ts": ts.astype("datetime64[us]"),
            "user_id": rng.integers(0, 150, N_EVENTS).astype(np.int64),
            "event_type": rng.choice(_EVENT_TYPES, N_EVENTS),
            "value": np.round(rng.exponential(49.6, N_EVENTS), 2) + 0.01,
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)],
        }
    )


def documents(rng: np.random.Generator) -> pd.DataFrame:
    lengths = rng.integers(8, 90, N_DOCS)
    texts = [" ".join(rng.choice(_WORDS, n)) for n in lengths]
    # ~5 % near-duplicates: an earlier document plus a marker token
    for i in np.flatnonzero(rng.random(N_DOCS) < 0.05):
        if i:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
    return pd.DataFrame(
        {
            "doc_id": np.arange(N_DOCS, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(_LANGS, N_DOCS, p=_LANG_P),
            "source": [f"src{i % 20}" for i in range(N_DOCS)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def embeddings(rng: np.random.Generator) -> pd.DataFrame:
    label = rng.integers(0, 10, N_VECS).astype(np.int32)
    centers = rng.normal(0.0, 0.02, (10, EMB_DIM))
    x = rng.normal(0.0, 1.0 / np.sqrt(EMB_DIM), (N_VECS, EMB_DIM)) + centers[label]
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return pd.DataFrame(
        {"vec_id": np.arange(N_VECS, dtype=np.int64), "embedding": list(x), "label": label}
    )


def write_tables(out_dir: str) -> dict[str, int]:
    """Write the three tables as ``<out_dir>/<name>.parquet``; return row counts."""
    rng = np.random.default_rng(DATA_SEED)
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, make in (("events", events), ("documents", documents), ("embeddings", embeddings)):
        df = make(rng)
        df.to_parquet(os.path.join(out_dir, f"{name}.parquet"), index=False)
        counts[name] = len(df)
    return counts
