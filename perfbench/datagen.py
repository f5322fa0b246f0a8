"""Seeded ``events`` and ``documents`` parquet tables for ``registry_mix``.

Same schemas and roughly the same value distributions as the registry's
usual input tables: 150 users, 5 event types, ~260 s mean inter-arrival,
a 31-word vocabulary, 10-99 words per document, and about a tenth of the
documents re-using a passage of an earlier one, so the dedup rows find work.
"""

from __future__ import annotations

from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key line merge "
    "order part query row scan slow small sort spark stream table the value vector window"
).split()
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.15, 0.145, 0.14, 0.125]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]


def events(rng: np.random.Generator, n: int) -> pa.Table:
    gaps = rng.exponential(260.0, n)
    ts0 = np.datetime64("2024-01-01T00:00:00", "us")
    ts = ts0 + (np.cumsum(gaps) * 1e6).astype("timedelta64[us]")
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 150, n, dtype=np.int64)),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n)),
        "value": pa.array(np.round(rng.lognormal(3.5, 1.0, n), 2) + 0.01),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        words = list(rng.choice(VOCAB, int(rng.integers(10, 100))))
        if i > 10 and rng.random() < 0.1:
            donor = texts[int(rng.integers(0, i))].split()
            cut = int(rng.integers(len(donor) // 2, len(donor) + 1))
            words = donor[:cut] + ["dup"] + words[: max(0, 100 - cut - 1)]
        texts.append(" ".join(words))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def write_tables(out_dir: Path, seed: int, n_events: int, n_docs: int) -> Path:
    """Write ``events.parquet`` and ``documents.parquet`` once per
    (seed, size) under ``out_dir`` and return the directory."""
    d = out_dir / f"seed{seed}_e{n_events}_d{n_docs}"
    if not (d / "documents.parquet").exists():
        d.mkdir(parents=True, exist_ok=True)
        rng = np.random.default_rng(seed)
        pq.write_table(events(rng, n_events), d / "events.parquet")
        tmp = d / "documents.parquet.tmp"
        pq.write_table(documents(rng, n_docs), tmp)
        tmp.rename(d / "documents.parquet")
    return d
