"""Output checks: comparators and order-insensitive digests.

Every timed operation returns a small dict of observed outputs; it passes
when that dict equals the reference computed for the same seed by an
independent route (a plain box filter, the numpy water-map mirror, the
DuckDB oracle). References are cached as JSON under the work directory, so
a seed pays for its reference once, outside the timed and set-up regions.
"""

from __future__ import annotations

import json
from pathlib import Path

import numpy as np


def mismatches(got: dict, want: dict) -> list[str]:
    """One line per key of ``want`` whose value ``got`` does not repeat."""
    return [f"{k}: got {got.get(k)!r}, want {v!r}" for k, v in want.items() if got.get(k) != v]


def pixel_digest(rows: np.ndarray, cols: np.ndarray, ncols: int) -> dict:
    """Order-insensitive digest of a pixel set: count, sum and sum of
    squares of the flat pixel index ``row * ncols + col``."""
    idx = rows.astype(np.int64) * ncols + cols.astype(np.int64)
    return {"px": int(idx.size), "idx_sum": int(idx.sum()), "idx_sq_sum": int((idx * idx).sum())}


def cached(path: Path, compute) -> dict:
    """``compute()``'s JSON-able result, stored at ``path`` on first use."""
    if path.exists():
        return json.loads(path.read_text())
    value = compute()
    path.parent.mkdir(parents=True, exist_ok=True)
    tmp = path.with_suffix(".tmp")
    tmp.write_text(json.dumps(value, sort_keys=True))
    tmp.rename(path)
    return value
