"""Output checks, run outside every timed region."""

from __future__ import annotations

import math

import numpy as np
import pandas as pd


def _canon(v):
    if v is None:
        return None
    if isinstance(v, float):
        return None if math.isnan(v) else v
    if isinstance(v, pd.Timestamp):
        return v.to_datetime64().astype("datetime64[us]").astype("int64").item()
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(_canon(x) for x in v)
    if isinstance(v, np.generic):
        return _canon(v.item())
    return v


def _close(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        # the engines sum in different orders, so a value rounded to 2
        # or 6 places can differ in its last digit: one part in a million
        return abs(a - b) <= 1e-6 * max(1.0, abs(a), abs(b))
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_close(x, y) for x, y in zip(a, b))
    return a == b


def frames_match(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """Order-insensitive value equality of two result frames (same
    column names); → None or a description of the first mismatch."""
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    if len(got) != len(want):
        return f"{len(got)} rows != {len(want)} rows"
    cols = sorted(got.columns)

    def key(x):
        # floats sort on a coarse grid so near-equal values pair up
        return (x is None, str(round(x, 4) if isinstance(x, float) else x))

    def rows(df):
        out = [tuple(_canon(v) for v in r) for r in df[cols].itertuples(index=False)]
        return sorted(out, key=lambda r: tuple(key(x) for x in r))

    for a, b in zip(rows(got), rows(want)):
        if not _close(a, b):
            return f"row {a!r} != {b!r}"
    return None
