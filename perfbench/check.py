"""Output checks: order-insensitive fingerprints of a result frame.

Both engines' results go through the same pandas normalisation as the
repository's driver-emulation replay (sorted column names, floats rounded
to 6 decimals, every value rendered as a string), then each row is hashed
and the row hashes are summed, so row order does not matter and a
duplicated or missing row does.
"""

from __future__ import annotations

import numpy as np
import pandas as pd


def norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if str(df[c].dtype).startswith("float"):
            df[c] = df[c].round(6)
        df[c] = df[c].astype(str)
    return df


def fingerprint(df: pd.DataFrame) -> tuple:
    """``(columns, rows, sum of row hashes mod 2**64)``."""
    df = norm(df)
    rows = pd.util.hash_pandas_object(df, index=False).to_numpy(dtype=np.uint64)
    return tuple(df.columns), len(df), int(rows.sum(dtype=np.uint64))


#: distance in degrees under which a point counts as lying on a polygon
#: edge; the lattice the generated docs sit on is 1e-3 degrees apart
EDGE_TOL = 1e-9


def on_edges(lat, lon, edges, tol: float = EDGE_TOL) -> np.ndarray:
    """Mask of the points ``(lat, lon)`` within ``tol`` degrees of any of
    the segments ``(y1, x1, y2, x2)``.

    For such a point a ray cast in floating point has no single right
    answer: whether the crossing of that edge counts turns on the last
    bits of the coordinates and on the order the engine rounds in.
    """
    p = np.stack([np.asarray(lat, float), np.asarray(lon, float)], axis=1)[:, None, :]
    e = np.asarray(edges, dtype=float)
    a, ab = e[:, :2], e[:, 2:] - e[:, :2]
    t = np.clip(((p - a) * ab).sum(-1) / (ab * ab).sum(-1), 0.0, 1.0)
    dist = np.linalg.norm(p - (a + t[..., None] * ab), axis=-1)
    return (dist < tol).any(axis=1)
