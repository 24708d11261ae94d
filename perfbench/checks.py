"""Output checks: order-insensitive digests of batch results and the
converged-versus-batch comparison of the streaming join.

Digests reuse ``tests/oracle_utils.canonicalize``, the canonical form the
repo's DuckDB oracle tests compare under: columns sorted by name,
numerics as float64, timestamps as epoch micros, nulls as a sentinel,
rows sorted.
"""

from __future__ import annotations

import hashlib
import json

import pandas as pd

from tests.oracle_utils import canonicalize


def digest(pdf: pd.DataFrame) -> str:
    """sha256 over the canonical frame: column names, then each column's
    per-row value hashes in canonical row order."""
    canon = canonicalize(pdf)
    h = hashlib.sha256("|".join(canon.columns).encode())
    for c in canon.columns:
        h.update(pd.util.hash_pandas_object(canon[c], index=False).to_numpy().tobytes())
    return h.hexdigest()


def stream_pairs(converged: pd.DataFrame) -> list[tuple]:
    """Converged changelog rows -> sorted (x_id, x_ts, y_id, y_ts) tuples,
    with -1 for the outer-padded side (ids and timestamps are >= 0)."""

    def side(payload):
        if not isinstance(payload, str):
            return -1, -1
        rec = json.loads(payload)
        return int(rec["id"]), int(rec["ts"])

    return sorted(
        (*side(r.x_payload), *side(r.y_payload))
        for r in converged.itertuples(index=False)
    )


def batch_pairs(joined: pd.DataFrame) -> list[tuple]:
    """``join_full_outer`` output -> the same tuple form as ``stream_pairs``."""

    def opt(v):
        return -1 if pd.isna(v) else int(v)

    cols = ["x_id", "x_ts", "y_id", "y_ts"]
    return sorted(tuple(opt(v) for v in row) for row in joined[cols].itertuples(index=False))
