"""Output check: order-insensitive content hashes of written artifacts.

Cells are canonicalized before hashing: numbers become floats rounded to
6 decimals (partitionings sum doubles in different orders), NULL and NaN
fold together, and timestamps hash as epoch microseconds.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq


def _column(col: pa.ChunkedArray) -> pd.Series:
    """One artifact column in hashable canonical form (vectorised)."""
    t = col.type
    if pa.types.is_floating(t) or pa.types.is_integer(t) or pa.types.is_decimal(t):
        x = pc.cast(col, pa.float64()).to_numpy(zero_copy_only=False)
        return pd.Series(np.where(np.isnan(x), np.inf, np.round(x, 6) + 0.0))
    if pa.types.is_timestamp(t) or pa.types.is_date(t):
        return pd.Series(pc.cast(pc.cast(col, pa.timestamp("us")), pa.int64())
                         .to_numpy(zero_copy_only=False))
    if pa.types.is_string(t) or pa.types.is_boolean(t):
        return pd.Series(col.to_numpy(zero_copy_only=False), dtype=object)
    return pd.Series([repr(v) for v in col.to_pylist()], dtype=object)


def content_hash(path: str) -> str:
    """``<rows>:<sha1>`` of a parquet artifact (a file or a Spark output
    directory), independent of row order and file layout."""
    t = pq.read_table(path)
    cols = sorted(t.column_names)
    frame = pd.DataFrame({c: _column(t.column(c)) for c in cols})
    rows = np.sort(pd.util.hash_pandas_object(frame, index=False).to_numpy())
    h = hashlib.sha1(repr([(c, str(t.schema.field(c).type)) for c in cols]).encode())
    h.update(rows.tobytes())
    return f"{t.num_rows}:{h.hexdigest()[:16]}"
