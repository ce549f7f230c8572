"""Order-insensitive digest of a query result, computed the same way from
a Spark result and from a DuckDB result (both as Arrow tables).

Columns are normalised before hashing so that the two engines' Arrow
types agree: every number (integer, float, decimal) hashes as a float64,
booleans as 0/1, timestamps as UTC microseconds, dates as days, and
nested values by their normalised text.  Rows hash with pandas' keyed
row hash; the digest is the row count plus the wrapping sum of row
hashes, so row order does not matter and duplicate rows still count.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc


def _column(arr: pa.ChunkedArray) -> pd.Series:
    t = arr.type
    if pa.types.is_dictionary(t):
        return _column(arr.cast(t.value_type))
    if pa.types.is_timestamp(t):
        us = arr.cast(pa.timestamp("us", tz=t.tz)).cast(pa.int64())
        return pd.Series(us.to_numpy(zero_copy_only=False)).astype("float64")
    if pa.types.is_date(t):
        return pd.Series(arr.cast(pa.date32()).cast(pa.int32()).to_numpy(zero_copy_only=False)).astype("float64")
    if pa.types.is_boolean(t):
        arr = arr.cast(pa.int8())
        t = arr.type
    if pa.types.is_integer(t) or pa.types.is_floating(t) or pa.types.is_decimal(t):
        vals = pc.cast(arr, pa.float64()).to_numpy(zero_copy_only=False)
        # -0.0 and 0.0 compare equal; make them hash equal too
        return pd.Series(np.asarray(vals, dtype="float64") + 0.0)
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return pd.Series(arr.to_pylist(), dtype="object")
    return pd.Series([None if v is None else repr(_nested(v)) for v in arr.to_pylist()], dtype="object")


def _nested(v):
    if isinstance(v, (list, tuple)):
        return tuple(_nested(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((str(k), _nested(x)) for k, x in v.items()))
    if isinstance(v, bool):
        return int(v)
    if isinstance(v, (int, float)):
        return float(v) + 0.0
    return v


def digest_arrow(table: pa.Table) -> str:
    """Digest of a ``pyarrow.Table``: ``<rows>:<row-hash sum>:<columns>``."""
    cols = sorted(table.column_names)
    frame = pd.DataFrame({c: _column(table.column(c)) for c in cols})
    if len(frame):
        total = int(pd.util.hash_pandas_object(frame, index=False).to_numpy().sum(dtype=np.uint64))
    else:
        total = 0
    names = hashlib.blake2b(",".join(cols).encode(), digest_size=4).hexdigest()
    return f"{table.num_rows}:{total:016x}:{names}"
