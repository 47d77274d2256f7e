"""Order-insensitive result fingerprints: (row count, value hash).

Columns are taken in name order and every cell is rendered canonically
(integral numbers without a fraction, other floats to 12 significant
digits, timestamps in ISO form, nulls as one marker), so a Spark result
and a DuckDB or pure-Python result with equal values hash alike. Rows are
hashed one by one and the hashes summed modulo 2**64, which makes the
fingerprint independent of row order.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

_NULL = "∅"


def _cell(v) -> str:
    if v is None or v is pd.NA or v is pd.NaT:
        return _NULL
    if isinstance(v, (bool, np.bool_)):
        return "T" if v else "F"
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    if isinstance(v, (float, np.floating)):
        v = float(v)
        if math.isnan(v):
            return _NULL
        if v.is_integer() and abs(v) < 1e15:
            return str(int(v))
        return format(v, ".12g")
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    return str(v)


def _column(s: pd.Series) -> list[str]:
    if pd.api.types.is_integer_dtype(s.dtype) and not s.hasnans:
        return s.astype("int64").astype(str).tolist()
    return [_cell(v) for v in s.tolist()]


def of_pandas(pdf: pd.DataFrame) -> dict:
    cols = [_column(pdf[c]) for c in sorted(pdf.columns)]
    rows = pd.Series(["\x1f".join(r) for r in zip(*cols)] if cols else [], dtype=object)
    h = pd.util.hash_pandas_object(rows, index=False).to_numpy(dtype=np.uint64)
    return {"rows": int(len(pdf)), "hash": f"{int(h.sum(dtype=np.uint64)):016x}"}


def of_records(columns: list[str], records: list[tuple]) -> dict:
    return of_pandas(pd.DataFrame.from_records(records, columns=columns))
