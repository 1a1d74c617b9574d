"""Canonical result form shared by the query oracles and the ETL model.

The same form the repository's oracle tests use: columns sorted by name,
every value stringified (NULL and NaN alike as ``NULL``, integral floats
without a fraction so 3.0 and 3 compare equal), rows compared as a
multiset.  Float and integer columns are converted column-wise so large
frames stay cheap to check.
"""

from __future__ import annotations

import math
from collections import Counter

import numpy as np
import pandas as pd


def cell(v) -> str:
    if v is None or v is pd.NaT:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NULL"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return repr(v)
    return str(v)


def _strings(s: pd.Series) -> list[str]:
    if pd.api.types.is_float_dtype(s.dtype):
        vals = s.to_numpy(dtype=np.float64, na_value=np.nan)
        out = np.full(len(vals), "NULL", dtype=object)
        finite = ~np.isnan(vals)
        integral = finite & (vals == np.floor(vals)) & (np.abs(vals) < 1e15)
        out[integral] = vals[integral].astype(np.int64).astype(str)
        frac = finite & ~integral
        out[frac] = [repr(float(v)) for v in vals[frac]]
        return out.tolist()
    if pd.api.types.is_integer_dtype(s.dtype) and not s.hasnans:
        return s.astype(np.int64).astype(str).tolist()
    return [cell(v) for v in s.tolist()]


def canon(df: pd.DataFrame) -> dict:
    """``{"columns": sorted names, "rows": sorted stringified rows}``."""
    cols = sorted(df.columns)
    rows = sorted(map(list, zip(*(_strings(df[c]) for c in cols)))) if cols else []
    return {"columns": cols, "rows": rows}


def mismatch(got: dict, want: dict) -> str | None:
    """None when the canonical forms are equal, else a short description."""
    if got["columns"] != want["columns"]:
        return f"columns {got['columns']} != {want['columns']}"
    if got["rows"] != want["rows"]:
        g = Counter(map(tuple, got["rows"]))
        w = Counter(map(tuple, want["rows"]))
        return (
            f"{len(got['rows'])} rows vs {len(want['rows'])} expected; "
            f"unexpected {list(g - w)[:2]}, missing {list(w - g)[:2]}"
        )
    return None
