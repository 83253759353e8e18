"""Order-insensitive result comparison, following the convention of
``scripts/check_oracle.py``: columns sorted by name, every value rendered
canonically (floats rounded to 9 places, integral floats as integers,
timestamps in ISO form, every kind of null as one token), and rows
compared as a multiset of row hashes. Two frames match when their column
sets and row-hash multisets agree.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

NULL = "\\N"


def _cell(v) -> str:
    """Canonical text of one value of an object column."""
    if v is None or v is pd.NaT:
        return NULL
    if isinstance(v, float):
        return NULL if math.isnan(v) else _float_text(round(v, 9))
    if isinstance(v, (bool, int, str)):
        return str(v)
    if hasattr(v, "isoformat"):
        return pd.Timestamp(v).isoformat()
    if hasattr(v, "item"):  # numpy scalar
        return _cell(v.item())
    return str(v)


def _float_text(r: float) -> str:
    return str(int(r)) if r.is_integer() else repr(r)


def _column_text(s: pd.Series) -> pd.Series:
    if pd.api.types.is_bool_dtype(s):
        out = s.astype(str)
    elif pd.api.types.is_integer_dtype(s):
        out = s.astype("Int64").astype(str)
    elif pd.api.types.is_float_dtype(s):
        r = s.round(9)
        out = r.astype(str)
        integral = r.notna() & np.isfinite(r) & (r == np.floor(r))
        out[integral] = r[integral].astype("int64").astype(str)
    elif pd.api.types.is_datetime64_any_dtype(s):
        out = s.map(lambda v: v.isoformat() if not pd.isna(v) else NULL)
    else:
        return s.map(_cell)
    return out.where(s.notna(), NULL)


def canonical(df: pd.DataFrame) -> pd.DataFrame:
    cols = sorted(df.columns)
    return pd.DataFrame({c: _column_text(df[c]) for c in cols}, columns=cols)


def _row_hashes(canon: pd.DataFrame) -> np.ndarray:
    return np.sort(pd.util.hash_pandas_object(canon, index=False).to_numpy())


def compare(name: str, got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    """Problems found comparing a program output with its oracle; empty
    when they match."""
    if sorted(got.columns) != sorted(want.columns):
        return [f"{name}: columns {sorted(got.columns)} != oracle "
                f"{sorted(want.columns)}"]
    a, b = canonical(got), canonical(want)
    ha, hb = _row_hashes(a), _row_hashes(b)
    if len(ha) == len(hb) and np.array_equal(ha, hb):
        return []
    extra = a[~pd.util.hash_pandas_object(a, index=False).isin(hb)]
    missing = b[~pd.util.hash_pandas_object(b, index=False).isin(ha)]
    return [f"{name}: {len(a)} rows vs oracle {len(b)}; unexpected "
            f"{extra.head(2).values.tolist()}; missing "
            f"{missing.head(2).values.tolist()}"]
