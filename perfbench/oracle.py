"""Order-insensitive comparison of a result with its DuckDB oracle.

Both sides are reduced to the same canonical form: columns sorted by name;
numbers (integers, floats, decimals, booleans) as float64, timestamps as
float64 microseconds, null and NaN as NaN; other cells as plain Python
values (arrays as tuples, maps as sorted item tuples). Rows are sorted by a
key in which floats are rounded to the six places the registry rounds its
floating outputs to, then compared pairwise, numbers within 1e-6 absolute or
1e-9 relative.
"""

from __future__ import annotations

import decimal
import hashlib
import math
import os

import numpy as np
import pandas as pd

DIGITS = 6


def _canon(v):
    if v is None or v is pd.NaT:
        return None
    if isinstance(v, float):
        return None if math.isnan(v) else v
    if isinstance(v, (bool, str, int)):
        return v
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, np.generic):
        return _canon(v.item())
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, dict):
        return tuple(sorted((k, _canon(x)) for k, x in v.items()))
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(_canon(x) for x in v)
    return v


def _column(s: pd.Series) -> pd.Series:
    if pd.api.types.is_datetime64_any_dtype(s):
        if getattr(s.dt, "tz", None) is not None:
            s = s.dt.tz_convert("UTC").dt.tz_localize(None)
        us = s.astype("datetime64[us]")
        return pd.Series(np.where(us.isna(), np.nan, us.astype("int64")), dtype="float64")
    if pd.api.types.is_numeric_dtype(s) or pd.api.types.is_bool_dtype(s):
        return s.astype("float64")
    vals = [_canon(v) for v in s]
    if all(v is None or (isinstance(v, (int, float)) and not isinstance(v, bool)) for v in vals):
        return pd.Series([np.nan if v is None else float(v) for v in vals], dtype="float64")
    return pd.Series(vals, dtype=object)


def canonical(df: pd.DataFrame) -> pd.DataFrame:
    """Sorted columns, canonical cells, rows in canonical order."""
    cols = sorted(df.columns)
    out = pd.DataFrame({c: _column(df[c].reset_index(drop=True)) for c in cols}, columns=cols)
    if len(out) and cols:
        keys = pd.DataFrame(
            {
                c: out[c].round(DIGITS) if out[c].dtype == "float64" else out[c].map(repr)
                for c in cols
            }
        )
        order = keys.sort_values(by=cols, kind="mergesort", na_position="last").index
        out = out.loc[order].reset_index(drop=True)
    return out


def _same(a, b) -> bool:
    if isinstance(a, (int, float)) and isinstance(b, (int, float)) and not isinstance(a, bool):
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=10.0**-DIGITS)
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    return a == b


def compare(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when ``got`` equals ``want`` up to row order, else a short
    description of the first difference."""
    g, w = canonical(got), canonical(want)
    if list(g.columns) != list(w.columns):
        return f"columns differ: got {list(g.columns)}, want {list(w.columns)}"
    if len(g) != len(w):
        return f"row count differs: got {len(g)}, want {len(w)}"
    for c in g.columns:
        a, b = g[c], w[c]
        if a.dtype == "float64" and b.dtype == "float64":
            ok = np.isclose(a.to_numpy(), b.to_numpy(), rtol=1e-9, atol=10.0**-DIGITS, equal_nan=True)
        else:
            ok = np.array([_same(x, y) for x, y in zip(a, b)], dtype=bool)
        if not ok.all():
            i = int(np.flatnonzero(~ok)[0])
            return f"column {c!r} row {i} differs: got {a.iloc[i]!r}, want {b.iloc[i]!r}"
    return None


def checksum(df: pd.DataFrame) -> str:
    """Order-insensitive digest of a result: sha256 of its canonical rows
    with numbers rounded to the registry's six places."""
    c = canonical(df)
    h = hashlib.sha256(repr(list(c.columns)).encode())
    for col in c.columns:
        vals = c[col].round(DIGITS) if c[col].dtype == "float64" else c[col]
        h.update(repr(vals.tolist()).encode())
    return h.hexdigest()


def duck(sf_dir: str, threads: int):
    """DuckDB connection with one view per parquet table in ``sf_dir``,
    limited to ``threads`` threads."""
    import duckdb

    con = duckdb.connect()
    con.execute(f"SET threads TO {int(threads)}")
    for fn in sorted(os.listdir(sf_dir)):
        if fn.endswith(".parquet"):
            path = os.path.join(sf_dir, fn).replace("'", "''")
            con.execute(f"CREATE VIEW {fn[:-8]} AS SELECT * FROM read_parquet('{path}')")
    return con
