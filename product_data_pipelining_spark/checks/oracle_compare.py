"""Canonical cross-engine result comparison — the oracle contract.

One shared normalization for everything that compares a Spark result
against DuckDB running the equivalent SQL: the pytest parity sweep
(``tests/test_oracle_parity.py``), the correctness sweep
(``scripts/correctness_sweep.py``, which the scale probe runs for its
at-scale check), and ad-hoc verification drivers. Mirrors the driver's
gate: sort columns by name, canonicalize each cell to a string (nulls,
floats, temporals), sort rows, compare frames. ``duck_connect`` is the
one way those checks and the benches open DuckDB over a scale-factor
directory.
"""

from __future__ import annotations

import math
import os

import pandas as pd


def canon_cell(v):
    """One cell → canonical string (engine-independent)."""
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "<null>"
    if pd.isna(v):
        return "<null>"
    if isinstance(v, float):
        if v == int(v) and abs(v) < 1e15:
            return f"{int(v)}"
        return f"{v:.9g}"
    if hasattr(v, "isoformat"):  # date/datetime
        return v.isoformat()
    return str(v)


def _canon_series(s: pd.Series) -> pd.Series:
    """Vectorized ``canon_cell`` over one column.

    Semantics-identical to ``s.map(canon_cell)`` (pinned by
    ``test_vectorized_normalize_matches_per_cell``), but with C-speed
    fast paths for the dtypes that dominate large results — integers,
    strings, whole-microsecond timestamps, and int-valued floats — so
    the scale probe can value-compare multi-million-row frames instead
    of degrading to a row-count check. Anything unusual falls back to
    the per-cell reference implementation.
    """
    import numpy as np

    k = s.dtype.kind
    if k in "iu":  # integers: plain decimal strings
        if s.isna().any():  # pandas nullable Int64 carrying pd.NA
            return s.map(canon_cell)
        return s.astype("int64").astype(str).astype(object)
    if k == "M":  # datetime64: isoformat == strftime iff no sub-second part
        sub_us = s.dt.microsecond.fillna(0)
        nanos = getattr(s.dt, "nanosecond", None)
        if (sub_us == 0).all() and (nanos is None or (nanos.fillna(0) == 0).all()):
            out = s.dt.strftime("%Y-%m-%dT%H:%M:%S").astype(object)
            return out.where(s.notna(), "<null>")
        return s.map(canon_cell)
    if k == "f":
        v = s.to_numpy()
        int_valued = np.isfinite(v) & (np.abs(v) < 1e15) & (v == np.trunc(v))
        if int_valued.all() and len(v):
            return pd.Series(
                v.astype("int64").astype(str), index=s.index, dtype=object
            )
        out = s.map(canon_cell)
        return out
    if k == "O" and pd.api.types.infer_dtype(s, skipna=True) == "string":
        return s.where(s.notna(), "<null>")
    return s.map(canon_cell)


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    """Sort columns by name, canonicalize cell values, sort rows."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        df[c] = _canon_series(df[c])
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def dtype_kinds(df: pd.DataFrame) -> list[str]:
    """dtype kind per column, sorted by column name (i=int, f=float...)."""
    return [df[c].dtype.kind for c in sorted(df.columns)]


def frames_match(got: pd.DataFrame, want: pd.DataFrame) -> tuple[bool, str]:
    """Compare two raw result frames under the driver's contract.

    Returns (ok, reason): reason is "" on success, else the first
    difference class found (columns / dtypes / rows / values).
    """
    if sorted(got.columns) != sorted(want.columns):
        return False, (
            f"columns {sorted(got.columns)} vs {sorted(want.columns)}"
        )
    if dtype_kinds(got) != dtype_kinds(want):
        return False, f"dtype kinds {dtype_kinds(got)} vs {dtype_kinds(want)}"
    a, b = normalize(got), normalize(want)
    if len(a) != len(b):
        return False, f"row count {len(a)} vs {len(b)}"
    if not a.equals(b):
        n = int((a != b).any(axis=1).sum())
        return False, f"{n}/{len(a)} rows differ"
    return True, ""


def duck_view_sql(sf_dir: str, table: str) -> str:
    """CREATE VIEW statement for one table, handling both single-file
    parquet (driver testdata) and multi-file directories (generated
    scale factors)."""
    p = f"{sf_dir}/{table}.parquet"
    if os.path.isdir(p):
        p = f"{p}/*.parquet"
    return f"CREATE VIEW {table} AS SELECT * FROM '{p}'"


def duck_connect(sf_dir: str):
    """In-process DuckDB over ``sf_dir``: one view per table, memory capped.

    DuckDB's default memory limit is ~80% of RAM; next to a live JVM and
    its table caches a corpus-scale oracle then takes the whole box down
    (an sf10 bench was OOM-killed at 104 GB RSS on dd14's banded
    self-join). A quarter of available RAM (24 GB ceiling, mirroring
    ``session._default_heap_gb``) plus a ``/tmp`` spill directory keeps
    JVM + DuckDB within the host: a spilling oracle is slow, never fatal.
    """
    import duckdb

    from ..io import TPCH_TABLES
    from ..session import available_ram_gb

    con = duckdb.connect()
    duck_gb = min(24, max(2, available_ram_gb() // 4))
    con.execute(f"SET memory_limit='{duck_gb}GB'")
    con.execute("SET temp_directory='/tmp/duck_spill'")
    for t in TPCH_TABLES:
        con.execute(duck_view_sql(sf_dir, t))
    return con
