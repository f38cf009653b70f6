"""Order-insensitive result digests for the correctness gate.

The canonical form is the one the repo's parity tests compare
(``tests/conftest.py``): columns sorted by name, each column reduced to
a dtype kind, every cell rendered exactly (``repr`` for floats), rows
sorted. A Spark result and a DuckDB result hash equal exactly when the
parity test would call them equal.

Two digest kinds are stored per query in ``digests.json``:

- ``exact``: sha256 of the canonical frame;
- ``shape``: sha256 of column names, kinds and row count only, for
  outputs whose values legitimately vary between runs (sampling,
  approximate search, float sums in task order).
"""

from __future__ import annotations

import hashlib
import math

import pandas as pd


def _cell(v) -> str:
    if v is None or v is pd.NaT or (isinstance(v, float) and math.isnan(v)):
        return "<null>"
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, pd.Timestamp):
        return v.isoformat()
    if isinstance(v, (list, tuple)) or (type(v).__module__ == "numpy" and getattr(v, "ndim", 0) > 0):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    if isinstance(v, bool):
        return str(bool(v))
    if isinstance(v, int):
        return str(int(v))
    return str(v)


def _kind(dtype) -> str:
    k = dtype.kind if hasattr(dtype, "kind") else "O"
    return {"i": "int", "u": "int", "f": "float", "M": "ts", "b": "bool"}.get(k, "obj")


def _header(df: pd.DataFrame) -> list[str]:
    return [f"{c}:{_kind(df[c].dtype)}" for c in sorted(df.columns)]


def digest(df: pd.DataFrame, kind: str) -> str:
    h = hashlib.sha256()
    h.update("|".join(_header(df)).encode())
    h.update(f"#{len(df)}".encode())
    if kind == "exact":
        cols = sorted(df.columns)
        rows = sorted(
            "\x1f".join(_cell(v) for v in row)
            for row in df[cols].itertuples(index=False, name=None)
        )
        for r in rows:
            h.update(b"\x1e")
            h.update(r.encode())
    elif kind != "shape":
        raise ValueError(f"unknown digest kind: {kind}")
    return h.hexdigest()
