"""Result comparison against the DuckDB oracle.

The rule is the repository oracle gate's (``scripts/check_oracle.py``):
every cell is stringified (floats by ``repr``, so ``1.0`` and ``1`` or
``-0.0`` and ``0.0`` differ), integer and float columns must agree in
kind, and rows are compared as a sorted multiset unless the operation's
answer is ordered, in which case order must match too.
"""
from __future__ import annotations

import pandas as pd


def _cell(v) -> str:
    if v is None or (isinstance(v, float) and v != v) or v is pd.NaT:
        return "<null>"
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, pd.Timestamp):
        return v.isoformat()
    return str(v)


def _kind(s: pd.Series) -> str:
    if pd.api.types.is_bool_dtype(s):
        return "b"
    if pd.api.types.is_float_dtype(s):
        return "f"
    if pd.api.types.is_integer_dtype(s):
        return "i"
    if pd.api.types.is_datetime64_any_dtype(s):
        return "t"
    return "o"


def as_frame(result) -> pd.DataFrame:
    """An engine ``compute()`` result as a flat frame: named index levels
    become columns, positional labels are dropped."""
    if isinstance(result, pd.Series):
        result = result.to_frame()
    if any(n is not None for n in result.index.names):
        return result.reset_index()
    return result.reset_index(drop=True)


def compare(got: pd.DataFrame, want: pd.DataFrame, ordered: bool) -> list[str]:
    """Problems found, empty when the frames agree."""
    problems = []
    if sorted(got.columns) != sorted(want.columns):
        return [f"columns {sorted(got.columns)} vs {sorted(want.columns)}"]
    if len(got) != len(want):
        problems.append(f"rowcount {len(got)} vs {len(want)}")
    cols = sorted(got.columns)
    for c in cols:
        kg, kw = _kind(got[c]), _kind(want[c])
        if kg != kw:
            problems.append(f"col {c}: kind {got[c].dtype} vs {want[c].dtype}")
    if problems:
        return problems
    rows_g = [tuple(_cell(v) for v in r) for r in got[cols].itertuples(index=False)]
    rows_w = [tuple(_cell(v) for v in r) for r in want[cols].itertuples(index=False)]
    if not ordered:
        rows_g.sort()
        rows_w.sort()
    for i, (a, b) in enumerate(zip(rows_g, rows_w)):
        if a != b:
            problems.append(f"row {i}: {a} vs {b}")
            break
    return problems
