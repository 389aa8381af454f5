"""The project's single definition of 'hash parity' between a Spark
result and its DuckDB oracle, shared by verify_driver.py, parity_sf.py
and ab.py so the checkers can never silently diverge.

Semantics: canonicalize both frames (columns sorted by name upstream by
the caller's SELECT contract; rows sorted by all columns), then compare
column-wise — numeric columns as float with a -9e99 NULL sentinel and
EXACT equality (both engines must produce identical doubles after the
queries' own rounding), everything else as objects with a '~' NULL
sentinel.
"""

from __future__ import annotations

import hashlib
from decimal import Decimal

import pandas as pd


def canon(df: pd.DataFrame) -> pd.DataFrame:
    """Sort columns by name and rows by every column."""
    df = df[sorted(df.columns)].copy()
    return df.sort_values(by=list(df.columns), ignore_index=True) if len(df) else df


def frames_match(sp: pd.DataFrame, oc: pd.DataFrame) -> bool:
    """True iff the two canonicalized frames are value-identical."""
    if sp.shape != oc.shape or list(sp.columns) != list(oc.columns):
        return False
    for c in sp.columns:
        a, b = sp[c], oc[c]
        if pd.api.types.is_numeric_dtype(a) or pd.api.types.is_numeric_dtype(b):
            same = (
                a.astype(float).fillna(-9e99).to_numpy()
                == b.astype(float).fillna(-9e99).to_numpy()
            ).all()
        else:
            same = (a.astype(object).fillna("~") == b.astype(object).fillna("~")).all()
        if not same:
            return False
    return True


def _cell(v) -> str:
    """Text of one object-column value, equal for values ``==`` equates."""
    if isinstance(v, Decimal):
        return "0" if v == 0 else str(v.normalize())
    return repr(v.tolist() if hasattr(v, "tolist") else v)


def frame_digest(df: pd.DataFrame) -> str:
    """Digest of a canonicalized frame, equal for two frames exactly
    when :func:`frames_match` holds between them, provided each column
    is numeric on both sides or on neither. Lets two processes compare
    results without shipping them."""
    h = hashlib.sha256(repr((df.shape, list(df.columns))).encode())
    for c in df.columns:
        col = df[c]
        if pd.api.types.is_numeric_dtype(col):
            # + 0.0 folds -0.0 into 0.0, which == treats as equal
            vals = col.astype(float).fillna(-9e99).to_numpy() + 0.0
            h.update(b"n" + vals.tobytes())
        else:
            cells = col.astype(object).where(col.notna(), "~")
            h.update(b"o" + "\x00".join(map(_cell, cells)).encode())
    return h.hexdigest()
