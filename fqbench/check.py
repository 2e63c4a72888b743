"""Order-insensitive comparison of result rows from the engine and DuckDB."""

from __future__ import annotations

import datetime as dt
import decimal
import math
from typing import Iterable, List

REL_TOL = 1e-9
ABS_TOL = 1e-6


def _cell(v):
    if isinstance(v, bool) or v is None or isinstance(v, (int, str)):
        return v
    if isinstance(v, (float, decimal.Decimal)):
        f = float(v)
        return int(f) if f.is_integer() and abs(f) < 2**53 else f
    if isinstance(v, (dt.date, dt.datetime)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_cell(x) for x in v)
    return str(v)


def _sort_key(row):
    # floats sort on 6 significant digits so ulp-level differences between
    # engines cannot reorder rows; None sorts first
    return tuple((0, "") if v is None else
                 (1, float(f"{v:.6g}")) if isinstance(v, (int, float))
                 and not isinstance(v, bool) else (2, str(v))
                 for v in row)


def normalize(rows: Iterable) -> List[tuple]:
    """JSON-safe rows of plain Python values, in a canonical order."""
    return sorted((tuple(_cell(v) for v in row) for row in rows),
                  key=_sort_key)


def _same_cell(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return math.isclose(a, b, rel_tol=REL_TOL, abs_tol=ABS_TOL)
    return a == b


def same_rows(got: List[tuple], want: List[tuple]) -> bool:
    """Both arguments must already be normalized."""
    if len(got) != len(want):
        return False
    return all(len(g) == len(w) and all(_same_cell(x, y) for x, y in zip(g, w))
               for g, w in zip(got, want))
