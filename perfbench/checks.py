"""Result comparison for the benchmark's output checks.

Rows from Spark, DuckDB and CSV files are brought to one canonical form
(numbers as floats, timestamps and dates as ISO text, NULL as None),
compared as multisets, and numbers are compared within a relative
tolerance.
"""

from __future__ import annotations

import datetime as dt
import math
from decimal import Decimal


def canon(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, (int, float, Decimal)):
        f = float(v)
        return None if math.isnan(f) else f
    if isinstance(v, dt.datetime):
        return v.isoformat(sep=" ")
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(canon(x) for x in v)
    if hasattr(v, "item"):  # numpy scalar
        return canon(v.item())
    return str(v)


def canon_csv(v: str):
    """A CSV cell: empty is NULL, numeric text is a number."""
    if v == "":
        return None
    try:
        return float(v)
    except ValueError:
        return v


def _sort_key(row: tuple) -> tuple:
    def k(v):
        if v is None:
            return (0, "")
        if isinstance(v, float):
            return (1, f"{v:.9g}")
        return (2, repr(v))
    return tuple(k(v) for v in row)


def _close(a, b, rel: float) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        return a == b or abs(a - b) <= rel * max(1.0, abs(a), abs(b))
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_close(x, y, rel) for x, y in zip(a, b))
    return a == b


def compare(got_cols: list[str], got_rows: list[tuple],
            want_cols: list[str], want_rows: list[tuple],
            rel: float = 1e-9) -> str | None:
    """None when the two results are equal as multisets of rows (columns
    matched by name), else a one-line description of the first
    difference."""
    if sorted(got_cols) != sorted(want_cols):
        return f"columns differ: {sorted(got_cols)} vs {sorted(want_cols)}"
    if len(got_rows) != len(want_rows):
        return f"row count {len(got_rows)} vs {len(want_rows)}"
    order = sorted(got_cols)
    gi = [got_cols.index(c) for c in order]
    wi = [want_cols.index(c) for c in order]
    got = sorted((tuple(r[i] for i in gi) for r in got_rows), key=_sort_key)
    want = sorted((tuple(r[i] for i in wi) for r in want_rows), key=_sort_key)
    for n, (a, b) in enumerate(zip(got, want)):
        for c, x, y in zip(order, a, b):
            if not _close(x, y, rel):
                return f"row {n} column {c}: {x!r} vs {y!r}"
    return None
