"""Result comparison against DuckDB: order-insensitive multiset compare
with 12-significant-digit float normalization (the project's oracle
convention)."""

from __future__ import annotations

import datetime as dt
import math
from collections import Counter


def norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else float(f"{v:.12g}")
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat(" ")
    if isinstance(v, (list, tuple)):
        return tuple(norm(x) for x in v)
    return v


def same_rows(s_cols, s_rows, d_cols, d_rows, ordered: bool = False) -> bool:
    if sorted(s_cols) != sorted(d_cols):
        return False
    so = sorted(range(len(s_cols)), key=lambda i: s_cols[i])
    do = sorted(range(len(d_cols)), key=lambda i: d_cols[i])
    s = [tuple(norm(r[i]) for i in so) for r in s_rows]
    d = [tuple(norm(r[i]) for i in do) for r in d_rows]
    return s == d if ordered else Counter(s) == Counter(d)


def close_rows(a: list[tuple], b: list[tuple], ordered: bool = False, rel: float = 1e-9) -> bool:
    """Row lists equal up to a relative float tolerance (sums computed in
    another order differ in their last bits). Unordered lists are
    compared after sorting on their non-float fields."""
    if len(a) != len(b):
        return False

    def key(r):
        return tuple(repr(norm(v)) for v in r if not isinstance(v, float))

    if not ordered:
        a, b = sorted(a, key=key), sorted(b, key=key)
    for ra, rb in zip(a, b):
        if len(ra) != len(rb):
            return False
        for x, y in zip(ra, rb):
            if isinstance(x, float) or isinstance(y, float):
                if not math.isclose(float(x), float(y), rel_tol=rel, abs_tol=1e-9):
                    return False
            elif norm(x) != norm(y):
                return False
    return True
