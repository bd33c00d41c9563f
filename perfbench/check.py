"""Result checks, run outside the timed region.

Rows are normalised to plain Python values and compared order-insensitively
(the statements' ORDER BY clauses are not part of what is checked; ties may
legitimately reorder).  Doubles are compared with a relative tolerance only
where a check compares two different physical plans, whose sums may add in
another order.
"""

from __future__ import annotations

import datetime
import decimal
import hashlib
import math

#: relative tolerance for doubles produced by two different plans
REL_TOL = 1e-9


def norm(v):
    """One result value as a comparable, hashable Python value."""
    if v is None:
        return None
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else v
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, (datetime.date, datetime.datetime)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((norm(k), norm(x)) for k, x in v.items()))
    if hasattr(v, "asDict"):
        return norm(tuple(v))
    return v


def sort_key(row: tuple) -> tuple:
    return tuple((x is None, type(x).__name__, str(x)) for x in row)


def spark_rows(rows, columns: list[str]) -> list[tuple]:
    """Collected Spark rows -> sorted tuples, columns in name order so the
    same data compares equal whichever side produced it."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted(
        (tuple(norm(r[i]) for i in order) for r in rows), key=sort_key
    )


def duckdb_rows(con, sql: str) -> tuple[list[tuple], list[str]]:
    cur = con.execute(sql)
    names = [d[0] for d in cur.description]
    order = sorted(range(len(names)), key=lambda i: names[i])
    rows = sorted(
        (tuple(norm(r[i]) for i in order) for r in cur.fetchall()), key=sort_key
    )
    return rows, sorted(names)


def digest(rows: list[tuple]) -> str:
    return hashlib.sha1(repr(rows).encode()).hexdigest()


def _close(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        return math.isclose(a, b, rel_tol=REL_TOL, abs_tol=REL_TOL)
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_close(x, y) for x, y in zip(a, b))
    return a == b


def rows_match(got: list[tuple], want: list[tuple]) -> bool:
    """Sorted-row equality, doubles within ``REL_TOL``."""
    return len(got) == len(want) and all(_close(g, w) for g, w in zip(got, want))
