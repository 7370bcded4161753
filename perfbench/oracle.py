"""Row comparison against DuckDB.

Rows are compared as multisets: both sides are sorted on a coarse key
and then matched cell by cell.  Floats match within a relative
tolerance, because sums over sf0.1 reach ~1e10 and the two engines add
in different orders.
"""

from __future__ import annotations

import datetime as _dt
import math
import os

import duckdb

REL_TOL = 1e-9
ABS_TOL = 1e-6


def connect(data_dir: str, tables) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    for t in tables:
        path = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def _sort_key(v):
    if v is None:
        return (0, "")
    if isinstance(v, bool):
        return (1, str(int(v)))
    if isinstance(v, (int, float)):
        if isinstance(v, float) and math.isnan(v):
            return (2, "nan")
        return (2, f"{float(v):.6g}")
    if isinstance(v, (list, tuple)):
        return (3, repr([_sort_key(x) for x in v]))
    if isinstance(v, dict):
        return (4, repr(sorted((str(k), _sort_key(x)) for k, x in v.items())))
    return (5, str(v))


def _same(a, b) -> bool:
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, (int, float)) and isinstance(b, (int, float)) \
            and not isinstance(a, bool) and not isinstance(b, bool):
        a, b = float(a), float(b)
        if math.isnan(a) or math.isnan(b):
            return math.isnan(a) and math.isnan(b)
        return math.isclose(a, b, rel_tol=REL_TOL, abs_tol=ABS_TOL)
    if isinstance(a, (list, tuple)) and isinstance(b, (list, tuple)):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    if isinstance(a, _dt.datetime) and isinstance(b, _dt.datetime):
        return a.replace(tzinfo=None) == b.replace(tzinfo=None)
    return a == b


def compare(cols_a, rows_a, cols_b, rows_b) -> str | None:
    """None when the results match, else a one-line reason."""
    ca = [c.lower() for c in cols_a]
    cb = [c.lower() for c in cols_b]
    if sorted(ca) != sorted(cb):
        return f"columns {sorted(ca)} != {sorted(cb)}"
    if len(rows_a) != len(rows_b):
        return f"{len(rows_a)} rows != {len(rows_b)}"
    ia = sorted(range(len(ca)), key=lambda i: ca[i])
    ib = sorted(range(len(cb)), key=lambda i: cb[i])
    na = sorted((tuple(r[i] for i in ia) for r in rows_a),
                key=lambda r: [_sort_key(v) for v in r])
    nb = sorted((tuple(r[i] for i in ib) for r in rows_b),
                key=lambda r: [_sort_key(v) for v in r])
    for ra, rb in zip(na, nb):
        if not all(_same(x, y) for x, y in zip(ra, rb)):
            return f"row {ra!r} != {rb!r}"[:300]
    return None
