"""Output checks run after the timed region: results are compared with
DuckDB over the same parquet files, using the canonicalization of
``scripts/selfcheck.py`` (order-insensitive rows, columns sorted by
name, floats rounded to 9 digits)."""

from __future__ import annotations

import math
import os
import sys

import duckdb

from harness import ROOT

sys.path.insert(0, os.path.join(ROOT, "scripts"))
import selfcheck  # noqa: E402  (scripts/ is not a package)


def duck(data_dir: str) -> duckdb.DuckDBPyConnection:
    con = selfcheck.duck_connect(data_dir)
    con.execute("SET threads TO 2")
    return con


def _plain(v):
    """A pandas/numpy cell as the Python value ``collect()`` would give."""
    if v is None:
        return None
    if hasattr(v, "tolist"):  # numpy scalars and arrays
        v = v.tolist()
    if isinstance(v, float) and math.isnan(v):
        return None  # toPandas turns SQL NULL into NaN
    if hasattr(v, "to_pydatetime"):
        return v.to_pydatetime()
    return v


def rows_of_pandas(pdf) -> list[tuple]:
    return [tuple(_plain(v) for v in row) for row in pdf.itertuples(index=False)]


def same_rows(cols_a: list[str], rows_a, cols_b: list[str], rows_b) -> str | None:
    """None when the two results are equal as selfcheck compares them,
    else a short reason."""
    if len(rows_a) != len(rows_b):
        return f"rowcount {len(rows_a)} vs {len(rows_b)}"
    if [c.lower() for c in cols_a] != [c.lower() for c in cols_b]:
        return f"columns {cols_a} vs {cols_b}"
    order = sorted(range(len(cols_a)), key=lambda i: cols_a[i].lower())
    a = selfcheck.rowset([tuple(r[i] for i in order) for r in rows_a])
    b = selfcheck.rowset([tuple(r[i] for i in order) for r in rows_b])
    if a != b:
        extra = [r for r in a if r not in set(b)][:2]
        return f"values differ, e.g. {extra}"
    return None


def same_frame(a, b) -> bool:
    """Fast path: two pandas results with identical values in some row
    order (sorting fails on unorderable cells, which then take the
    canonical comparison)."""
    if list(a.columns) != list(b.columns) or len(a) != len(b):
        return False
    try:
        cols = list(a.columns)
        a2 = a.sort_values(cols, ignore_index=True)
        b2 = b.sort_values(cols, ignore_index=True)
        return a2.equals(b2)
    except (TypeError, ValueError):
        return False


def duck_rows(con, sql: str) -> tuple[list[str], list[tuple]]:
    res = con.execute(sql)
    return [d[0] for d in res.description], res.fetchall()
