"""Output checks: normalize result rows from Spark and DuckDB the same
way and compare them as order-insensitive multisets."""

from __future__ import annotations

import datetime as dt
import decimal
import math
import os

import duckdb


def _cell(v):
    if v is None:
        return None
    if isinstance(v, float):
        # 9 significant digits absorb summation-order noise between a
        # distributed sum and DuckDB's serial one
        return None if math.isnan(v) else float(f"{v:.9g}")
    if isinstance(v, decimal.Decimal):
        return _cell(float(v))
    if hasattr(v, "item"):  # numpy scalar
        return _cell(v.item())
    if isinstance(v, (dt.datetime, dt.date)):
        return v.isoformat(sep=" ") if isinstance(v, dt.datetime) else v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_cell(x) for x in v)
    return v


def normalize(columns: list[str], rows) -> tuple[list[str], list[tuple]]:
    """Column-name-sorted, row-sorted, value-normalized tuples."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [tuple(_cell(r[i]) for i in order) for r in rows]
    return [columns[i] for i in order], sorted(out, key=repr)


def duck_rows(con: duckdb.DuckDBPyConnection, sql: str, params=None):
    rel = con.execute(sql, params or [])
    cols = [d[0] for d in rel.description]
    return normalize(cols, rel.fetchall())


def duck_views(directory: str, names) -> duckdb.DuckDBPyConnection:
    """One view per ``<directory>/<name>.parquet`` file or directory."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for name in names:
        path = os.path.join(directory, f"{name}.parquet")
        if os.path.isdir(path):
            path = os.path.join(path, "*.parquet")
        elif not os.path.exists(path):
            path = os.path.join(directory, name, "*.parquet")
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con
