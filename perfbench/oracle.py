"""Order-insensitive result hashes for the correctness checks.

A result is reduced to (row count, column names, sha256 of its sorted,
canonicalized rows) with columns in name order, so two engines agree only
when every cell agrees exactly.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import math
from decimal import Decimal


def _cell(v, by_value: bool = False) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return f"b:{v}"
    if by_value and isinstance(v, (int, float, Decimal)):
        d = Decimal(repr(v)) if isinstance(v, float) else Decimal(v)
        return f"n:{d.normalize()}"
    if isinstance(v, float):
        return "f:nan" if math.isnan(v) else f"f:{v!r}"
    if isinstance(v, Decimal):
        return f"f:{float(v)!r}"
    if isinstance(v, int):
        return f"i:{v}"
    if isinstance(v, dt.datetime):
        return f"t:{v.replace(tzinfo=None).isoformat()}"
    if isinstance(v, dt.date):
        return f"d:{v.isoformat()}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}={_cell(x)}" for k, x in sorted(v.items())) + "}"
    return f"s:{v}"


def result_hash(columns: list[str], rows: list[tuple],
                by_value: bool = False) -> tuple[int, tuple, str]:
    """With ``by_value`` numbers compare by value, whatever their type
    (the table model is plain Python and has no SQL types)."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    canon = sorted("\x1f".join(_cell(r[i], by_value) for i in order) for r in rows)
    h = hashlib.sha256("\x1e".join(canon).encode()).hexdigest()
    return len(rows), tuple(columns[i] for i in order), h


def duckdb_conn(data_dir: str, tables: tuple[str, ...]):
    import duckdb

    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    return con


def duckdb_hash(con, sql: str) -> tuple[int, tuple, str]:
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    return result_hash(cols, cur.fetchall())
