"""Result comparison shared by the engine side (wire JSON or Spark rows)
and the DuckDB side.

A result is reduced to a canonical ``[columns, sorted rows]`` that
survives a JSON round trip, so the library's expected results can come
from another process. Rows compare order-insensitively; floats compare
with a tolerance (see ``close``), everything else exactly.
"""

from __future__ import annotations

import datetime
import math
import os

import duckdb

# smoke-test switch: corrupt every expected result, so a run must fail
CORRUPT = os.environ.get("PERFBENCH_CORRUPT") == "1"


def _canon_value(v):
    if v is None or isinstance(v, float):
        return v
    if isinstance(v, datetime.datetime):
        return v.isoformat(sep=" ")
    if isinstance(v, (list, tuple)):
        return [_canon_value(x) for x in v]
    return str(v)


def _key(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return f"{v:.6f}"
    if isinstance(v, list):
        return "[" + ",".join(_key(x) for x in v) + "]"
    return v


def canon(cols: list[str], rows) -> list:
    """``[cols, rows]`` with JSON-safe values and rows in a fixed order."""
    out = [[_canon_value(v) for v in r] for r in rows]
    out.sort(key=lambda r: [_key(v) for v in r])
    return [list(cols), out]


def _decimals(x: float) -> int:
    r = repr(x)
    return len(r) - r.index(".") - 1 if "." in r and "e" not in r else 99


def close(a: float, b: float) -> bool:
    """Equal up to summation order: a relative 1e-9 or an absolute 1e-6,
    and, for values rounded to at most 6 decimals, one unit of the last
    decimal. Spark and DuckDB sum doubles in different orders, so a
    ``ROUND(SUM(x), 2)`` that lands on a half cent may round either way."""
    if a == b or (math.isnan(a) and math.isnan(b)):
        return True
    diff = abs(a - b)
    if diff <= max(1e-6, 1e-9 * max(abs(a), abs(b))):
        return True
    d = max(_decimals(a), _decimals(b))
    return d <= 6 and diff <= 1.001 * 10.0**-d


def _same_value(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        return close(a, b)
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(_same_value(x, y) for x, y in zip(a, b))
    return a == b


def same(got, expected) -> bool:
    """Whether two ``canon`` results agree. ``None`` (an error) never does."""
    if got is None or expected is None:
        return False
    (gc, gr), (ec, er) = got, expected
    return list(gc) == list(ec) and len(gr) == len(er) and all(
        len(g) == len(e) and all(_same_value(x, y) for x, y in zip(g, e))
        for g, e in zip(gr, er)
    )


def wire_result(result: dict) -> list:
    """Canonical form of a ``bq.query`` queryResponse."""
    cols = [f["name"] for f in result["schema"]["fields"]]
    return canon(cols, ([c["v"] for c in row["f"]] for row in result["rows"]))


def duckdb_conn(data_dir: str, tables: list[str]) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    return con


def duckdb_rows(con, sql: str) -> tuple[list[str], list]:
    """Expected (columns, rows) of ``sql`` from DuckDB."""
    res = con.execute(sql)
    rows = res.fetchall()
    if CORRUPT:
        rows = rows[:-1] if rows else [("corrupt",)]
    return [d[0] for d in res.description], rows


def duckdb_result(con, sql: str) -> list:
    return canon(*duckdb_rows(con, sql))
