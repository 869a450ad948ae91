"""Result check against the registry's DuckDB oracle SQL.

Mirrors the repository's correctness gate (row count, column names and
order-insensitive values), except that floats compare with a relative
tolerance: the two engines may sum in different orders on generated
inputs.
"""

from __future__ import annotations

import math
from decimal import Decimal

import duckdb

from . import datagen

REL_TOL = 1e-9


def connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    for t in datagen.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def _cell(v):
    if isinstance(v, bool) or v is None:
        return v
    if isinstance(v, Decimal):
        return float(v)
    if isinstance(v, int):
        return v
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else v
    if isinstance(v, (list, tuple)):
        return tuple(_cell(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _cell(x)) for k, x in v.items()))
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return v


def _sort_key(row):
    # floats sort on a rounded value so near-equal rows pair up
    return tuple(
        (x is None, f"{x:.6g}" if isinstance(x, float) else str(x)) for x in row
    )


def _normalize(cols: list[str], rows: list[tuple]) -> tuple[list[str], list[tuple]]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_cell(r[i]) for i in order) for r in rows]
    out.sort(key=_sort_key)
    return [cols[i] for i in order], out


def _number(x) -> bool:
    return isinstance(x, (int, float)) and not isinstance(x, bool)


def _close(a, b) -> bool:
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_close(x, y) for x, y in zip(a, b))
    if _number(a) and _number(b) and (isinstance(a, float) or isinstance(b, float)):
        return math.isclose(a, b, rel_tol=REL_TOL, abs_tol=1e-12)
    return a == b


def mismatch(spark_cols, spark_rows, duck_cols, duck_rows) -> str | None:
    """None when the results agree, else a one-line reason."""
    sc, sr = _normalize(list(spark_cols), [tuple(r) for r in spark_rows])
    dc, dr = _normalize(list(duck_cols), [tuple(r) for r in duck_rows])
    if sc != dc:
        return f"columns differ: spark={sc} duckdb={dc}"
    if len(sr) != len(dr):
        return f"row count differs: spark={len(sr)} duckdb={len(dr)}"
    for i, (a, b) in enumerate(zip(sr, dr)):
        if not _close(a, b):
            return f"values differ at sorted row {i}: spark={a} duckdb={b}"
    return None


def run_oracle(con: duckdb.DuckDBPyConnection, sql: str) -> tuple[list[str], list[tuple]]:
    tbl = con.execute(sql).arrow()
    cols = tbl.schema.names
    return cols, [tuple(row[c] for c in cols) for row in tbl.to_pylist()]
