"""DuckDB answers for every generated query, and the comparisons.

The oracle reads the generated Arrow tables directly (never the files
the engine wrote), so a write path that dropped or duplicated rows
shows up as a mismatch instead of agreeing with itself.
"""

from __future__ import annotations

import datetime as dt
import decimal
import math
import os
import sys
from typing import Any

import duckdb
import pyarrow as pa

REL_TOL = 1e-9
ABS_TOL = 1e-6


def connect(tmp_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute("SET memory_limit = '3GB'")
    con.execute(f"SET temp_directory = '{tmp_dir}'")
    return con


def register(con: duckdb.DuckDBPyConnection, tables: dict[str, pa.Table]) -> None:
    for name, t in tables.items():
        con.register(name, t)


def rows(con: duckdb.DuckDBPyConnection, sql: str) -> tuple[list[str], list[tuple]]:
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    return cols, cur.fetchall()


def _norm(v: Any) -> Any:
    if isinstance(v, (dt.datetime, dt.date)):
        return str(v)
    if isinstance(v, decimal.Decimal):
        return float(v)
    return v


def _same(a: Any, b: Any) -> bool:
    a, b = _norm(a), _norm(b)
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return math.isclose(float(a), float(b), rel_tol=REL_TOL, abs_tol=ABS_TOL)
    return a == b


def envelope_matches(records: list[dict], cols: list[str], want: list[tuple]) -> bool:
    """Envelope records equal the oracle rows: same columns, same row
    order (every generated query fixes a total order or returns one
    row), values equal up to float tolerance."""
    if len(records) != len(want):
        return False
    for rec, row in zip(records, want):
        if list(rec.keys()) != cols:
            return False
        if not all(_same(rec[c], v) for c, v in zip(cols, row)):
            return False
    return True


# -- registry comparison: the normalization and hash tools/check_oracle.py
# applies (column names, row count, order-insensitive hash with floats
# at 9 significant digits), imported so the two can never drift

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))
from check_oracle import _py, table_hash  # noqa: E402


def rows_df(con: duckdb.DuckDBPyConnection, sql: str) -> tuple[list[str], list[dict]]:
    """Oracle rows as dicts of Python natives, via pandas (the path
    tools/check_oracle.py takes)."""
    ddf = con.execute(sql).df()
    return list(ddf.columns), [{k: _py(v) for k, v in r.items()} for r in ddf.to_dict("records")]


def registry_matches(duck_cols: list[str], duck_rows: list[dict],
                     spark_cols: list[str], spark_rows: list[dict]) -> str | None:
    """None when the Spark result equals the DuckDB oracle, else why."""
    if sorted(spark_cols) != sorted(duck_cols):
        return f"columns {sorted(spark_cols)} != {sorted(duck_cols)}"
    if len(spark_rows) != len(duck_rows):
        return f"rows {len(spark_rows)} != {len(duck_rows)}"
    if table_hash(spark_rows, spark_cols) != table_hash(duck_rows, duck_cols):
        return "value hash differs"
    return None
