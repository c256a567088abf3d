"""Output checks: Spark results against their DuckDB oracle twins.

The rule is the parity tests' one: equal row count, equal column names,
equal numeric families per column (int / float / bool — the value hash
tells ``9549`` from ``9549.0``), and equal rows as a multiset, floats
compared exactly.
"""

from __future__ import annotations

import datetime as dt
import os

import duckdb
import pandas as pd


def connect(sf_dir: str, tables: tuple[str, ...]) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in tables:
        path = os.path.join(sf_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


NUMERIC = {"i": "i", "u": "i", "f": "f", "b": "b"}


def _strings(s: pd.Series, as_float: bool) -> list:
    if s.dtype.kind == "M":
        s = s.dt.strftime("%Y-%m-%d %H:%M:%S")
    elif s.dtype == object:
        first = s.dropna().head(1)
        if len(first) and isinstance(first.iloc[0], (dt.date, dt.datetime)):
            s = pd.to_datetime(s).dt.strftime("%Y-%m-%d %H:%M:%S")
    if as_float:
        s = s.astype("float64")
    return [None if pd.isna(v) else repr(v) if isinstance(v, float) else str(v) for v in s]


def mismatch(left: pd.DataFrame, con: duckdb.DuckDBPyConnection, sql: str) -> str | None:
    """``None`` when ``left`` (a Spark result, ``toPandas()``) matches
    the oracle ``sql``; else why not."""
    right = con.execute(sql).fetchdf()
    if len(left) != len(right):
        return f"row count {len(left)} != oracle {len(right)}"
    cols = sorted(left.columns)
    if cols != sorted(right.columns):
        return f"columns {cols} != oracle {sorted(right.columns)}"
    lcols, rcols = [], []
    for c in cols:
        lk, rk = NUMERIC.get(left[c].dtype.kind), NUMERIC.get(right[c].dtype.kind)
        if lk and rk and lk != rk:
            return f"{c}: numeric family {left[c].dtype} != oracle {right[c].dtype}"
        as_float = "f" in (lk, rk)
        lcols.append(_strings(left[c], as_float))
        rcols.append(_strings(right[c], as_float))
    lrows = sorted(zip(*lcols), key=repr)
    rrows = sorted(zip(*rcols), key=repr)
    if lrows != rrows:
        bad = sum(a != b for a, b in zip(lrows, rrows))
        return f"{bad} rows differ from the oracle"
    return None
