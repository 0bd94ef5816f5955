"""Order-insensitive comparison of a query result against its DuckDB
oracle: same column names, same row count, and equal values row by row
once both sides are canonicalized and sorted. Floats compare within a
1e-9 relative tolerance; everything else compares exactly."""

from __future__ import annotations

import datetime as dt
import decimal
import math

import duckdb
import numpy as np
import pandas as pd

from .datagen import TABLES


def duck_connection(sf_dir: str, threads: int = 4) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(f"SET threads TO {threads}")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    return con


def _cell(v):
    if v is None:
        return None
    if isinstance(v, np.generic):
        v = v.item()
    if hasattr(v, "tolist"):
        v = v.tolist()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(str(_cell(x)) for x in v) + "]"
    if isinstance(v, float) and math.isnan(v):
        return None
    if v is pd.NaT or (not isinstance(v, (str, bytes)) and pd.isna(v)):
        return None
    if isinstance(v, dt.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, dt.date):
        return f"{v.isoformat()} 00:00:00.000000"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, (int, decimal.Decimal)):
        return float(v) if isinstance(v, decimal.Decimal) and v != v.to_integral_value() else int(v)
    return v


def _sort_key(row: tuple) -> tuple:
    return tuple(
        (0, 0.0, "") if x is None
        else (1, float(x), "") if isinstance(x, (int, float))
        else (2, 0.0, str(x))
        for x in row
    )


def _canonical(pdf: pd.DataFrame) -> list[tuple]:
    cols = sorted(pdf.columns)
    rows = [tuple(_cell(v) for v in r) for r in pdf[cols].itertuples(index=False, name=None)]
    return sorted(rows, key=_sort_key)


def _equal(a, b) -> bool:
    if isinstance(a, (int, float)) and isinstance(b, (int, float)) and not isinstance(a, bool):
        if isinstance(a, float) or isinstance(b, float):
            return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
        return a == b
    return a == b


def mismatch(spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> str | None:
    """None when the frames match, else a one-line reason."""
    if sorted(spark_pdf.columns) != sorted(duck_pdf.columns):
        return f"columns spark={sorted(spark_pdf.columns)} duck={sorted(duck_pdf.columns)}"
    if len(spark_pdf) != len(duck_pdf):
        return f"rows spark={len(spark_pdf)} duck={len(duck_pdf)}"
    for i, (ra, rb) in enumerate(zip(_canonical(spark_pdf), _canonical(duck_pdf))):
        if len(ra) != len(rb) or not all(_equal(x, y) for x, y in zip(ra, rb)):
            return f"row {i}: spark={ra!r} duck={rb!r}"
    return None
