"""Expected results, computed with DuckDB over the generated fixtures.

The engine ships an oracle SQL string for every registered query
(``__spark_entry__.oracle_sql()``) and for the hourly rollup the ingest
path lands (``operators.agg.hourly_rollup_oracle``). The benchmark runs
them on its own DuckDB connection and compares order-insensitively:
exact for integers, strings and timestamps, and within a relative
1e-9 for floats (summation order may differ between the two engines).
"""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd

FLOAT_RTOL = 1e-9


def connect(fixture_dir: str, tables) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    for name in tables:
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{fixture_dir}/{name}.parquet'")
    return con


def _canonical(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for col in df.columns:
        if df[col].dtype.kind == "M":
            df[col] = df[col].astype("datetime64[us]")
    if len(df):
        df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df


def mismatch(actual: pd.DataFrame, expected: pd.DataFrame) -> str | None:
    """None when the two frames hold the same rows, else the first problem."""
    if sorted(actual.columns) != sorted(expected.columns):
        return f"columns {sorted(actual.columns)} != {sorted(expected.columns)}"
    if len(actual) != len(expected):
        return f"{len(actual)} rows != {len(expected)}"
    a, e = _canonical(actual), _canonical(expected)
    for col in a.columns:
        x, y = a[col].to_numpy(), e[col].to_numpy()
        if x.dtype.kind in "fiu" and y.dtype.kind in "fiu" and "f" in x.dtype.kind + y.dtype.kind:
            x64, y64 = x.astype(np.float64), y.astype(np.float64)
            ok = np.isclose(x64, y64, rtol=FLOAT_RTOL, atol=0.0) | (np.isnan(x64) & np.isnan(y64))
        else:
            ok = (x == y) | (pd.isna(x) & pd.isna(y))
        if not ok.all():
            i = int(np.argmin(ok))
            return f"column {col}: {(~ok).sum()} values differ, first {x[i]!r} != {y[i]!r}"
    return None
