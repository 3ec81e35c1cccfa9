"""The DuckDB side of the output checks, and the shape check for
queries without an oracle. Outputs with an oracle are compared by the
engine's own correctness gate, ``tools.oracle_check.compare``."""

from __future__ import annotations

import os

import duckdb
import pandas as pd


def connect(table_dir: str, tables: tuple[str, ...]) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in tables:
        path = os.path.join(table_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def check_shape(got: pd.DataFrame, schema_names: list[str], min_rows: int) -> str | None:
    """The check for a query without an oracle: the declared columns, and
    at least ``min_rows`` rows."""
    if list(got.columns) != schema_names:
        return f"columns {list(got.columns)} != {schema_names}"
    if len(got) < min_rows:
        return f"{len(got)} rows, expected at least {min_rows}"
    return None
