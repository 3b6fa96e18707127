"""Correctness gates. Each returns the number of mismatches (0 = pass);
the workloads count every mismatch as a failed operation.

The latest-state reference is written here, in DuckDB, from the changelog
contract itself (last event per key in (ts, event_id) order; 'error'
events are deletes) — it shares no code with the engine.
"""

from __future__ import annotations

import datetime
import math
import numbers
from decimal import Decimal

import duckdb
import numpy as np
import pandas as pd

LATEST_STATE_SQL = """
SELECT user_id, value, props, event_id FROM (
  SELECT *, row_number() OVER (PARTITION BY user_id
                               ORDER BY ts DESC, event_id DESC) AS rn
  FROM read_parquet('{log}')
) WHERE rn = 1 AND event_type <> 'error'
"""


def latest_state_mismatches(log_path: str, got_dir: str) -> int:
    """Rows that differ, in either direction, between the engine's
    latest-state table (parquet under ``got_dir`` with user_id, value,
    props, event_id) and the DuckDB latest-per-key over the log."""
    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW want AS {LATEST_STATE_SQL.format(log=log_path)}")
        con.execute(
            "CREATE VIEW got AS SELECT user_id, value, props, event_id "
            f"FROM read_parquet('{got_dir}/*.parquet')"
        )
        return con.execute(
            "SELECT count(*) FROM ((SELECT * FROM want EXCEPT ALL SELECT * FROM got) "
            "UNION ALL (SELECT * FROM got EXCEPT ALL SELECT * FROM want))"
        ).fetchone()[0]
    finally:
        con.close()


def _canon(v):
    """One representation per value, so both engines' rows sort alike:
    numbers become floats rounded to 9 decimals (integers stay exact
    below 2**53), nulls become None."""
    if v is None or v is pd.NaT or (isinstance(v, float) and math.isnan(v)):
        return None
    if isinstance(v, (numbers.Real, Decimal)) and not isinstance(v, (bool, np.bool_)):
        return round(float(v), 9)
    if isinstance(v, (pd.Timestamp, datetime.datetime)):
        return pd.Timestamp(v).strftime("%Y-%m-%d %H:%M:%S.%f")
    if hasattr(v, "tolist"):
        v = v.tolist()
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    return v


def _rows(df: pd.DataFrame) -> list[tuple]:
    cols = sorted(df.columns)
    rows = [tuple(_canon(v) for v in r) for r in df[cols].itertuples(index=False)]
    return sorted(rows, key=repr)


def frame_mismatches(got: pd.DataFrame, want: pd.DataFrame) -> int:
    """Order-insensitive, value-level comparison of a query result with
    its oracle result (floats to 9 decimals). Returns the number of
    differing rows; a column-name mismatch counts every row."""
    if sorted(got.columns) != sorted(want.columns):
        return max(len(got), len(want), 1)
    a, b = _rows(got), _rows(want)
    diff = sum(1 for x, y in zip(a, b) if x != y)
    return diff + abs(len(a) - len(b))
