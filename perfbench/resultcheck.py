"""Order-insensitive result digests, and the DuckDB oracle they are
compared against.

Two frames get the same digest when they hold the same multiset of rows
under the same column names, with integers, floats and timestamps compared
by value regardless of width (Spark's int32/float32 against DuckDB's
int64/float64). Floats compare exactly: the engine's aggregates are
deterministic by construction.
"""

from __future__ import annotations

import datetime
import decimal
import hashlib
import math

import numpy as np
import pandas as pd


def _norm(v):
    if v is None or v is pd.NaT:
        return None
    if isinstance(v, (bool, np.bool_)):
        return bool(v)
    if isinstance(v, (int, np.integer)):
        return int(v)
    if isinstance(v, (float, np.floating, decimal.Decimal)):
        f = float(v)
        return "nan" if math.isnan(f) else f
    if isinstance(v, (pd.Timestamp, datetime.datetime, np.datetime64)):
        ts = pd.Timestamp(v)
        if ts.tzinfo is not None:
            ts = ts.tz_convert("UTC").tz_localize(None)
        return ("ts", ts.value // 1000)
    if isinstance(v, datetime.date):
        return ("date", v.isoformat())
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((str(k), _norm(x)) for k, x in v.items()))
    return v


def digest(df: pd.DataFrame) -> str:
    cols = sorted(df.columns)
    rows = sorted(
        (repr(tuple(_norm(v) for v in row)) for row in df[cols].itertuples(index=False)),
    )
    h = hashlib.sha256(repr(cols).encode())
    for r in rows:
        h.update(r.encode())
        h.update(b"\n")
    return h.hexdigest()


def oracle_digests(sf_dir: str, tables, oracles: dict[str, str]) -> dict[str, str]:
    """Digest of each oracle SQL's result in DuckDB over ``sf_dir``."""
    import duckdb

    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        for t in tables:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
            )
        return {name: digest(con.sql(sql).df()) for name, sql in oracles.items()}
    finally:
        con.close()
