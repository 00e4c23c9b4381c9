"""Result check: every query's result against its DuckDB oracle.

The comparison mirrors the repository's test gate: columns sorted by
name, rows sorted by every column, floats equal within 1e-9 absolute
or relative, everything else equal as strings. A workload may only
hold queries that carry an oracle; one without fails the check.
"""

from __future__ import annotations

import math
import os

import pandas as pd

FLOAT_TOL = 1e-9


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    out = df.reindex(sorted(df.columns), axis=1)
    for c in out.columns:
        if pd.api.types.is_datetime64_any_dtype(out[c]):
            try:
                out[c] = out[c].dt.tz_localize(None)
            except TypeError:
                pass
    return out.sort_values(by=list(out.columns), ignore_index=True)


def _is_null(v) -> bool:
    return v is None or (isinstance(v, float) and math.isnan(v))


def frame_mismatch(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """First difference between two result frames, or None if they match."""
    left, right = normalize(got), normalize(want)
    if list(left.columns) != list(right.columns):
        return f"columns differ: {list(left.columns)} vs {list(right.columns)}"
    if len(left) != len(right):
        return f"row counts differ: {len(left)} vs {len(right)}"
    for c in left.columns:
        for i, (a, b) in enumerate(zip(left[c].tolist(), right[c].tolist())):
            if _is_null(a) or _is_null(b):
                ok = _is_null(a) and _is_null(b)
            elif isinstance(a, float) or isinstance(b, float):
                ok = math.isclose(a, b, rel_tol=FLOAT_TOL, abs_tol=FLOAT_TOL)
            else:
                ok = str(a) == str(b)
            if not ok:
                return f"{c}[{i}]: {a!r} vs {b!r}"
    return None


class Checker:
    """Checks query results against DuckDB oracles over ``data_dir``."""

    def __init__(self, data_dir: str, table_names):
        import duckdb

        self.con = duckdb.connect()
        for t in table_names:
            path = os.path.join(data_dir, f"{t}.parquet")
            self.con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")

    def check(self, oracle_sql: str | None, got: pd.DataFrame) -> str | None:
        """None when ``got`` is right, else a one-line reason."""
        if oracle_sql is None:
            return "query has no oracle"
        return frame_mismatch(got, self.con.sql(oracle_sql).df())

    def close(self) -> None:
        self.con.close()
