"""Correctness gate helpers: table-state digests and query-result comparison.

The CDC gate compares a table's final state with ``cdc.oracle.reduce_log``
as one digest over ``(repo, path, content_sha256, last_seq)``. The
analytics gate compares each query's rows with those of its registry SQL
run under DuckDB, insensitive to row and column order, floats equal to
within rounding noise.
"""

from __future__ import annotations

import decimal
import hashlib
import math
import os

import pandas as pd

STATE_COLS = ["repo", "path", "content_sha256", "last_seq"]


def state_digest(frame: pd.DataFrame) -> str:
    """Order-independent digest of a table state (keys are unique, so
    sorting by key fixes the order)."""
    df = frame[STATE_COLS].sort_values(["repo", "path"], kind="mergesort")
    lines = (df["repo"].astype(str) + "\x00" + df["path"].astype(str) + "\x00"
             + df["content_sha256"].fillna("").astype(str) + "\x00"
             + df["last_seq"].astype("int64").astype(str))
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()


def table_digest(spark, table) -> tuple[str, int]:
    """Digest and row count of a SnapshotTable's current state."""
    pdf = table.read(spark).select(*STATE_COLS).toPandas()
    return state_digest(pdf), len(pdf)


def _norm_cell(v):
    """A result cell as a JSON value (floats kept at full precision)."""
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float) and math.isnan(v):
        return "nan"
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return [_norm_cell(x) for x in v]
    return v


def _order_key(row: list) -> str:
    # floats at one decimal so that rows differing by rounding noise sort alike
    return repr([round(c, 1) if isinstance(c, float) else c for c in row])


def normalize_rows(rows, cols: list[str]) -> dict:
    """A result set as JSON, insensitive to row and column order."""
    order = sorted(range(len(cols)), key=lambda i: cols[i].lower())
    norm = [[_norm_cell(r[i]) for i in order] for r in rows]
    return {"cols": [cols[i].lower() for i in order], "rows": sorted(norm, key=_order_key)}


def _cells_match(a, b) -> bool:
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(_cells_match(x, y) for x, y in zip(a, b))
    if isinstance(a, (int, float)) and isinstance(b, (int, float)) \
            and not isinstance(a, bool) and not isinstance(b, bool):
        # summation order differs between engines: a sum rounded to two
        # decimals may land one unit of the second decimal apart
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=0.01 + 1e-9)
    return a == b


def rows_match(got: dict, want: dict) -> bool:
    """Whether two normalized result sets hold the same rows, floats equal
    to within rounding noise."""
    return (got["cols"] == want["cols"] and len(got["rows"]) == len(want["rows"])
            and all(_cells_match(a, b) for a, b in zip(got["rows"], want["rows"])))


def duckdb_results(data_dir: str, sqls: dict[str, str]) -> dict[str, dict]:
    """Run each oracle SQL under DuckDB over the parquet tables in
    ``data_dir``; returns the normalized result sets."""
    import duckdb

    con = duckdb.connect()
    try:
        for f in sorted(os.listdir(data_dir)):
            if f.endswith(".parquet"):
                path = os.path.join(data_dir, f).replace("'", "''")
                con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{path}'")
        out = {}
        for name, sql in sqls.items():
            res = con.execute(sql)
            out[name] = normalize_rows(res.fetchall(), [c[0] for c in res.description])
        return out
    finally:
        con.close()
