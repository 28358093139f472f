"""Result checks that run outside the timed sections.

Analytics results are compared with DuckDB running the operator's
registered oracle SQL over the same parquet files, with the strict,
order-insensitive cell equality tests/test_oracle.py uses (floats
compared by repr after the engines' canonical normalization).
"""

from __future__ import annotations

from datetime import date, datetime
from decimal import Decimal

import duckdb
import pyarrow as pa


def duck_connect(sf_dir: str, tables: tuple[str, ...]) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in tables:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def _norm_cell(v):
    if v is None:
        return None
    if isinstance(v, float) and v != v:
        return None
    if isinstance(v, bool):
        return ("b", v)
    if isinstance(v, Decimal):
        return str(v)
    if isinstance(v, float):
        return ("f", repr(v))
    if isinstance(v, int):
        return ("i", v)
    if isinstance(v, datetime):
        return ("t", v.replace(tzinfo=None).isoformat())
    if isinstance(v, date):
        return ("d", v.isoformat())
    if isinstance(v, (list, tuple)):
        return tuple(_norm_cell(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm_cell(x)) for k, x in v.items()))
    return v


def canonical_rows(table: pa.Table) -> tuple[list[str], list[tuple]]:
    """Sorted column names and the sorted, normalized row tuples."""
    cols = sorted(table.column_names)
    data = [table.column(c).to_pylist() for c in cols]
    rows = [tuple(_norm_cell(v) for v in r) for r in zip(*data)]
    rows.sort(key=lambda r: tuple((x is None, str(x)) for x in r))
    return cols, rows


def same_table(got: pa.Table, want: pa.Table) -> str | None:
    """None when the two tables hold the same rows; else a reason."""
    g_cols, g_rows = canonical_rows(got)
    w_cols, w_rows = canonical_rows(want)
    if g_cols != w_cols:
        return f"columns {g_cols} != {w_cols}"
    if len(g_rows) != len(w_rows):
        return f"{len(g_rows)} rows != {len(w_rows)}"
    bad = sum(1 for a, b in zip(g_rows, w_rows) if a != b)
    return f"{bad} mismatching rows" if bad else None
