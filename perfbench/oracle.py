"""Result checks against the registered DuckDB oracles.

The table registration (ingest gates applied) and the normalisation are the
engine's parity suite's own, imported from ``tests/oracle.py``: sorted column
names, row count, then order-insensitive values normalised per cell.
"""

from __future__ import annotations

import duckdb

from tests.oracle import _register_views, normalize


def connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with the ten tables registered, ingest gates applied."""
    con = duckdb.connect()
    _register_views(con, sf_dir)
    return con


def mismatch(con, oracle_sql: str, cols: list[str], rows: list[tuple]) -> str | None:
    """None when ``(cols, rows)`` equals the oracle's result, else the reason."""
    cur = con.execute(oracle_sql)
    o_cols = [d[0] for d in cur.description]
    o_rows = cur.fetchall()
    if sorted(cols) != sorted(o_cols):
        return f"columns {sorted(cols)} != oracle {sorted(o_cols)}"
    if len(rows) != len(o_rows):
        return f"{len(rows)} rows != oracle {len(o_rows)}"
    for a, b in zip(normalize(cols, rows), normalize(o_cols, o_rows)):
        if a != b:
            return f"row {a} != oracle {b}"
    return None
