"""Output checks against DuckDB oracles.

The comparison is the catalog correctness gate's own, imported from
``tests/oracle.py``: the same column names in any order and, after sorting
columns by name, rounding floats to 6 places and sorting rows, the same
values. ``tests.oracle`` imports the engine package, so it is imported
only when a check runs, after every timed set-up.
"""

from __future__ import annotations

import duckdb


def star_views(star_dir: str) -> duckdb.DuckDBPyConnection:
    """The oracle connection over the star-schema tables in ``star_dir``."""
    from tests.oracle import duckdb_con

    return duckdb_con(star_dir)


def parquet_views(paths: dict[str, str]) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per ``name → parquet glob``."""
    con = duckdb.connect()
    for name, path in paths.items():
        con.execute(
            f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM read_parquet('{path}')"
        )
    return con


def canonical(columns: list[str], rows: list[tuple]) -> tuple:
    """Order-insensitive, float-rounded form of a result set."""
    from tests.oracle import rows_canonical

    return (tuple(sorted(columns)), rows_canonical(columns, rows))


def oracle(con: duckdb.DuckDBPyConnection, sql: str) -> tuple:
    rel = con.sql(sql)
    return canonical(list(rel.columns), rel.fetchall())
