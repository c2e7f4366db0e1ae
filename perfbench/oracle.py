"""The DuckDB oracle connection the result checks run against.

The comparison itself is ``tests/conftest.assert_matches_oracle``, so an
entry that matches here matches in the repository's own oracle tests.
"""

from __future__ import annotations

import os
import tempfile

import duckdb

from perfbench.gen import TABLES

# DuckDB shares the machine with the Spark JVM; cap it explicitly.
DUCKDB_MEMORY_LIMIT = "1GB"


def connect(data_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(f"SET memory_limit='{DUCKDB_MEMORY_LIMIT}'")
    con.execute("SET threads=2")
    con.execute(f"SET temp_directory='{tempfile.gettempdir()}'")
    con.execute("SET TimeZone='UTC'")
    for t in TABLES:
        path = os.path.join(data_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    return con

