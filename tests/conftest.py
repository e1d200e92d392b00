"""Shared fixtures: one SparkSession per test session, a DuckDB connection
with the testdata views pre-registered (mirroring the driver's verify), and
an oracle-comparison helper replicating the driver's row-count + schema +
order-insensitive value comparison at local scale."""

from __future__ import annotations

import math
import os

import duckdb
import pytest

os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")

from recommendation_system_big_data_spark.catalog import TABLES  # noqa: E402
from recommendation_system_big_data_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("RSBD_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="rsbd-tests", master="local[*]", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    yield con
    con.close()


def count_jobs(spark, group: str, fn):
    """Run ``fn`` under a fresh job group; (result, Spark jobs it ran)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _norm(v):
    """Normalize a cell for cross-engine comparison."""
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return round(v, 9)
    if hasattr(v, "item"):  # numpy scalar
        return _norm(v.item())
    return v


def assert_oracle_match(sdf, duck_con, oracle_sql: str, name: str = "") -> None:
    """Driver-equivalent comparison: same row count, same column names,
    same order-insensitive multiset of rows."""
    spark_cols = list(sdf.columns)
    spark_rows = [tuple(_norm(v) for v in row) for row in sdf.collect()]

    res = duck_con.execute(oracle_sql)
    duck_cols = [d[0] for d in res.description]
    duck_rows = [tuple(_norm(v) for v in row) for row in res.fetchall()]

    assert sorted(spark_cols) == sorted(duck_cols), (
        f"{name}: column mismatch spark={spark_cols} duck={duck_cols}"
    )
    # align duck column order to spark's
    idx = [duck_cols.index(c) for c in spark_cols]
    duck_rows = [tuple(r[i] for i in idx) for r in duck_rows]

    assert len(spark_rows) == len(duck_rows), (
        f"{name}: row count spark={len(spark_rows)} duck={len(duck_rows)}"
    )
    sspark = sorted(spark_rows, key=repr)
    sduck = sorted(duck_rows, key=repr)
    mismatches = [
        (a, b) for a, b in zip(sspark, sduck) if a != b
    ]
    assert not mismatches, f"{name}: {len(mismatches)} row mismatches; first: {mismatches[:3]}"
