"""Shared fixtures: one SparkSession per test session, a DuckDB connection
with the testdata views pre-registered (mirroring the driver's verify), and
an oracle-comparison helper replicating the driver's row-count + schema +
order-insensitive value comparison at local scale."""

from __future__ import annotations

import os

import pytest

os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")

from recommendation_system_big_data_spark import oracle  # noqa: E402
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
    con = oracle.connect(SF_DIR)
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


def assert_oracle_match(sdf, duck_con, oracle_sql: str, name: str = "") -> None:
    """Driver-equivalent comparison: same row count, same column names,
    same order-insensitive multiset of rows (``oracle.diff``, rounded rule)."""
    problem = oracle.diff(sdf.columns, sdf.collect(), *oracle.fetch(duck_con, oracle_sql))
    assert problem is None, f"{name}: {problem}"
