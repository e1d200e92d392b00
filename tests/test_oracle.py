"""``oracle.diff`` on planted row lists, with no Spark session: the verdict
the Tier-1 oracle tests and tools/check_queries.py give, under both cell
rules, and the guard that the engine's query path never loads DuckDB."""

from __future__ import annotations

import subprocess
import sys
from decimal import Decimal

import numpy as np
import pytest

from recommendation_system_big_data_spark import oracle
from recommendation_system_big_data_spark.session import PACKAGE_PARENT

RULES = [oracle.rounded, oracle.exact]
COLS = ["k", "v"]
ROWS = [(i, float(i) / 3) for i in range(6)]


@pytest.mark.parametrize("cell", RULES)
def test_equal_rows_in_any_order_and_column_order_pass(cell):
    swapped = [(v, k) for k, v in reversed(ROWS)]
    assert oracle.diff(COLS, ROWS, ["v", "k"], swapped, cell) is None


@pytest.mark.parametrize("cell", RULES)
def test_an_extra_oracle_column_fails(cell):
    extra = [(k, v, 0) for k, v in ROWS]
    assert "columns differ" in oracle.diff(COLS, ROWS, [*COLS, "x"], extra, cell)


@pytest.mark.parametrize("cell", RULES)
def test_a_missing_row_is_reported_oracle_only_without_shifted_pairs(cell):
    problem = oracle.diff(COLS, ROWS[1:], COLS, ROWS, cell)
    assert problem == (
        f"rows spark=5 oracle=6; spark-only []; oracle-only [{tuple(map(cell, ROWS[0]))}]"
    )


@pytest.mark.parametrize("cell", RULES)
@pytest.mark.parametrize(
    "spark_cell, oracle_cell",
    [
        (float("nan"), float("nan")),
        (np.float64(0.25), 0.25),
        (np.int64(7), 7),
        (Decimal("1.50"), Decimal("1.5")),
    ],
    ids=["nan", "numpy-float", "numpy-int", "decimal-scale"],
)
def test_equal_cells_pass_under_both_rules(cell, spark_cell, oracle_cell):
    assert oracle.diff(["c"], [(spark_cell,)], ["c"], [(oracle_cell,)], cell) is None


@pytest.mark.parametrize(
    "spark_cell, oracle_cell",
    [(0.1 + 1e-12, 0.1), (-0.0, 0.0)],
    ids=["1e-12", "negative-zero"],
)
def test_rounded_forgives_what_exact_does_not(spark_cell, oracle_cell):
    spark_rows, oracle_rows = [(1, spark_cell)], [(1, oracle_cell)]
    assert oracle.diff(COLS, spark_rows, COLS, oracle_rows, oracle.rounded) is None
    assert "spark-only" in oracle.diff(COLS, spark_rows, COLS, oracle_rows, oracle.exact)


def test_rows_with_list_cells_are_matched():
    spark_rows = [(1, [0.5, 1.0]), (2, [2.0])]
    assert oracle.diff(COLS, spark_rows, COLS, spark_rows[::-1]) is None
    problem = oracle.diff(COLS, spark_rows, COLS, [(1, [0.5, 1.0]), (2, [3.0])])
    assert problem.endswith("spark-only [(2, [2.0])]; oracle-only [(2, [3.0])]")


def test_equal_rows_sorted_apart_are_reported_as_pairs():
    """Decimal 1.5 equals float 1.5, but their reprs sort on opposite
    sides of 2.0: the multisets agree, the pairwise verdict fails."""
    problem = oracle.diff(["c"], [(Decimal("1.5"),), (2.0,)], ["c"], [(1.5,), (2.0,)])
    assert problem.startswith("rows spark=2 oracle=2; 2 pairs differ in sort order")


def test_query_path_never_loads_duckdb():
    """Building the registry imports every query module; DuckDB must not
    come with it (its allocator would count in the engine's memory)."""
    code = ("import sys; from recommendation_system_big_data_spark.registry import registry; "
            "registry(); assert 'duckdb' not in sys.modules")
    subprocess.run([sys.executable, "-c", code], cwd=PACKAGE_PARENT, check=True, timeout=120)
