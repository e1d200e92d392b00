"""Spark-vs-DuckDB oracle diff for registry queries.

A query passes against its ``oracle_sql()`` entry when the row count, the
column names and the rows in any order agree. Tests and tools make that
check through this module only: ``connect`` registers the DuckDB views,
``fetch`` runs an oracle, ``diff`` gives the verdict under one of two cell
rules, and ``append_sweep`` records a completed sweep.

- ``rounded``: floats to 9 decimals, NaN as ``"NaN"``. The Tier-1 rule.
- ``exact``: ``repr`` of every cell, Decimals value-normalised. A last-ulp
  float difference or ``-0.0`` against ``0.0`` fails here, as it does
  under an exact value hash.

The engine's query path never imports this module, so only tests and
tools load ``duckdb``.
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import time
from collections import Counter
from decimal import Decimal

import duckdb

from recommendation_system_big_data_spark.catalog import TABLES
from recommendation_system_big_data_spark.session import PACKAGE_PARENT

SWEEPS = os.path.join(PACKAGE_PARENT, "SWEEPS.jsonl")
#: Rows a failed ``diff`` names per side.
SHOW = 3


def connect(sf_dir: str, tables=TABLES) -> duckdb.DuckDBPyConnection:
    """An in-memory DuckDB with one view per ``<t>.parquet`` under
    ``sf_dir``: a single file, or a Spark-written directory of parts."""
    con = duckdb.connect()
    for t in tables:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.isdir(path):
            path = os.path.join(path, "*.parquet")
        elif not os.path.exists(path):
            continue
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    return con


def rounded(v):
    """Floats to 9 decimals, NaN as ``"NaN"``, NumPy scalars unwrapped."""
    if hasattr(v, "item"):
        v = v.item()
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 9)
    return v


def exact(v) -> str:
    """``repr`` of the cell, Decimals value-normalised (``1.50`` is ``1.5``)."""
    if hasattr(v, "item"):
        v = v.item()
    if isinstance(v, Decimal):
        return "D" + str(v.normalize())
    return repr(v)


def _countable(row):
    try:
        hash(row)
        return row
    except TypeError:  # a list cell
        return repr(row)


def _one_sided(a: list, b: list) -> list:
    """The first rows of ``a`` left over after matching ``b`` against it
    as multisets."""
    left = Counter(map(_countable, a)) - Counter(map(_countable, b))
    return [r for r in a if left[_countable(r)] > 0][:SHOW]


def diff(spark_cols, spark_rows, oracle_cols, oracle_rows, cell=rounded):
    """None when the sides agree, else what differs.

    Column names must agree in any order; the oracle's columns are put in
    Spark's order, every cell goes through ``cell``, and rows are sorted by
    ``repr`` and compared pairwise. A failure names the first rows found on
    only one side, matched as multisets."""
    spark_cols, oracle_cols = list(spark_cols), list(oracle_cols)
    if sorted(spark_cols) != sorted(oracle_cols):
        return f"columns differ: spark={spark_cols} oracle={oracle_cols}"
    idx = [oracle_cols.index(c) for c in spark_cols]
    s = sorted((tuple(cell(v) for v in r) for r in spark_rows), key=repr)
    o = sorted((tuple(cell(r[i]) for i in idx) for r in oracle_rows), key=repr)
    pairs = [(a, b) for a, b in zip(s, o) if a != b]
    if len(s) == len(o) and not pairs:
        return None
    head = f"rows spark={len(s)} oracle={len(o)}"
    s_only, o_only = _one_sided(s, o), _one_sided(o, s)
    if s_only or o_only:
        return f"{head}; spark-only {s_only}; oracle-only {o_only}"
    return f"{head}; {len(pairs)} pairs differ in sort order, first {pairs[:SHOW]}"


def fetch(con, sql: str) -> tuple[list, list]:
    """The oracle's column names and rows: ``diff``'s last two inputs."""
    res = con.execute(sql)
    return [d[0] for d in res.description], res.fetchall()


def append_sweep(**fields) -> None:
    """Append one completed sweep's record, stamped with the time and the
    repo's short HEAD, to ``SWEEPS.jsonl``."""
    try:
        head = subprocess.run(
            ["git", "-C", PACKAGE_PARENT, "rev-parse", "--short", "HEAD"],
            capture_output=True, text=True, timeout=10,
        ).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        head = "unknown"
    with open(SWEEPS, "a") as fh:
        fh.write(json.dumps({"ts": time.time(), **fields, "head": head}) + "\n")
