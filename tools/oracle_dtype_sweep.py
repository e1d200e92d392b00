"""Sweep every oracle-bearing registry query for driver-hash dtype hazards.

The round driver canonicalizes BOTH the Spark result (``toPandas``) and the
DuckDB oracle result (``fetchdf``) into pandas frames, sorts, and hashes
values **dtype-sensitively**.  Two hazard classes broke rounds 3-4:

1. DuckDB ``SUM(integer)`` returns HUGEINT, which pandas materializes as
   ``float64`` while Spark's ``sum(int)`` arrives as ``int64`` — identical
   values, different hash.  Fix: ``CAST(... AS BIGINT)`` in the oracle.
2. Array/map/struct output columns materialize as ``object`` cells holding
   ``numpy.ndarray`` — unhashable, the canonicalizer dies.  Fix: serialize
   (``array_join`` / ``array_to_string``) on both sides.

This script runs every oracle at a small SF, runs the matching Spark query,
and reports any column whose pandas dtype KIND differs between the two
frames, plus any column containing unhashable cells.  Exit code 1 if any
hazard is found.

Usage:  python tools/oracle_dtype_sweep.py [sf_dir]   (default sf0.001)
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _kind(col: pd.Series) -> str:
    """Collapse pandas dtypes into the equivalence classes the driver hash
    distinguishes: integer vs float vs bool vs datetime vs object/str.
    Spark DATE arrives as object cells of datetime.date while DuckDB DATE
    arrives as datetime64 — the driver canon stringifies both identically
    (verified hash-green in r4 for dpp_partition_pruned_join), so object-of-
    date classifies as datetime."""
    import datetime

    k = np.dtype(col.dtype).kind if col.dtype != object else "O"
    if k in ("i", "u"):
        return "int"
    if k == "f":
        return "float"
    if k == "b":
        return "bool"
    if k == "M":
        return "datetime"
    if k == "O":
        sample = col.dropna().head(3)
        if len(sample) and all(isinstance(v, datetime.date) for v in sample):
            return "datetime"
    return "object"


def _unhashable_cols(pdf: pd.DataFrame) -> list[str]:
    bad = []
    for c in pdf.columns:
        col = pdf[c]
        if col.dtype == object:
            sample = col.dropna().head(5)
            for v in sample:
                try:
                    hash(v)
                except TypeError:
                    bad.append(c)
                    break
    return bad


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])  # optional query-name filter

    from recommendation_system_big_data_spark import oracle
    from recommendation_system_big_data_spark.registry import registry
    from recommendation_system_big_data_spark.session import get_spark

    reg = registry()
    spark = get_spark()
    con = oracle.connect(sf_dir)

    hazards: list[str] = []
    checked = 0
    for name, entry in sorted(reg.items()):
        if only and name not in only:
            continue
        oracle = getattr(entry, "oracle", None)
        if oracle is None:
            # ⊘ rows-only entries still go through the driver canonicalizer
            # (pandas sort/hash) — unhashable array/map cells crash it even
            # without an oracle (the r5 stat_freq_items failure class), so
            # sweep the Spark output alone.
            checked += 1
            try:
                spdf = entry.fn(spark, sf_dir).toPandas()
            except Exception as e:
                hazards.append(f"{name}: SPARK ERROR {type(e).__name__}: {e}")
                continue
            for c in _unhashable_cols(spdf):
                hazards.append(
                    f"{name}.{c}: UNHASHABLE spark cells (rows-only query)"
                )
            continue
        checked += 1
        try:
            opdf = con.execute(oracle).fetchdf()
        except Exception as e:
            hazards.append(f"{name}: ORACLE ERROR {type(e).__name__}: {e}")
            continue
        try:
            spdf = entry.fn(spark, sf_dir).toPandas()
        except Exception as e:
            hazards.append(f"{name}: SPARK ERROR {type(e).__name__}: {e}")
            continue

        if sorted(opdf.columns) != sorted(spdf.columns):
            hazards.append(
                f"{name}: COLUMN MISMATCH oracle={sorted(opdf.columns)} spark={sorted(spdf.columns)}"
            )
            continue
        for c in opdf.columns:
            ok, sk = _kind(opdf[c]), _kind(spdf[c])
            if ok != sk:
                # all-NULL object columns on either side are noise only if
                # both sides are empty; flag everything else
                hazards.append(f"{name}.{c}: dtype kind oracle={ok} spark={sk}")
        for c in _unhashable_cols(opdf):
            hazards.append(f"{name}.{c}: UNHASHABLE oracle cells (array/map?)")
        for c in _unhashable_cols(spdf):
            hazards.append(f"{name}.{c}: UNHASHABLE spark cells (array/map?)")
        # join_anti is legitimately empty at every test SF (every customer
        # has an order; hash-matched trivially in r1); q7's nation-pair
        # date window only populates from sf0.01 up (verified non-empty at
        # the driver's sf0.01).
        _empty_ok = ("join_anti", "q7_nation_volume")
        if len(opdf) == 0 and not name.endswith(_empty_ok):
            hazards.append(f"{name}: EMPTY oracle result at {os.path.basename(sf_dir)}")

    print(f"checked {checked} queries (oracle-bearing + rows-only)")
    if hazards:
        print(f"{len(hazards)} hazard(s):")
        for h in hazards:
            print("  " + h)
        return 1
    print("no dtype hazards found")
    return 0


if __name__ == "__main__":
    sys.exit(main())
