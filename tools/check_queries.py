"""Check registry queries against their DuckDB oracles under a vanilla
SparkSession: every ``__spark_entry__.queries()`` entry (or the names
given), oracle-diffed where ``oracle_sql()`` has one and row-counted
otherwise. Usage:

    python tools/check_queries.py [--sf DIR] [--exact] [name ...]

``--sf`` defaults to sf0.01. ``--exact`` compares cells by
``oracle.exact`` (repr, as an exact value hash does) instead of
``oracle.rounded``. A run over every query appends one record to
SWEEPS.jsonl; a run over some names writes none. Exits 1 on any failure.
"""
import argparse
import os
import sys
import time

os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession  # noqa: E402

import __spark_entry__ as E  # noqa: E402
from recommendation_system_big_data_spark import oracle  # noqa: E402
from recommendation_system_big_data_spark.catalog import DEFAULT_SF_DIR  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--sf", default=os.path.join(os.path.dirname(DEFAULT_SF_DIR), "sf0.01"))
    ap.add_argument("--exact", action="store_true")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()
    cell = oracle.exact if args.exact else oracle.rounded

    spark = (SparkSession.builder.master("local[8]").appName("check-queries")
             .config("spark.ui.enabled", "false").getOrCreate())
    queries, oracles = E.queries(), E.oracle_sql()
    con = oracle.connect(args.sf)
    fails, t_start = [], time.time()
    for name in args.names or queries:
        t0 = time.time()
        try:
            sdf = queries[name](spark, args.sf)
            if name in oracles:
                rows = sdf.collect()
                problem = oracle.diff(sdf.columns, rows, *oracle.fetch(con, oracles[name]), cell)
                status, detail = ("FAIL", problem) if problem else ("OK", f"{len(rows)} rows")
            else:
                status, detail = "ROWS", str(sdf.count())
        except Exception as e:
            status, detail = "ERROR", f"{type(e).__name__}: {str(e)[:160]}"
        if status in ("FAIL", "ERROR"):
            fails.append(name)
        print(f"{status:5} {name} {detail} {time.time() - t0:.1f}s", flush=True)
    wall = round(time.time() - t_start, 1)
    print(f"TOTAL {wall:.0f}s FAILS: {fails or 'none'}")
    if not args.names:
        oracle.append_sweep(sf=args.sf, n_queries=len(queries),
                            n_oracle=sum(n in oracles for n in queries), fails=fails, wall_s=wall)
    spark.stop()
    return 1 if fails else 0


if __name__ == "__main__":
    sys.exit(main())
