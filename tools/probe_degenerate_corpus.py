"""Degenerate-corpus probe — the committed form of the r12 ad-hoc probe
(VERDICT r12 #4). Hunts the ANSI divide-by-zero / LN-domain class
engine-wide: build degenerate variants of sf0.001 (constant numeric
columns; single-day single-class facts) and run EVERY oracle-bearing
canonical registry query against each, Spark vs DuckDB. Any query whose
x/σ-shaped exit is unguarded either ERRORs on Spark (ANSI raise where
DuckDB NULLs) or HASH-FAILs (engines disagreeing on the degenerate) —
both are findings.

Usage: python tools/probe_degenerate_corpus.py [fixture ...] [--names n1,n2]
                                                 [--rows-only]
  fixtures default to: const oneday tiny mixed
  --names restricts to the listed queries (fast fix-iteration loop; the
  restricted run does NOT append to SWEEPS.jsonl)
  --rows-only ALSO runs the oracle-less (⊘) queries as a crash check
  (count() only — an ANSI raise on a degenerate corpus is a finding
  even without an oracle to diff)
Writes one JSON line per fixture to SWEEPS.jsonl (tag degenerate_probe).
"""

from __future__ import annotations

import os
import shutil
import sys
import time

os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pandas as pd  # noqa: E402
import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

from recommendation_system_big_data_spark import oracle  # noqa: E402
from recommendation_system_big_data_spark.catalog import TABLES  # noqa: E402

BASE = "/root/testdata/sf0.001"


def _write_like(src: str, dst: str, df: pd.DataFrame) -> None:
    """Write df with the SOURCE file's exact arrow schema (dtype drift in
    the fixture would itself cause spurious cross-engine noise)."""
    schema = pq.read_schema(src)
    pq.write_table(pa.Table.from_pandas(df, schema=schema, preserve_index=False), dst)


def build_fixture(kind: str, root: str) -> str:
    """Derive a degenerate corpus from sf0.001. Keys, strings, and join
    structure stay intact — only the measured axes degenerate, so joins
    and group-bys still exercise their real paths."""
    out = os.path.join(root, kind)
    if os.path.isdir(out):
        shutil.rmtree(out)
    os.makedirs(out)
    for t in TABLES:
        src = os.path.join(BASE, f"{t}.parquet")
        df = pq.read_table(src).to_pandas()
        if kind == "const":
            # Every numeric measure constant (σ = 0 everywhere); prices
            # flat per unit so elasticity-style log-log slopes degenerate.
            if t == "events":
                df["value"] = 5.0
            elif t == "lineitem":
                df["l_quantity"] = 5.0
                df["l_extendedprice"] = 15.0
                df["l_discount"] = 0.05
                df["l_tax"] = 0.0
            elif t == "orders":
                df["o_totalprice"] = 100.0
            elif t == "customer":
                df["c_acctbal"] = 50.0
            elif t == "supplier" and "s_acctbal" in df:
                df["s_acctbal"] = 50.0
            elif t == "part" and "p_retailprice" in df:
                df["p_retailprice"] = 10.0
        elif kind == "oneday":
            # All facts on ONE day and ONE class: n_days−1, pos/(n−pos),
            # per-day variances, and between-group denominators all zero.
            if t == "events":
                d0 = df["ts"].min().normalize()
                df["ts"] = d0 + pd.to_timedelta(
                    df["event_id"].to_numpy() % 86_400, unit="s"
                )
                df["event_type"] = "purchase"
            elif t == "orders":
                df["o_orderstatus"] = "F"
                df["o_orderdate"] = df["o_orderdate"].min().normalize()
        elif kind == "mixed":
            # PARTIALLY degenerate (the ADVICE r13 class the all-uniform
            # fixtures cannot catch): ONE event_type group goes constant
            # while the others vary — rank/ordering paths must handle a
            # NULL-p/zero-variance MEMBER next to live ones (Spark sorts
            # NULLs first, DuckDB last); orders collapse to THREE days
            # with three distinct daily revenues, the exact n1=1/n2=1
            # above/below-median split that zeroes the runs-test
            # variance while n_days-style guards still pass.
            if t == "events":
                g = sorted(df["event_type"].dropna().unique())[0]
                df.loc[df["event_type"] == g, "value"] = 7.0
            elif t == "orders":
                days = pd.to_datetime(
                    ["1995-01-01", "1995-01-02", "1995-01-03"]
                )
                n = len(df)
                df["o_orderdate"] = [days[i % 3] for i in range(n)]
                df["o_totalprice"] = (
                    100.0 + (pd.Series(range(n)) % 3).to_numpy() * 1.0
                )
        elif kind == "tiny":
            # ONE row per table: every n−1 denominator, VAR_SAMP (Spark
            # NaN vs DuckDB NULL!), lag/window pair, and split is at its
            # smallest legal-but-degenerate size. Dimension keys stay
            # consistent because every table keeps its FIRST row and the
            # generator emits keys in order — joins may legitimately go
            # empty, which is part of the class being probed.
            df = df.iloc[:1].copy()
        else:
            raise SystemExit(f"unknown fixture kind: {kind}")
        _write_like(src, os.path.join(out, f"{t}.parquet"), df)
    return out


def clear_session_caches() -> None:
    """Session-persisted index caches are keyed per sf_dir, but clear them
    anyway so no fixture reads another's materialization (the r9
    layout-sweep lesson)."""
    from recommendation_system_big_data_spark.catalog import SESSION_CACHE

    SESSION_CACHE.clear()


def main() -> None:
    argv = sys.argv[1:]
    only: set[str] | None = None
    include_rows_only = "--rows-only" in argv
    if include_rows_only:
        argv.remove("--rows-only")
    if "--names" in argv:
        i = argv.index("--names")
        only = set(argv[i + 1].split(","))
        argv = argv[:i] + argv[i + 2:]
    kinds = argv or ["const", "oneday", "tiny", "mixed"]
    root = "/tmp/degen_corpus"
    from pyspark.sql import SparkSession

    from recommendation_system_big_data_spark.registry import registry

    spark = (
        SparkSession.builder.master("local[16]")
        .appName("degenerate-probe")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "16")
        .getOrCreate()
    )
    defs = registry()
    canon = {
        n: q for n, q in defs.items()
        if "alias" not in q.tags
        and (q.oracle is not None or include_rows_only)
        and (only is None or n in only)
    }
    exit_code = 0
    for kind in kinds:
        sf = build_fixture(kind, root)
        clear_session_caches()
        con = oracle.connect(sf)
        fails, t_start = [], time.time()
        for name, qd in canon.items():
            t0 = time.time()
            try:
                sdf = qd.fn(spark, sf)
                if qd.oracle is None:
                    # rows-only (⊘) query: crash check only — there is no
                    # oracle to diff, but an ANSI raise on a degenerate
                    # corpus is still a finding.
                    sdf.count()
                    continue
                problem = oracle.diff(
                    sdf.columns, sdf.collect(), *oracle.fetch(con, qd.oracle)
                )
                if problem:
                    fails.append(name)
                    print(f"HASH-FAIL [{kind}] {name} {problem}", flush=True)
            except Exception as e:
                fails.append(name)
                print(f"ERROR [{kind}] {name} "
                      f"{type(e).__name__}: {str(e)[:160]}", flush=True)
            else:
                if time.time() - t0 > 10:
                    print(f"slow [{kind}] {name} {time.time()-t0:.0f}s",
                          flush=True)
        con.close()
        wall = round(time.time() - t_start, 1)
        print(f"[{kind}] {len(canon)} queries, {len(fails)} fails, "
              f"{wall}s", flush=True)
        if only is not None:
            if fails:
                exit_code = 1
            continue
        oracle.append_sweep(tag="degenerate_probe", fixture=kind,
                            n_queries=len(canon), fails=fails, wall_s=wall)
        if fails:
            exit_code = 1
    spark.stop()
    sys.exit(exit_code)


if __name__ == "__main__":
    main()
