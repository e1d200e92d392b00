"""Partition-order ulp sweep (r8 VERDICT #8): catch the
embedding_covariance class of bug — a float value whose ROUND(,6) result
depends on partial-aggregation summation order — BEFORE a driver round
does.

For every oracle-bearing registry query (or the names given on argv), run
the Spark side under two deliberately different physical layouts:

  A: shuffle.partitions=1,  default input splits   (one reducer — the
     "sequential sum" order)
  B: shuffle.partitions=37, 64 KiB input splits    (many reducers AND many
     scan partitions — maximally different partial-combine order; 37 is
     prime so hash distribution differs from every power-of-2 default)

and diff the final (rounded) outputs cell-exactly. Any difference means a
float path accumulates in layout-dependent order close enough to a
ROUND(,6) boundary to flip — the fix is exact-decimal accumulation
(embedding_standardize / embedding_covariance pattern), not tolerance.
(A layout sweep can only prove sensitivity, not its absence — the r8
embedding_covariance flip survived two local partition counts and still
tipped in the driver env; queries whose floats ride exact-decimal sums
are immune by construction and this sweep is their regression guard.)

r10 extension (r9 VERDICT #4): the layout diff alone cannot see the bug
class that actually killed embedding_covariance's r9 row — a CROSS-ENGINE
divergence (Spark rounds doubles via exact BigDecimal HALF_UP, DuckDB
scales-and-rounds the binary double) that is layout-stable on both sides.
The driver's value-hash compares exact values, while drive_full /
check_queries normalize floats to round(x, 9) — so a last-ulp cross-engine
difference is invisible locally until a driver row goes red. For every
swept query that emits float columns, layout B's rows are therefore ALSO
compared against the DuckDB oracle with EXACT float repr (no rounding
forgiveness) — the faithful local reproduction of the driver gate. A flag
here means the query's float exit path must be converted to integer units
(the embedding_covariance cov_micros pattern).

Usage:
    python tools/ulp_partition_sweep.py [--sf DIR] [name ...]
Writes one JSON line to SWEEPS.jsonl (tag: ulp_partition_sweep) and exits
non-zero on any A≠B diff or exact-repr oracle diff.
"""
import json
import os
import sys
import time
from decimal import Decimal

os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import SparkSession  # noqa: E402

from recommendation_system_big_data_spark.registry import registry  # noqa: E402

args = sys.argv[1:]
SF = "/root/testdata/sf0.01"
if args and args[0] == "--sf":
    SF = args[1]
    args = args[2:]

R = registry()
names = args or [
    n
    for n, q in R.items()
    if q.oracle is not None and "alias" not in q.tags
]

spark = (
    SparkSession.builder.master("local[8]")
    .appName("ulp-sweep")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)


def _clear_session_caches():
    """Drop the session-scoped PERSISTED frames and fitted models between
    layout runs. Without this, layout B reads the shingle index (and any
    k-means model) materialized under layout A's partitioning, and every
    cached-index consumer compares A against A — a vacuous zero-diff
    (found by round-9 review; the first sweep's dedup-family evidence was
    overstated exactly this way)."""
    from recommendation_system_big_data_spark.catalog import SESSION_CACHE

    SESSION_CACHE.clear()


def _norm_exact(v):
    """repr-exact normalization: floats by exact repr (the driver-hash
    standard — NO round(9) forgiveness), Decimals value-normalized so
    trailing-zero scale differences between engines don't false-flag."""
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, Decimal):
        return "D" + str(v.normalize())
    if hasattr(v, "item"):
        return _norm_exact(v.item())
    return repr(v)


def run(name, shuffle, split_bytes):
    _clear_session_caches()
    spark.conf.set("spark.sql.shuffle.partitions", shuffle)
    spark.conf.set("spark.sql.files.maxPartitionBytes", split_bytes)
    df = R[name].fn(spark, SF)
    rows = sorted(
        [tuple(_norm_exact(v) for v in row) for row in df.collect()],
        key=repr,
    )
    return rows, df.columns, [t for _, t in df.dtypes]


import duckdb  # noqa: E402

con = duckdb.connect()
for t in (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings".split()
):
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")


def oracle_exact(name, cols):
    res = con.execute(R[name].oracle)
    dcols = [d[0] for d in res.description]
    idx = [dcols.index(c) for c in cols]
    return sorted(
        [tuple(_norm_exact(r[i]) for i in idx) for r in res.fetchall()],
        key=repr,
    )


FLOATY = ("float", "double")

fails, oracle_flags, t0 = [], [], time.time()
for i, name in enumerate(names):
    try:
        a, _, _ = run(name, "1", str(128 * 1024 * 1024))
        b, cols, dtypes = run(name, "37", str(64 * 1024))
        if a != b:
            fails.append(name)
            only_a = [r for r in a if r not in b][:2]
            only_b = [r for r in b if r not in a][:2]
            print(f"DIFF {name}: A-only {only_a} B-only {only_b}", flush=True)
            continue
        # Cross-engine exact-repr gate, float-emitting queries only (the
        # knife-edge class; non-float queries are exactly compared by
        # drive_full already, and datetime repr differences would noise).
        if any(t in FLOATY for t in dtypes):
            o = oracle_exact(name, cols)
            if b != o:
                oracle_flags.append(name)
                only_s = [r for r in b if r not in o][:2]
                only_o = [r for r in o if r not in b][:2]
                print(
                    f"ULP  {name}: spark-only {only_s} oracle-only {only_o}",
                    flush=True,
                )
        if (i + 1) % 25 == 0:
            print(f"... {i + 1}/{len(names)} ok ({time.time() - t0:.0f}s)", flush=True)
    except Exception as e:  # pragma: no cover - diagnostic path
        fails.append(name)
        print(f"ERR  {name}: {e}", flush=True)

record = {
    "tag": "ulp_partition_sweep",
    "ts": int(time.time()),
    "sf": SF,
    "checked": len(names),
    "fails": fails,
    "oracle_ulp_flags": oracle_flags,
    "elapsed_sec": round(time.time() - t0, 1),
}
with open(os.path.join(REPO, "SWEEPS.jsonl"), "a") as fh:
    fh.write(json.dumps(record) + "\n")
print(json.dumps(record))
spark.stop()
sys.exit(1 if fails or oracle_flags else 0)
