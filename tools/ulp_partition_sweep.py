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
An exact value hash compares exact values, while check_queries and
Tier-1 round floats to 9 decimals (``oracle.rounded``) — so a last-ulp
cross-engine difference is invisible to the rounded check. For every
swept query that emits float columns, layout B's rows are therefore ALSO
diffed against the DuckDB oracle under ``oracle.exact`` (no rounding
forgiveness). A flag here means the query's float exit path must be
converted to integer units (the embedding_covariance cov_micros pattern).

Usage:
    python tools/ulp_partition_sweep.py [--sf DIR] [name ...]
Writes one JSON line to SWEEPS.jsonl (tag: ulp_partition_sweep) and exits
non-zero on any A≠B diff or exact-repr oracle diff.
"""
import os
import sys
import time

os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession  # noqa: E402

from recommendation_system_big_data_spark import oracle  # noqa: E402
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


def run(name, shuffle, split_bytes):
    _clear_session_caches()
    spark.conf.set("spark.sql.shuffle.partitions", shuffle)
    spark.conf.set("spark.sql.files.maxPartitionBytes", split_bytes)
    df = R[name].fn(spark, SF)
    return df.columns, df.collect(), [t for _, t in df.dtypes]


con = oracle.connect(SF)


FLOATY = ("float", "double")

fails, oracle_flags, t0 = [], [], time.time()
for i, name in enumerate(names):
    try:
        _, a, _ = run(name, "1", str(128 * 1024 * 1024))
        cols, b, dtypes = run(name, "37", str(64 * 1024))
        problem = oracle.diff(cols, a, cols, b, oracle.exact)
        if problem:
            fails.append(name)
            print(f"DIFF {name} (A as spark, B as oracle): {problem}", flush=True)
            continue
        # Cross-engine exact-repr gate, float-emitting queries only (the
        # knife-edge class; non-float queries are exactly compared by
        # check_queries already, and datetime repr differences would noise).
        if any(t in FLOATY for t in dtypes):
            problem = oracle.diff(cols, b, *oracle.fetch(con, R[name].oracle), oracle.exact)
            if problem:
                oracle_flags.append(name)
                print(f"ULP  {name}: {problem}", flush=True)
        if (i + 1) % 25 == 0:
            print(f"... {i + 1}/{len(names)} ok ({time.time() - t0:.0f}s)", flush=True)
    except Exception as e:  # pragma: no cover - diagnostic path
        fails.append(name)
        print(f"ERR  {name}: {e}", flush=True)

record = {
    "tag": "ulp_partition_sweep",
    "sf": SF,
    "checked": len(names),
    "fails": fails,
    "oracle_ulp_flags": oracle_flags,
    "elapsed_sec": round(time.time() - t0, 1),
}
oracle.append_sweep(**record)
print(record)
spark.stop()
sys.exit(1 if fails or oracle_flags else 0)
