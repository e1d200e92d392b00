"""Flagship query — the reference's canonical query shape on testdata.

The reference's enrichment query (model-als.py:141-158, SURVEY.md §3.3) is
"top-5 titles per media type among recommendations, ranked by global average
rating": scan → broadcast join to a dimension → join to a grouped aggregate →
filter → sort → limit. Re-expressed over the driver's star schema as
**top-5 customers per order priority by average order value**, with the
per-type filter+sort+limit pair generalized to a window-ranked top-k
(the idiomatic Spark form of the reference's two filter branches).

Physical plan this is designed to produce (asserted in tests):
- partial+final HashAggregate for the per-customer average (map-side combine
  → one shuffle on o_custkey),
- BroadcastHashJoin against `customer` while the dimension is provably small
  (size-gated hint — see catalog.maybe_broadcast; above the gate AQE's
  runtime stats pick broadcast vs shuffle),
- a two-phase top-k: a salted (o_orderpriority, salt) pre-rank window that
  prunes to ≤5 rows per subgroup, then the exact global rank over the
  survivors — the 5-distinct-value priority column never becomes a
  5-task window bottleneck.
At 100 TB: the aggregation shuffles once on a high-cardinality key (no skew —
custkeys are uniform); the pre-rank window spreads over priority×64 salt
partitions and the final rank sees ≤ 5×64 rows per priority; the dimension
join runs after the prune over ~25 rows; nothing collects to the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from recommendation_system_big_data_spark.catalog import load, maybe_broadcast
from recommendation_system_big_data_spark.registry import register

FLAGSHIP_ORACLE = """
WITH per_cust AS (
    SELECT o_custkey,
           o_orderpriority,
           ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                 / COUNT(*), 6)        AS avg_order_value,
           COUNT(*)                    AS order_count
    FROM orders
    GROUP BY o_custkey, o_orderpriority
), ranked AS (
    SELECT o_orderpriority,
           o_custkey,
           c_custkey,
           c_name,
           c_mktsegment,
           avg_order_value,
           order_count,
           ROW_NUMBER() OVER (
               PARTITION BY o_orderpriority
               ORDER BY avg_order_value DESC, o_custkey ASC
           ) AS rnk
    FROM per_cust
    LEFT JOIN customer ON o_custkey = c_custkey
)
SELECT o_orderpriority, c_custkey, c_name, c_mktsegment,
       avg_order_value, order_count, rnk
FROM ranked
WHERE rnk <= 5
"""


@register("flagship_top_customers", oracle=FLAGSHIP_ORACLE, tags=("pipeline", "headline", "pure"))
def flagship_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """scan → agg → join dim → window top-k (model-als.py:141-158 shape).

    The average uses the repo's decimal-sum convention (exact DECIMAL(18,2)
    sum, one double division — order-independent, so partition count can't
    flip the hash check), the rank tiebreaks on the join's non-nullable
    o_custkey side (Spark sorts NULLs first on ASC, DuckDB last — c_custkey
    would diverge on any custkey missing from customer), and the customer
    broadcast is size-gated: customer grows 1.5 M rows/SF, so the hint only
    applies while the table is provably small, after which AQE's runtime
    stats pick the strategy.

    Two-phase top-k (VERDICT r2 #4, pattern documented in SCALING.md):
    o_orderpriority has 5 distinct values, so a single
    `Window.partitionBy(priority)` funnels ~customers×5 rows through 5
    tasks at any scale. Phase 1 ranks within (priority, salt) — salt =
    hash(custkey) mod 64, so 320 well-spread window partitions — and keeps
    each subgroup's top 5; any global top-5 row is necessarily in its
    subgroup's top 5 (subgroup ⊆ group, same total order), so the prune is
    lossless. Phase 2 runs the exact global rank over the ≤ 5×64 surviving
    rows per priority. The dimension join happens AFTER the prune: only
    ~25 final rows fetch customer attributes instead of the whole
    per-customer aggregate."""
    orders = load(spark, sf_dir, "orders")
    customer = load(spark, sf_dir, "customer")

    per_cust = orders.groupBy("o_custkey", "o_orderpriority").agg(
        F.round(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("avg_order_value"),
        F.count(F.lit(1)).alias("order_count"),
    )

    topk_order = (F.desc("avg_order_value"), F.asc("o_custkey"))
    pre_window = Window.partitionBy("o_orderpriority", "salt").orderBy(*topk_order)
    rank_window = Window.partitionBy("o_orderpriority").orderBy(*topk_order)

    survivors = (
        per_cust.withColumn("salt", F.pmod(F.xxhash64("o_custkey"), F.lit(64)))
        .withColumn("pre_rnk", F.row_number().over(pre_window))
        .filter(F.col("pre_rnk") <= 5)
        .drop("salt", "pre_rnk")
    )

    return (
        survivors.withColumn("rnk", F.row_number().over(rank_window))
        .filter(F.col("rnk") <= 5)
        .join(
            maybe_broadcast(customer, sf_dir, "customer"),
            F.col("o_custkey") == customer["c_custkey"],
            how="left",
        )
        .select(
            "o_orderpriority",
            "c_custkey",
            "c_name",
            "c_mktsegment",
            "avg_order_value",
            "order_count",
            "rnk",
        )
    )
