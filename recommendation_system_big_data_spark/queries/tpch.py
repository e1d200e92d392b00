"""Star-schema pipeline queries over the driver testdata (TPC-H-shaped).

These are the scale-bearing headline queries: wide fact scans, multi-way
joins with broadcast dimensions, and high-cardinality aggregation — the
capability class the reference's enrichment query (model-als.py:141-158)
belongs to, expressed the way a 100 TB deployment would run it.

Determinism note (applies to every money-valued aggregate in this repo):
floating-point summation order differs between Spark partial aggregates and
DuckDB parallel aggregates, and at ~10^9 magnitudes the divergence survives
ROUND(x, 6). All fixed-scale inputs (prices, discounts, taxes, quantities,
balances have ≤2 decimals) are therefore summed as DECIMAL — exact, hence
order-independent — and cast back to DOUBLE at the end. Averages divide the
exact decimal sum by the exact count, one deterministic double division.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from recommendation_system_big_data_spark.catalog import load, maybe_broadcast
from recommendation_system_big_data_spark.registry import register


def dsum(col: Column, scale: str = "decimal(18,2)") -> Column:
    """Order-independent sum of a fixed-scale double: cast→DECIMAL→sum→DOUBLE."""
    return F.sum(col.cast(scale)).cast("double")


def davg(col: Column, scale: str = "decimal(18,2)") -> Column:
    """Exact-sum average: decimal sum / count, one double division."""
    return F.round(
        F.sum(col.cast(scale)).cast("double") / F.count(col), 6
    )


def disc_price() -> Column:
    """l_extendedprice * (1 - l_discount) in exact decimal arithmetic."""
    return F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1).cast("decimal(3,0)") - F.col("l_discount").cast("decimal(4,2)")
    )


Q1_ORACLE = """
SELECT l_returnflag,
       l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)       AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)  AS sum_base_price,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS sum_disc_price,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                * (1 - CAST(l_discount AS DECIMAL(4,2)))
                * (1 + CAST(l_tax AS DECIMAL(4,2)))) AS DOUBLE)      AS sum_charge,
       ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(l_quantity), 6)      AS avg_qty,
       ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(l_extendedprice), 6) AS avg_price,
       ROUND(CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / COUNT(l_discount), 6)      AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE CAST(l_shipdate AS DATE) <= DATE '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


@register("q1_pricing_summary", oracle=Q1_ORACLE, tags=("pipeline", "headline", "pure"))
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: one wide fact scan, 6-group aggregate, no joins.

    At scale this is the pure map-side-combine benchmark: partial
    HashAggregate per input partition, 6 groups shuffled, final aggregate.
    The date filter reaches the parquet scan as a pushed predicate.
    """
    li = load(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate").cast("date") <= F.lit("1998-09-02").cast("date")
    )
    one = F.lit(1).cast("decimal(3,0)")
    price_d = F.col("l_extendedprice").cast("decimal(18,2)")
    disc_d = F.col("l_discount").cast("decimal(4,2)")
    tax_d = F.col("l_tax").cast("decimal(4,2)")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum(F.col("l_quantity")).alias("sum_qty"),
            dsum(F.col("l_extendedprice")).alias("sum_base_price"),
            F.sum(price_d * (one - disc_d)).cast("double").alias("sum_disc_price"),
            F.sum(price_d * (one - disc_d) * (one + tax_d)).cast("double").alias("sum_charge"),
            davg(F.col("l_quantity")).alias("avg_qty"),
            davg(F.col("l_extendedprice")).alias("avg_price"),
            davg(F.col("l_discount")).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


Q3_ORACLE = """
SELECT l_orderkey,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
       strftime(o_orderdate, '%Y-%m-%d') AS order_date,
       o_orderpriority
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND CAST(o_orderdate AS DATE) < DATE '1998-01-01'
  AND CAST(l_shipdate AS DATE) > DATE '1998-01-01'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey ASC
LIMIT 10
"""


@register("q3_shipping_priority", oracle=Q3_ORACLE, tags=("pipeline", "headline", "pure"))
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective dim filter → two joins → agg → top-10.

    customer is filtered before the join (Catalyst pushes the predicate),
    then explicitly broadcast: at 100 TB the BUILDING segment of customers
    is still orders of magnitude smaller than the orders×lineitem stream, so
    both joins avoid shuffling the fact tables. orderBy+limit fuses to
    TakeOrderedAndProject (no global sort).
    """
    cust = load(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = load(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").cast("date") < F.lit("1998-01-01").cast("date")
    )
    li = load(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate").cast("date") > F.lit("1998-01-01").cast("date")
    )
    # Only the selective customer dim gets a broadcast hint. orders⋈lineitem
    # is left to AQE: broadcast at small scale, sort-merge on o_orderkey at
    # 100 TB — hinting broadcast on the orders side would OOM a real cluster.
    return (
        li.join(
            orders.join(maybe_broadcast(cust, sf_dir, "customer"), orders["o_custkey"] == cust["c_custkey"]),
            li["l_orderkey"] == F.col("o_orderkey"),
        )
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(disc_price()).cast("double").alias("revenue"))
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
            "o_orderpriority",
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


Q10_ORACLE = """
SELECT c_custkey, c_name, n_name,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey ASC
LIMIT 20
"""


@register("q10_returned_items", oracle=Q10_ORACLE, tags=("pipeline",))
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: who returned the most revenue. The returnflag filter
    pushes to the lineitem scan; nation broadcasts; orders⋈customer and the
    fact join are AQE's choice (sort-merge on uniform keys at 100 TB); the
    top-20 fuses to TakeOrderedAndProject."""
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    nation = load(spark, sf_dir, "nation")
    oc = orders.join(cust, orders["o_custkey"] == cust["c_custkey"]).join(
        F.broadcast(nation), cust["c_nationkey"] == nation["n_nationkey"]
    )
    return (
        li.join(oc, li["l_orderkey"] == oc["o_orderkey"])
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.sum(disc_price()).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


Q5_ORACLE = """
SELECT n_name,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
GROUP BY n_name
ORDER BY revenue DESC, n_name ASC
"""


@register("q5_local_supplier_volume", oracle=Q5_ORACLE, tags=("pipeline", "headline", "pure"))
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-table star join, all dimensions broadcast.

    nation⋈region prunes to one region before touching facts; supplier,
    nation, region, customer are broadcast so the only shuffle left is the
    final 25-group aggregate. This is the canonical "don't shuffle the fact
    table through five joins" plan shape for 100 TB star schemas.
    """
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    supp = load(spark, sf_dir, "supplier")
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")

    asia_nations = nation.join(
        F.broadcast(region), nation["n_regionkey"] == region["r_regionkey"]
    ).select("n_nationkey", "n_name")

    asia_supp = supp.join(
        F.broadcast(asia_nations), supp["s_nationkey"] == asia_nations["n_nationkey"]
    ).select("s_suppkey", "s_nationkey", "n_name")

    # supplier/nation/region are true broadcast dims. orders⋈customer runs
    # FIRST (two medium tables shuffle on custkey), so the enriched order
    # stream carries c_nationkey and the fact table joins exactly once, on
    # o_orderkey — the lineitem stream never re-shuffles on custkey. No
    # hints on the medium joins: AQE broadcasts them at this scale, a
    # 100 TB run sort-merges on the uniform keys.
    orders_c = orders.join(cust, orders["o_custkey"] == cust["c_custkey"]).select(
        "o_orderkey", "c_nationkey"
    )
    return (
        li.join(F.broadcast(asia_supp), li["l_suppkey"] == asia_supp["s_suppkey"])
        .join(
            orders_c,
            (li["l_orderkey"] == orders_c["o_orderkey"])
            & (asia_supp["s_nationkey"] == orders_c["c_nationkey"]),
        )
        .groupBy("n_name")
        .agg(F.sum(disc_price()).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("n_name"))
    )


Q18_ORACLE = """
WITH big_orders AS (
    SELECT l_orderkey
    FROM lineitem
    GROUP BY l_orderkey
    HAVING SUM(l_quantity) > 250
)
SELECT c_name, c_custkey, o_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS order_date,
       o_totalprice,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
WHERE o_orderkey IN (SELECT l_orderkey FROM big_orders)
GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
ORDER BY o_totalprice DESC, o_orderkey ASC
LIMIT 100
"""


@register("q18_large_volume_customers", oracle=Q18_ORACLE, tags=("pipeline", "pure"))
def q18_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: IN-subquery over a grouped HAVING, expressed as a
    semi join against the aggregated key set.

    Scale shape: the big-orders key set comes from ONE map-side-combined
    aggregate of the fact table (p99 threshold → very selective), and the
    fact stream is then *semi*-joined on orderkey — Catalyst plans a
    LeftSemi that carries no payload columns, and AQE broadcasts the tiny
    key set so the lineitem stream never shuffles for the filter. The final
    per-order rollup shuffles only the surviving ~1% of rows."""
    li = load(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("qty"))
        .filter(F.col("qty") > 250)
        .select("l_orderkey")
    )
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    li_big = li.join(big.withColumnRenamed("l_orderkey", "bok"),
                     li["l_orderkey"] == F.col("bok"), "left_semi")
    return (
        li_big.join(orders, li_big["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(dsum(F.col("l_quantity")).alias("total_qty"))
        .select(
            "c_name", "c_custkey", "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
            "o_totalprice", "total_qty",
        )
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(100)
    )


Q6_ORACLE = """
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
               * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue
FROM lineitem
WHERE CAST(l_shipdate AS DATE) >= DATE '1996-01-01'
  AND CAST(l_shipdate AS DATE) <  DATE '1997-01-01'
  AND l_discount BETWEEN 0.03 AND 0.07
  AND l_quantity < 24
"""


@register("q6_forecast_revenue", oracle=Q6_ORACLE, tags=("pipeline",))
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure scan-filter-aggregate with zero joins.

    At 100 TB this is the predicate-pushdown benchmark: all three filters
    (date window, discount band, quantity cap) reach the parquet scan as
    PushedFilters, row groups outside the date window are skipped on
    statistics alone, and the single global sum is a map-side partial
    aggregate per partition plus a 1-row exchange — no shuffle of data,
    only of partial states."""
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate").cast("date") >= F.lit("1996-01-01").cast("date"))
        & (F.col("l_shipdate").cast("date") < F.lit("1997-01-01").cast("date"))
        & (F.col("l_discount") >= 0.03)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    return li.agg(
        F.sum(
            F.col("l_extendedprice").cast("decimal(18,2)")
            * F.col("l_discount").cast("decimal(4,2)")
        )
        .cast("double")
        .alias("revenue")
    )


Q12_ORACLE = """
SELECT l_linestatus,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM orders
JOIN lineitem ON o_orderkey = l_orderkey
WHERE CAST(l_shipdate AS DATE) >= DATE '1996-01-01'
  AND CAST(l_shipdate AS DATE) <  DATE '1997-01-01'
GROUP BY l_linestatus
ORDER BY l_linestatus
"""


@register("q12_priority_shipments", oracle=Q12_ORACLE, tags=("pipeline",))
def q12_priority_shipments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (shipmode column absent in this schema, so grouped by
    line status): fact⋈fact join with conditional counts.

    orders⋈lineitem is deliberately unhinted — both sides grow with the
    scale factor, so AQE broadcasts at test scale and sort-merges on the
    uniform orderkey at 100 TB. The date window pushes to the lineitem
    scan; orders is pruned to (o_orderkey, o_orderpriority) before the
    join so the shuffle carries two columns, not the whole order row.
    The priority flag folds into the aggregate (conditional count), so
    there is exactly one post-join shuffle: the 2-group aggregate."""
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate").cast("date") >= F.lit("1996-01-01").cast("date"))
        & (F.col("l_shipdate").cast("date") < F.lit("1997-01-01").cast("date"))
    ).select("l_orderkey", "l_linestatus")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )


Q14_ORACLE = """
SELECT ROUND(
         100.0
         * CAST(SUM(CASE WHEN p_type = 'PROMO'
                         THEN CAST(l_extendedprice AS DECIMAL(18,2))
                              * (1 - CAST(l_discount AS DECIMAL(4,2)))
                    END) AS DOUBLE)
         / CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE),
         6) AS promo_revenue_pct
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE CAST(l_shipdate AS DATE) >= DATE '1996-09-01'
  AND CAST(l_shipdate AS DATE) <  DATE '1996-10-01'
"""


@register("q14_promo_revenue", oracle=Q14_ORACLE, tags=("pipeline",))
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: promo revenue share over one month.

    The month filter cuts lineitem to ~1/80 before the join, and part is
    pruned to (p_partkey, p_type) — but NOT hint-broadcast: part grows with
    the scale factor (1/30 of lineitem at TPC-H ratios), so the strategy is
    AQE's call (broadcast here, shuffle join at 100 TB). Both the promo and
    total sums are exact decimal (order-independent); the single division
    happens once on the driver-side 1-row result."""
    part = load(spark, sf_dir, "part").select("p_partkey", "p_type")
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate").cast("date") >= F.lit("1996-09-01").cast("date"))
        & (F.col("l_shipdate").cast("date") < F.lit("1996-10-01").cast("date"))
    )
    promo = F.when(F.col("p_type") == "PROMO", disc_price())
    return (
        li.join(part, li["l_partkey"] == part["p_partkey"])
        .agg(
            F.sum(promo).cast("double").alias("promo_rev"),
            F.sum(disc_price()).cast("double").alias("total_rev"),
        )
        .select(
            F.round(100.0 * F.col("promo_rev") / F.col("total_rev"), 6).alias(
                "promo_revenue_pct"
            )
        )
    )


Q19_ORACLE = """
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
               * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#1'  AND p_size BETWEEN 1  AND 15 AND l_quantity BETWEEN 1  AND 20)
   OR (p_brand = 'Brand#2'  AND p_size BETWEEN 10 AND 30 AND l_quantity BETWEEN 10 AND 30)
   OR (p_brand = 'Brand#7'  AND p_size BETWEEN 20 AND 50 AND l_quantity BETWEEN 20 AND 40)
"""


@register("q19_disjunctive_predicates", oracle=Q19_ORACLE, tags=("pipeline",))
def q19_disjunctive_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: OR-of-ANDs mixing columns from both join sides.

    The disjunction references part columns (brand, size) AND lineitem
    columns (quantity), so no branch can be fully pushed below the join —
    but Catalyst derives the table-local residues via CNF conversion: the
    part scan gets `brand IN (…) AND size BETWEEN 1 AND 50` and the
    lineitem scan gets `quantity BETWEEN 1 AND 40` as pushed filters, so
    both inputs shrink before the join and the exact 3-way predicate only
    runs on surviving pairs. The join itself is AQE's choice (the brand
    filter makes the part side broadcastable at any scale where ~3 brands
    of parts fit in memory)."""
    cond = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 20)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(10, 30)
            & F.col("l_quantity").between(10, 30)
        )
        | (
            (F.col("p_brand") == "Brand#7")
            & F.col("p_size").between(20, 50)
            & F.col("l_quantity").between(20, 40)
        )
    )
    part = load(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    li = load(spark, sf_dir, "lineitem")
    return (
        li.join(part, li["l_partkey"] == part["p_partkey"])
        .filter(cond)
        .agg(F.sum(disc_price()).cast("double").alias("revenue"))
    )


Q15_ORACLE = """
WITH rev AS (
    SELECT l_suppkey,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS total_revenue
    FROM lineitem
    WHERE CAST(l_shipdate AS DATE) >= DATE '1996-01-01'
      AND CAST(l_shipdate AS DATE) <  DATE '1996-04-01'
    GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM supplier JOIN rev ON s_suppkey = l_suppkey
WHERE total_revenue = (SELECT MAX(total_revenue) FROM rev)
"""


@register("q15_top_supplier", oracle=Q15_ORACLE, tags=("pipeline",))
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: argmax over an aggregated view (the supplier(s)
    with maximum quarterly revenue), spelled as revenue-view ⋈ 1-row max
    — an uncorrelated scalar subquery as a broadcast cross join, the same
    shape as clean_outlier_filter. Ties return every argmax row (exact
    decimal revenue makes the equality well-defined cross-engine — a
    float-summed revenue would make `= MAX` flaky). The revenue view is
    one map-side-combined aggregate of the quarter's lineitems; supplier
    joins AQE-decided."""
    rev = (
        load(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate").cast("date") >= F.lit("1996-01-01").cast("date"))
            & (F.col("l_shipdate").cast("date") < F.lit("1996-04-01").cast("date"))
        )
        .groupBy("l_suppkey")
        .agg(F.sum(disc_price()).cast("double").alias("total_revenue"))
    )
    mx = rev.agg(F.max("total_revenue").alias("mx"))
    supp = load(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        rev.crossJoin(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("mx"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


Q7_ORACLE = """
SELECT supp_nation, cust_nation, l_year,
       CAST(SUM(volume_d) AS DOUBLE) AS revenue
FROM (
    SELECT n1.n_name AS supp_nation,
           n2.n_name AS cust_nation,
           CAST(year(l_shipdate) AS BIGINT) AS l_year,
           CAST(l_extendedprice AS DECIMAL(18,2))
             * (1 - CAST(l_discount AS DECIMAL(4,2))) AS volume_d
    FROM supplier
    JOIN lineitem ON s_suppkey = l_suppkey
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    JOIN nation n1 ON s_nationkey = n1.n_nationkey
    JOIN nation n2 ON c_nationkey = n2.n_nationkey
    WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
      AND CAST(l_shipdate AS DATE) BETWEEN DATE '1995-01-01' AND DATE '1997-12-31'
) shipping
GROUP BY supp_nation, cust_nation, l_year
ORDER BY supp_nation, cust_nation, l_year
"""


@register("q7_nation_volume", oracle=Q7_ORACLE, tags=("pipeline",))
def q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: revenue flow between a nation pair by ship year.

    Both nation joins broadcast (25-row dim), the supplier side prunes to
    the two nations BEFORE touching the fact stream (selective broadcast
    semi-shape like q5's asia_supp), the date window pushes to the parquet
    scan, and the OR-pair predicate applies on the enriched stream. One
    fact shuffle (orders join via orderkey), one aggregate shuffle."""
    nation = load(spark, sf_dir, "nation")
    pair = {"NATION_1", "NATION_2"}
    n_pair = nation.filter(F.col("n_name").isin(*pair)).select(
        "n_nationkey", "n_name"
    )
    supp = (
        load(spark, sf_dir, "supplier")
        .join(F.broadcast(n_pair), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    cust = (
        load(spark, sf_dir, "customer")
        .join(F.broadcast(n_pair), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    li = load(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate").cast("date").between("1995-01-01", "1997-12-31")
    )
    orders_c = (
        load(spark, sf_dir, "orders")
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .select("o_orderkey", "cust_nation")
    )
    return (
        li.join(maybe_broadcast(supp, sf_dir, "supplier"), li["l_suppkey"] == F.col("s_suppkey"))
        .join(orders_c, li["l_orderkey"] == F.col("o_orderkey"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
        )
        .agg(F.sum(disc_price()).cast("double").alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


Q8_ORACLE = """
WITH all_sales AS (
    SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
           CAST(l_extendedprice AS DECIMAL(18,2))
             * (1 - CAST(l_discount AS DECIMAL(4,2))) AS volume,
           n2.n_name AS supp_nation
    FROM part
    JOIN lineitem ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation n1 ON c_nationkey = n1.n_nationkey
    JOIN region   ON n1.n_regionkey = r_regionkey
    JOIN nation n2 ON s_nationkey = n2.n_nationkey
    WHERE r_name = 'ASIA'
      AND CAST(o_orderdate AS DATE) BETWEEN DATE '1995-01-01' AND DATE '1996-12-31'
      AND p_type = 'STANDARD'
)
SELECT o_year,
       ROUND(CAST(SUM(CASE WHEN supp_nation = 'NATION_1' THEN volume END) AS DOUBLE)
             / CAST(SUM(volume) AS DOUBLE), 6) AS mkt_share
FROM all_sales
GROUP BY o_year
ORDER BY o_year
"""


@register("q8_market_share", oracle=Q8_ORACLE, tags=("pipeline",))
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one nation's share of a region's STANDARD-part
    revenue by order year — the widest join in the repo (7 tables, the
    fact stream touched once).

    Plan shape: region→nation prunes the CUSTOMER side before any fact
    contact (q5's trick), the supplier-nation lookup broadcasts (25 rows),
    part is filtered to one type and pruned to its key, and orders carries
    the date window to its scan. The share division happens after exact
    decimal sums, so the ratio is order-independent. The conditional-sum
    numerator (CASE WHEN nation) costs nothing extra — both sums fold into
    the same partial aggregate."""
    region = load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = load(spark, sf_dir, "nation")
    asia_nations = nation.join(
        F.broadcast(region), nation["n_regionkey"] == region["r_regionkey"]
    ).select("n_nationkey")
    cust = (
        load(spark, sf_dir, "customer")
        .join(
            F.broadcast(asia_nations),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select("c_custkey")
    )
    supp_nation = (
        load(spark, sf_dir, "supplier")
        .join(
            F.broadcast(nation.select("n_nationkey", "n_name")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    part = (
        load(spark, sf_dir, "part")
        .filter(F.col("p_type") == "STANDARD")
        .select("p_partkey")
    )
    orders = load(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").cast("date").between("1995-01-01", "1996-12-31")
    )
    li = load(spark, sf_dir, "lineitem")
    sales = (
        li.join(part, li["l_partkey"] == part["p_partkey"])
        .join(maybe_broadcast(supp_nation, sf_dir, "supplier"), li["l_suppkey"] == F.col("s_suppkey"))
        .join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .select(
            F.year("o_orderdate").cast("long").alias("o_year"),
            disc_price().alias("volume"),
            "supp_nation",
        )
    )
    return (
        sales.groupBy("o_year")
        .agg(
            F.sum(F.when(F.col("supp_nation") == "NATION_1", F.col("volume")))
            .cast("double")
            .alias("num"),
            F.sum("volume").cast("double").alias("den"),
        )
        .select(
            "o_year", F.round(F.col("num") / F.col("den"), 6).alias("mkt_share")
        )
        .orderBy("o_year")
    )


Q13_ORACLE = """
SELECT c_count, COUNT(*) AS custdist
FROM (
    SELECT c_custkey, COUNT(o_orderkey) AS c_count
    FROM customer
    LEFT JOIN orders ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
    GROUP BY c_custkey
)
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""


@register("q13_customer_distribution", oracle=Q13_ORACLE, tags=("pipeline",))
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: how many customers placed how many orders —
    INCLUDING the zero-order customers, which forces a LEFT join with the
    order filter in the JOIN CONDITION (in the WHERE it would silently
    turn the join inner and drop the zeros — the classic outer-join
    filter-placement bug, here exercised deliberately). Double aggregation:
    per-customer count, then the count-of-counts histogram; both map-side
    combined, the second one over at most (max orders per customer) rows."""
    cust = load(spark, sf_dir, "customer").select("c_custkey")
    orders = load(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderpriority"
    )
    joined = cust.join(
        orders,
        (cust["c_custkey"] == orders["o_custkey"])
        & (orders["o_orderpriority"] != "5-LOW"),
        "left",
    )
    per_cust = joined.groupBy("c_custkey").agg(
        F.count("o_orderkey").alias("c_count")
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


Q17_ORACLE = """
WITH lim AS (
    SELECT l_partkey AS pk,
           0.2 * (CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                  / COUNT(*)) AS qty_limit
    FROM lineitem GROUP BY l_partkey
)
SELECT ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0, 6)
           AS avg_yearly
FROM lineitem
JOIN part ON p_partkey = l_partkey
JOIN lim  ON pk = l_partkey
WHERE p_brand = 'Brand#1' AND l_quantity < qty_limit
"""


@register("q17_small_quantity", oracle=Q17_ORACLE, tags=("pipeline",))
def q17_small_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: revenue lost to small-quantity orders of one brand
    — a correlated "below 20% of this part's average quantity" predicate,
    decorrelated into a per-part aggregate joined back to the fact stream
    (exactly what Catalyst does to the correlated subquery form).

    Determinism note: the 20% limit is computed from an EXACT decimal
    average, so both engines derive the identical double threshold —
    a plain fp AVG would put boundary rows one ulp apart across engines.
    Scale shape (VERDICT r2 #2): the per-part average is computed only over
    lineitems of Brand#1 parts — a left-semi join BEFORE the aggregate —
    instead of aggregating every part's lineitems and discarding ~99.9% of
    the result at the subsequent join. Per-part averages are unchanged by
    the restriction (the semi-join drops whole parts, never individual
    lineitems of a kept part). The aggregate is map-side combined; the
    threshold join is on the same key as the fact scan's partkey, and AQE
    picks the strategy (the Brand#1 filter makes the part side tiny)."""
    li = load(spark, sf_dir, "lineitem")
    part = (
        load(spark, sf_dir, "part")
        .filter(F.col("p_brand") == "Brand#1")
        .select("p_partkey")
    )
    li_brand = li.join(
        part.select(F.col("p_partkey").alias("sk")),
        li["l_partkey"] == F.col("sk"),
        "left_semi",
    )
    lim = li_brand.groupBy(F.col("l_partkey").alias("pk")).agg(
        (
            0.2
            * (
                F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double")
                / F.count(F.lit(1))
            )
        ).alias("qty_limit")
    )
    return (
        li.join(part, li["l_partkey"] == part["p_partkey"])
        .join(lim, li["l_partkey"] == lim["pk"])
        .filter(F.col("l_quantity") < F.col("qty_limit"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double")
                / 7.0,
                6,
            ).alias("avg_yearly")
        )
    )


Q22_ORACLE = """
WITH avg_bal AS (
    SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS ab
    FROM customer WHERE c_acctbal > 0.0
)
SELECT c_nationkey,
       COUNT(*) AS numcust,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
FROM customer, avg_bal
WHERE c_nationkey IN (0, 5, 10, 15, 20)
  AND c_acctbal > ab
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND CAST(o_orderdate AS DATE) >= DATE '2000-06-01')
GROUP BY c_nationkey
ORDER BY c_nationkey
"""


@register("q22_sales_opportunity", oracle=Q22_ORACLE, tags=("pipeline",))
def q22_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: wealthy customers (balance above the positive-
    balance average) from selected nations with no RECENT order (nothing
    since mid-2000; the testdata has full referential integrity, so the
    classic never-ordered predicate would select nothing) — an
    uncorrelated scalar subquery (broadcast 1-row cross join) plus an
    ANTI join against the orders key set (the NOT EXISTS plan). The
    average is an exact decimal sum / count so the balance threshold is
    the identical double in both engines. Anti-join side carries only
    o_custkey; at 100 TB AQE broadcasts the filtered customer side."""
    cust = load(spark, sf_dir, "customer")
    avg_bal = cust.filter(F.col("c_acctbal") > 0.0).agg(
        (
            F.sum(F.col("c_acctbal").cast("decimal(18,2)")).cast("double")
            / F.count(F.lit(1))
        ).alias("ab")
    )
    orders = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate").cast("date") >= F.lit("2000-06-01").cast("date"))
        .select("o_custkey")
    )
    eligible = (
        cust.filter(F.col("c_nationkey").isin(0, 5, 10, 15, 20))
        .crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("ab"))
    )
    return (
        eligible.join(
            orders, eligible["c_custkey"] == orders["o_custkey"], "left_anti"
        )
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.sum(F.col("c_acctbal").cast("decimal(18,2)"))
            .cast("double")
            .alias("totacctbal"),
        )
        .orderBy("c_nationkey")
    )


Q2_ORACLE = """
WITH ps AS (
    SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
), eu AS (
    SELECT s_suppkey, s_name, s_acctbal, n_name
    FROM supplier
    JOIN nation ON n_nationkey = s_nationkey
    JOIN region ON r_regionkey = n_regionkey
    WHERE r_name = 'EUROPE'
), costed AS (
    SELECT p_partkey, p_brand, s_name, s_acctbal, n_name,
           MIN(s_acctbal) OVER (PARTITION BY p_partkey) AS min_bal
    FROM part
    JOIN ps ON l_partkey = p_partkey
    JOIN eu ON s_suppkey = l_suppkey
    WHERE p_type = 'SMALL' AND p_size < 15
)
SELECT ROUND(s_acctbal, 6) AS s_acctbal, s_name, n_name, p_partkey, p_brand
FROM costed
WHERE s_acctbal = min_bal
ORDER BY s_acctbal DESC, n_name ASC, s_name ASC, p_partkey ASC
LIMIT 100
"""


@register("q2_min_cost_supplier", oracle=Q2_ORACLE, tags=("pipeline",))
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: for each qualifying part, the supplier(s) achieving
    the per-part minimum — the classic correlated-MIN subquery, decorrelated
    into a window MIN over the join product (exactly Catalyst's rewrite of
    the correlated form). The driver testdata has no partsupp table, so the
    part↔supplier relation is DISTINCT (l_partkey, l_suppkey) from lineitem
    and the minimized measure is s_acctbal in place of ps_supplycost; the
    plan shape — region-filtered supplier dim, relation join, per-part
    windowed min, equality filter, global top-k — is Q2's.

    Scale: the window partitions on p_partkey (high cardinality, uniform);
    the EUROPE supplier side is broadcast while provably small. The
    min-equality compares raw stored doubles (no arithmetic), so boundary
    membership is engine-exact. Final ORDER BY carries a full tiebreaker
    chain so the LIMIT is deterministic."""
    ps = (
        load(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey")
        .distinct()
    )
    nation = F.broadcast(load(spark, sf_dir, "nation"))
    region = F.broadcast(
        load(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    )
    eu = (
        load(spark, sf_dir, "supplier")
        .join(nation, F.col("n_nationkey") == F.col("s_nationkey"))
        .join(region, F.col("r_regionkey") == F.col("n_regionkey"))
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    part = (
        load(spark, sf_dir, "part")
        .filter((F.col("p_type") == "SMALL") & (F.col("p_size") < 15))
        .select("p_partkey", "p_brand")
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("p_partkey")
    return (
        part.join(ps, part["p_partkey"] == ps["l_partkey"])
        .join(eu, ps["l_suppkey"] == eu["s_suppkey"])
        .withColumn("min_bal", F.min("s_acctbal").over(w))
        .filter(F.col("s_acctbal") == F.col("min_bal"))
        .select(
            F.round("s_acctbal", 6).alias("s_acctbal"),
            "s_name",
            "n_name",
            "p_partkey",
            "p_brand",
        )
        .orderBy(
            F.desc("s_acctbal"), F.asc("n_name"), F.asc("s_name"), F.asc("p_partkey")
        )
        .limit(100)
    )


Q4_ORACLE = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders
WHERE CAST(o_orderdate AS DATE) >= DATE '1997-07-01'
  AND CAST(o_orderdate AS DATE) <  DATE '1997-10-01'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


@register("q4_priority_exists", oracle=Q4_ORACLE, tags=("pipeline",))
def q4_priority_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: one-quarter order window, EXISTS against the fact
    table, count by priority. (The reference predicate l_commitdate <
    l_receiptdate uses columns the driver testdata lacks; the stand-in
    EXISTS — "has a returned lineitem" — preserves the semi-join-then-
    aggregate plan exactly.)

    The EXISTS plans as LeftSemi keyed on l_orderkey: no lineitem payload,
    no duplication of orders rows with multiple matches. The quarter filter
    is pushed to the orders scan; at 100 TB AQE picks broadcast-vs-shuffle
    for the semi join by the filtered orders size."""
    orders = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate").cast("date") >= F.lit("1997-07-01").cast("date"))
        & (F.col("o_orderdate").cast("date") < F.lit("1997-10-01").cast("date"))
    )
    returned = (
        load(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag") == "R")
        .select("l_orderkey")
    )
    return (
        orders.join(returned, orders["o_orderkey"] == returned["l_orderkey"], "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


Q9_ORACLE = """
SELECT n_name AS nation,
       CAST(strftime(o_orderdate, '%Y') AS BIGINT) AS o_year,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                  * (1 - CAST(l_discount AS DECIMAL(4,2)))
                - CAST(p_retailprice AS DECIMAL(12,2))
                  * CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_profit
FROM lineitem
JOIN part     ON p_partkey  = l_partkey
JOIN supplier ON s_suppkey  = l_suppkey
JOIN nation   ON n_nationkey = s_nationkey
JOIN orders   ON o_orderkey = l_orderkey
WHERE p_name LIKE '%gear%'
GROUP BY n_name, CAST(strftime(o_orderdate, '%Y') AS BIGINT)
"""


@register("q9_product_profit", oracle=Q9_ORACLE, tags=("pipeline",))
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit on a product line by supplier nation × order
    year — the five-table fact join with a substring part filter. (No
    partsupp in the driver testdata: cost is p_retailprice × l_quantity in
    place of ps_supplycost × l_quantity; identical join/aggregate shape,
    one fewer join.)

    Per-row profit is a single exact decimal expression (revenue − cost,
    aligned scales), so the sum is order-independent. The %gear% filter
    prunes part before the join (pushed, ~1/8 of parts); nation is hinted
    broadcast (25 rows at any SF), part/supplier/orders joins are AQE's
    call. Aggregate keys (nation, year) are low-cardinality → partial
    aggregation collapses the stream map-side."""
    li = load(spark, sf_dir, "lineitem")
    part = (
        load(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%gear%"))
        .select("p_partkey", "p_retailprice")
    )
    supplier = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = F.broadcast(load(spark, sf_dir, "nation").select("n_nationkey", "n_name"))
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    profit = disc_price() - (
        F.col("p_retailprice").cast("decimal(12,2)")
        * F.col("l_quantity").cast("decimal(12,2)")
    )
    return (
        li.join(part, li["l_partkey"] == part["p_partkey"])
        .join(supplier, li["l_suppkey"] == supplier["s_suppkey"])
        .join(nation, supplier["s_nationkey"] == nation["n_nationkey"])
        .join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg(F.sum(profit).cast("double").alias("sum_profit"))
    )


Q11_ORACLE = """
SELECT n_name,
       CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS nation_bal
FROM supplier
JOIN nation ON n_nationkey = s_nationkey
GROUP BY n_name
HAVING SUM(CAST(s_acctbal AS DECIMAL(18,2)))
       > (SELECT 0.02 * SUM(CAST(s_acctbal AS DECIMAL(18,2))) FROM supplier)
ORDER BY nation_bal DESC, n_name ASC
"""


@register("q11_important_balance", oracle=Q11_ORACLE, tags=("pipeline",))
def q11_important_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: per-group share filtered against a global scalar
    aggregate (HAVING SUM(...) > fraction × global SUM) — the grouped
    aggregate and the scalar subquery scan the same table once each, and
    the comparison stays in exact decimal arithmetic on BOTH sides of both
    engines, so threshold membership cannot flip. (partsupp-free stand-in:
    supplier account balance per nation vs 2% of the global balance.)

    Plan: two aggregates + a 1-row broadcast cross join; nothing shuffles
    twice. At 100 TB the global aggregate is a map-side-combined single
    row — the cheapest possible second pass."""
    sup = load(spark, sf_dir, "supplier")
    nation = F.broadcast(load(spark, sf_dir, "nation").select("n_nationkey", "n_name"))
    bal = F.sum(F.col("s_acctbal").cast("decimal(18,2)"))
    total = sup.agg(
        (bal * F.lit("0.02").cast("decimal(3,2)")).alias("thresh")
    )
    return (
        sup.join(nation, F.col("n_nationkey") == F.col("s_nationkey"))
        .groupBy("n_name")
        .agg(bal.alias("bal_dec"))
        .crossJoin(F.broadcast(total))
        .filter(F.col("bal_dec") > F.col("thresh"))
        .select(
            "n_name", F.col("bal_dec").cast("double").alias("nation_bal")
        )
        .orderBy(F.desc("nation_bal"), F.asc("n_name"))
    )


Q16_ORACLE = """
SELECT p_brand, p_type, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
JOIN part ON p_partkey = l_partkey
WHERE p_brand <> 'Brand#1'
  AND p_size IN (1, 5, 9, 14, 19, 23, 36, 45)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0.0)
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
"""


@register("q16_supplier_part_count", oracle=Q16_ORACLE, tags=("pipeline",))
def q16_supplier_part_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: distinct-supplier counts per part attribute triple,
    excluding an unwanted supplier set (NOT IN subquery → anti join; the
    "customer complaints" predicate becomes negative account balance on the
    partsupp-free schema).

    The part↔supplier relation is DISTINCT pairs from lineitem — at 100 TB
    that distinct is the dominant shuffle and is keyed uniformly; the
    excluded-supplier set is tiny → broadcast anti join; COUNT(DISTINCT)
    expands to a two-phase aggregate (distinct-combine then count) on
    (brand, type, size) keys."""
    ps = (
        load(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey")
        .distinct()
    )
    bad = (
        load(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0.0)
        .select("s_suppkey")
    )
    part = (
        load(spark, sf_dir, "part")
        .filter(
            (F.col("p_brand") != "Brand#1")
            & F.col("p_size").isin(1, 5, 9, 14, 19, 23, 36, 45)
        )
        .select("p_partkey", "p_brand", "p_type", "p_size")
    )
    return (
        ps.join(bad, ps["l_suppkey"] == bad["s_suppkey"], "left_anti")
        .join(part, F.col("l_partkey") == part["p_partkey"])
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(
            F.desc("supplier_cnt"), F.asc("p_brand"), F.asc("p_type"), F.asc("p_size")
        )
    )


Q20_ORACLE = """
WITH shipped AS (
    SELECT l_suppkey, SUM(CAST(l_quantity AS DECIMAL(18,2))) AS qty
    FROM lineitem
    WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'small%')
      AND CAST(l_shipdate AS DATE) >= DATE '1997-01-01'
      AND CAST(l_shipdate AS DATE) <  DATE '1998-01-01'
    GROUP BY l_suppkey
), threshold AS (
    SELECT CAST(SUM(qty) AS DOUBLE) / (2 * COUNT(*)) AS half_avg FROM shipped
)
SELECT s_name, ROUND(s_acctbal, 6) AS s_acctbal
FROM supplier, threshold
WHERE s_suppkey IN (SELECT l_suppkey FROM shipped
                    WHERE CAST(qty AS DOUBLE) > half_avg)
ORDER BY s_name
"""


@register("q20_promotion_suppliers", oracle=Q20_ORACLE, tags=("pipeline",))
def q20_promotion_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: nested IN-subqueries three levels deep — suppliers
    IN (suppliers whose shipped quantity of (parts IN name-filtered set)
    over one year beats a derived threshold). Each IN decorrelates to a
    semi join; the aggregate threshold is "half the average per-supplier
    quantity" standing in for the availqty comparison (no partsupp table).

    Scale: the part-name semi join prunes lineitem before the per-supplier
    aggregate (same aggregate-after-semi-join discipline as q17); the
    threshold is a broadcast 1-row cross join; the final supplier semi join
    carries keys only. All quantities sum as exact decimals, so the
    threshold double is engine-identical."""
    small_parts = (
        load(spark, sf_dir, "part")
        .filter(F.col("p_name").like("small%"))
        .select("p_partkey")
    )
    shipped = (
        load(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate").cast("date") >= F.lit("1997-01-01").cast("date"))
            & (F.col("l_shipdate").cast("date") < F.lit("1998-01-01").cast("date"))
        )
        .join(small_parts, F.col("l_partkey") == F.col("p_partkey"), "left_semi")
        .groupBy("l_suppkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("qty"))
    )
    threshold = shipped.agg(
        (
            F.sum("qty").cast("double") / (2 * F.count(F.lit(1)))
        ).alias("half_avg")
    )
    qualifying = (
        shipped.crossJoin(F.broadcast(threshold))
        .filter(F.col("qty").cast("double") > F.col("half_avg"))
        .select("l_suppkey")
    )
    return (
        load(spark, sf_dir, "supplier")
        .join(qualifying, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .select("s_name", F.round("s_acctbal", 6).alias("s_acctbal"))
        .orderBy("s_name")
    )


Q21_ORACLE = """
SELECT s_name, COUNT(*) AS numwait
FROM supplier
JOIN lineitem l1 ON l1.l_suppkey = s_suppkey AND l1.l_returnflag = 'R'
JOIN orders ON o_orderkey = l1.l_orderkey AND o_orderstatus = 'F'
WHERE EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_returnflag = 'R')
GROUP BY s_name
ORDER BY numwait DESC, s_name ASC
LIMIT 100
"""


@register("q21_waiting_suppliers", oracle=Q21_ORACLE, tags=("pipeline",))
def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: the sole-blame detector — suppliers whose returned
    lines sit in finalized multi-supplier orders where NO other supplier
    returned anything. One correlated EXISTS and one correlated NOT EXISTS
    against the same fact table, both on the order key with a supplier
    inequality. (Returnflag stands in for the receipt-after-commit lateness
    columns the driver testdata lacks; the three-way correlated plan is
    Q21's.)

    Plan shape: both subqueries become key-plus-filter semi/anti joins on
    l_orderkey (the inequality rides along as a join residual — still hash
    joins, not nested loops). The l2 side carries DISTINCT (orderkey,
    suppkey) so the semi probe stream is minimal; at 100 TB all three
    lineitem passes shuffle on the same uniform l_orderkey."""
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    l1 = (
        load(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag") == "R")
        .select("l_orderkey", "l_suppkey")
    )
    orders_f = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey")
    )
    pairs = li.distinct().select(
        F.col("l_orderkey").alias("p_orderkey"), F.col("l_suppkey").alias("p_suppkey")
    )
    returned_pairs = l1.distinct().select(
        F.col("l_orderkey").alias("r_orderkey"), F.col("l_suppkey").alias("r_suppkey")
    )
    waiting = (
        l1.join(orders_f, l1["l_orderkey"] == orders_f["o_orderkey"], "left_semi")
        .join(
            pairs,
            (F.col("l_orderkey") == F.col("p_orderkey"))
            & (F.col("l_suppkey") != F.col("p_suppkey")),
            "left_semi",
        )
        .join(
            returned_pairs,
            (F.col("l_orderkey") == F.col("r_orderkey"))
            & (F.col("l_suppkey") != F.col("r_suppkey")),
            "left_anti",
        )
    )
    supplier = load(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        waiting.join(supplier, waiting["l_suppkey"] == supplier["s_suppkey"])
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), F.asc("s_name"))
        .limit(100)
    )
