"""Gated queries: relational suite (joins, top-N, OVER windows, set
ops, rollup, sliding windows, as-of join) over the TPC-H-ish tables."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from realtime_analytics_pipeline_spark.operators import relational as R
from realtime_analytics_pipeline_spark.registry import register
from realtime_analytics_pipeline_spark.sources.batch import load_events, load_table

_Q1_SQL = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
       round(avg(l_quantity), 6) AS avg_qty,
       round(avg(l_extendedprice), 6) AS avg_price,
       round(avg(l_discount), 6) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2001-09-01'
GROUP BY 1, 2
"""


@register("tpch_q1_pricing_summary", _Q1_SQL)
def q_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    return R.pricing_summary(load_table(spark, sf_dir, "lineitem"))


_Q3_SQL = """
SELECT o_orderkey,
       epoch_ms(o_orderdate) AS o_orderdate_ms,
       o_orderpriority,
       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2))), 2) AS DOUBLE) AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-01-01'
  AND l_shipdate > TIMESTAMP '1998-01-01'
GROUP BY 1, 2, 3
ORDER BY revenue DESC, o_orderkey
LIMIT 10
"""


@register("tpch_q3_shipping_priority", _Q3_SQL)
def q_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    return R.shipping_priority(
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "lineitem"),
    )


_Q5_SQL = """
SELECT n_name,
       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2))), 2) AS DOUBLE) AS revenue
FROM region
JOIN nation ON n_regionkey = r_regionkey
JOIN customer ON c_nationkey = n_nationkey
JOIN orders ON o_custkey = c_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON s_suppkey = l_suppkey AND s_nationkey = c_nationkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY 1
"""


@register("tpch_q5_regional_revenue", _Q5_SQL)
def q_tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    return R.regional_revenue(
        load_table(spark, sf_dir, "region"),
        load_table(spark, sf_dir, "nation"),
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "supplier"),
    )


_Q10_SQL = """
SELECT c_custkey, c_name, n_name,
       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2))), 2) AS DOUBLE) AS revenue
FROM customer
JOIN orders ON o_custkey = c_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation ON n_nationkey = c_nationkey
WHERE o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1996-04-01'
  AND l_returnflag = 'R'
GROUP BY 1, 2, 3
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


@register("tpch_q10_returned_items", _Q10_SQL)
def q_tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q10 shape: returned-item revenue per customer, quarter-scoped,
    top 20 — two fact joins + broadcast nation + TakeOrdered."""
    from pyspark.sql import functions as F

    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    lineitem = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_returnflag") == "R"
    )
    nation = load_table(spark, sf_dir, "nation")
    return (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.round(
                F.sum(
                    F.col("l_extendedprice").cast("decimal(18,2)")
                    * (F.lit(1.0) - F.col("l_discount")).cast("decimal(18,2)")
                ),
                2,
            )
            .cast("double")
            .alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


_Q7_SQL = """
SELECT supp_nation, cust_nation, l_year,
       CAST(round(sum(volume), 2) AS DOUBLE) AS revenue
FROM (
    SELECT ns.n_name AS supp_nation,
           nc.n_name AS cust_nation,
           year(l_shipdate) AS l_year,
           CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2)) AS volume
    FROM supplier
    JOIN lineitem ON s_suppkey = l_suppkey
    JOIN orders ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    JOIN nation ns ON s_nationkey = ns.n_nationkey
    JOIN nation nc ON c_nationkey = nc.n_nationkey
    WHERE ((ns.n_name = 'NATION_1' AND nc.n_name = 'NATION_2')
        OR (ns.n_name = 'NATION_2' AND nc.n_name = 'NATION_1'))
      AND l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1998-01-01'
)
GROUP BY 1, 2, 3
"""


@register("tpch_q7_nation_volume", _Q7_SQL)
def q_tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q7 shape: bi-directional nation-pair shipping volume by year —
    disjunctive join predicate over two broadcast dims + year() rollup."""
    from pyspark.sql import functions as F

    supplier = load_table(spark, sf_dir, "supplier")
    lineitem = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    ns = nation.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    nc = nation.select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    joined = (
        # supplier scales with SF — AQE decides broadcast vs shuffle
        lineitem.join(supplier, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(customer, F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(ns), F.col("s_nationkey") == F.col("s_nk"))
        .join(F.broadcast(nc), F.col("c_nationkey") == F.col("c_nk"))
        .where(
            (
                (F.col("supp_nation") == "NATION_1")
                & (F.col("cust_nation") == "NATION_2")
            )
            | (
                (F.col("supp_nation") == "NATION_2")
                & (F.col("cust_nation") == "NATION_1")
            )
        )
    )
    return (
        joined.select(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("l_year"),
            (
                F.col("l_extendedprice").cast("decimal(18,2)")
                * (F.lit(1.0) - F.col("l_discount")).cast("decimal(18,2)")
            ).alias("volume"),
        )
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(F.round(F.sum("volume"), 2).cast("double").alias("revenue"))
    )


_TOPCUST_SQL = """
WITH counts AS (
    SELECT o_custkey, count(*) AS order_count FROM orders GROUP BY 1
)
SELECT n_name, c_custkey, c_name, order_count,
       row_number() OVER (
           PARTITION BY n_name ORDER BY order_count DESC, c_custkey) AS rnk
FROM customer
JOIN counts ON c_custkey = o_custkey
JOIN nation ON c_nationkey = n_nationkey
QUALIFY rnk <= 3
"""


@register("top_customers_per_nation", _TOPCUST_SQL)
def q_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    return R.top_customers_per_nation(
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "nation"),
    )


_SLIDING_SQL = """
SELECT ((epoch_ms(ts) // 60000) - j) * 60000 AS window_start_ms,
       ((epoch_ms(ts) // 60000) - j) * 60000 + 300000 AS window_end_ms,
       event_type,
       count(*) AS event_count
FROM events, (SELECT unnest(range(5)) AS j)
GROUP BY 1, 2, 3
"""


@register("events_sliding_window_5m1m", _SLIDING_SQL)
def q_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    return R.sliding_event_counts(load_events(spark, sf_dir))


_EXCEPT_SQL = """
SELECT CAST(user_id AS VARCHAR) AS user_id FROM events
WHERE event_type = 'view' AND ts < TIMESTAMP '2024-01-02'
EXCEPT
SELECT CAST(user_id AS VARCHAR) AS user_id FROM events
WHERE event_type = 'purchase' AND ts < TIMESTAMP '2024-01-02'
"""


@register("users_viewed_not_purchased", _EXCEPT_SQL)
def q_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    return R.users_viewed_not_purchased(load_events(spark, sf_dir))


_INTERSECT_SQL = """
SELECT CAST(user_id AS VARCHAR) AS user_id FROM events
WHERE event_type = 'view' AND ts < TIMESTAMP '2024-01-02'
INTERSECT
SELECT CAST(user_id AS VARCHAR) AS user_id FROM events
WHERE event_type = 'click' AND ts < TIMESTAMP '2024-01-02'
"""


@register("users_viewed_and_clicked", _INTERSECT_SQL)
def q_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    return R.users_viewed_and_clicked(load_events(spark, sf_dir))


_ROLLUP_SQL = """
SELECT day_ms, event_type, count(*) AS event_count
FROM (
    SELECT (epoch_ms(ts) // 86400000) * 86400000 AS day_ms, event_type
    FROM events
)
GROUP BY ROLLUP(day_ms, event_type)
HAVING count(*) >= 5
"""


@register("event_type_daily_rollup", _ROLLUP_SQL)
def q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return R.event_type_daily_rollup(load_events(spark, sf_dir), min_count=5)


_Q8_SQL = """
SELECT o_year,
       CAST(round(CAST(sum(CASE WHEN supp_nation = 'NATION_5' THEN volume
                                ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
             / CAST(sum(volume) AS DOUBLE), 6) AS DOUBLE) AS mkt_share
FROM (
    SELECT year(o_orderdate) AS o_year,
           CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2)) AS volume,
           ns.n_name AS supp_nation
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN orders ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    JOIN nation nc ON c_nationkey = nc.n_nationkey
    JOIN region ON nc.n_regionkey = r_regionkey
    JOIN nation ns ON s_nationkey = ns.n_nationkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1998-01-01'
      AND p_type = 'PROMO'
)
GROUP BY 1
"""


@register("tpch_q8_market_share", _Q8_SQL)
def q_tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q8 shape (national market share): one supplier nation's share of
    PROMO-part revenue sold into ASIA-region customers, by order year.
    8-way join — three broadcast dims (part filter, nations, region),
    numerator/denominator as exact DECIMAL sums divided as doubles."""
    from pyspark.sql import functions as F

    lineitem = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").where(F.col("p_type") == "PROMO")
    supplier = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    nc = nation.select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_regionkey").alias("c_rk")
    )
    ns = nation.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    volume = (
        F.col("l_extendedprice").cast("decimal(18,2)")
        * (F.lit(1.0) - F.col("l_discount")).cast("decimal(18,2)")
    ).alias("volume")
    # part/supplier scale linearly with SF — no hard broadcast hint
    # (AQE broadcasts them while they fit, shuffles when they don't);
    # nation/region are constant-size and always hinted
    joined = (
        lineitem.join(part, F.col("p_partkey") == F.col("l_partkey"))
        .join(supplier, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(customer, F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(nc), F.col("c_nationkey") == F.col("c_nk"))
        .join(F.broadcast(region), F.col("c_rk") == F.col("r_regionkey"))
        .join(F.broadcast(ns), F.col("s_nationkey") == F.col("s_nk"))
        .select(F.year("o_orderdate").alias("o_year"), volume, "supp_nation")
    )
    zero = F.lit(0).cast("decimal(18,4)")
    return joined.groupBy("o_year").agg(
        F.round(
            F.sum(
                F.when(F.col("supp_nation") == "NATION_5", F.col("volume")).otherwise(
                    zero
                )
            ).cast("double")
            / F.sum("volume").cast("double"),
            6,
        ).alias("mkt_share")
    )


_Q9_SQL = """
SELECT nation, o_year,
       CAST(round(sum(amount), 2) AS DOUBLE) AS sum_profit
FROM (
    SELECT ns.n_name AS nation,
           year(o_orderdate) AS o_year,
           CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2))
             - CAST(p_retailprice AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2)) AS amount
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN orders ON o_orderkey = l_orderkey
    JOIN nation ns ON s_nationkey = ns.n_nationkey
    WHERE p_name LIKE '%red%'
)
GROUP BY 1, 2
"""


@register("tpch_q9_product_profit", _Q9_SQL)
def q_tpch_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q9 shape (product-type profit): per supplier-nation, per order
    year, profit proxy = discounted revenue − retail value of shipped
    quantity, over parts whose name matches a token (the schema has no
    partsupp/ps_supplycost — retail value stands in for supply cost).
    All arithmetic in DECIMAL so both engines aggregate exactly."""
    from pyspark.sql import functions as F

    lineitem = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").where(F.col("p_name").like("%red%"))
    supplier = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders")
    nation = load_table(spark, sf_dir, "nation")
    ns = nation.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("nation")
    )
    amount = (
        F.col("l_extendedprice").cast("decimal(18,2)")
        * (F.lit(1.0) - F.col("l_discount")).cast("decimal(18,2)")
        - F.col("p_retailprice").cast("decimal(18,2)")
        * F.col("l_quantity").cast("decimal(18,2)")
    ).alias("amount")
    # part/supplier: no hard hint (linear in SF) — AQE decides
    return (
        lineitem.join(part, F.col("p_partkey") == F.col("l_partkey"))
        .join(supplier, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(ns), F.col("s_nationkey") == F.col("s_nk"))
        .select("nation", F.year("o_orderdate").alias("o_year"), amount)
        .groupBy("nation", "o_year")
        .agg(F.round(F.sum("amount"), 2).cast("double").alias("sum_profit"))
    )


_Q12_SQL = """
SELECT delay_bucket,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM (
    SELECT o_orderpriority,
           CASE WHEN (epoch_ms(l_shipdate) - epoch_ms(o_orderdate)) // 86400000 <= 30 THEN 'fast'
                WHEN (epoch_ms(l_shipdate) - epoch_ms(o_orderdate)) // 86400000 <= 90 THEN 'medium'
                ELSE 'slow' END AS delay_bucket
    FROM lineitem
    JOIN orders ON o_orderkey = l_orderkey
    WHERE l_shipdate >= o_orderdate
)
GROUP BY 1
"""


@register("tpch_q12_shipmode_priority", _Q12_SQL)
def q_tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q12 shape (shipping-priority split): the schema has no
    l_shipmode/commitdate, so lines are bucketed by ship delay
    (order→ship days) instead, counting urgent/high vs lower-priority
    lines per bucket. Conditional-aggregation (pivot-style CASE sums)
    over a single fact-fact join; ms arithmetic avoids engine-specific
    date-diff semantics."""
    from pyspark.sql import functions as F

    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    delay_days = F.floor(
        (F.unix_millis("l_shipdate") - F.unix_millis("o_orderdate"))
        / F.lit(86400000)
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        lineitem.join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .where(F.col("l_shipdate") >= F.col("o_orderdate"))
        .select(
            F.when(delay_days <= 30, "fast")
            .when(delay_days <= 90, "medium")
            .otherwise("slow")
            .alias("delay_bucket"),
            F.when(high, 1).otherwise(0).cast("long").alias("is_high"),
            F.when(high, 0).otherwise(1).cast("long").alias("is_low"),
        )
        .groupBy("delay_bucket")
        .agg(
            F.sum("is_high").alias("high_line_count"),
            F.sum("is_low").alias("low_line_count"),
        )
    )


_Q4_SQL = """
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-04-01'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey
                AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
GROUP BY 1
"""


@register("tpch_q4_order_priority", _Q4_SQL)
def q_tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4 shape (order-priority check): correlated EXISTS with an
    inequality on the OUTER column — a LEFT SEMI join whose condition
    compares a lineitem column against an expression of the orders row
    (the schema has no l_commitdate; ship-more-than-60-days-late
    stands in for the late-commit predicate)."""
    from pyspark.sql import functions as F

    orders = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    lineitem = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate"
    )
    late = orders.join(
        lineitem,
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("order_count")
    )


_Q14_SQL = """
SELECT CAST(round(100.0 * CAST(sum(CASE WHEN p_type = 'PROMO'
                 THEN CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2))
                 ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
           / CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE), 6) AS DOUBLE) AS promo_revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-09-01' AND l_shipdate < TIMESTAMP '1996-10-01'
"""


@register("tpch_q14_promo_effect", _Q14_SQL)
def q_tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q14 shape (promotion effect): conditional-aggregation ratio over
    a month of shipments; exact DECIMAL numerator/denominator divided
    as doubles. part has no hard broadcast hint (linear in SF)."""
    from pyspark.sql import functions as F

    lineitem = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-10-01").cast("timestamp"))
    )
    part = load_table(spark, sf_dir, "part")
    vol = (
        F.col("l_extendedprice").cast("decimal(18,2)")
        * (F.lit(1.0) - F.col("l_discount")).cast("decimal(18,2)")
    )
    zero = F.lit(0).cast("decimal(18,4)")
    return (
        lineitem.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .select(
            F.when(F.col("p_type") == "PROMO", vol).otherwise(zero).alias(
                "promo_vol"
            ),
            vol.alias("vol"),
        )
        .agg(
            F.round(
                F.lit(100.0)
                * F.sum("promo_vol").cast("double")
                / F.sum("vol").cast("double"),
                6,
            ).alias("promo_revenue")
        )
    )


_Q19_SQL = """
SELECT CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2))), 2) AS DOUBLE) AS revenue
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 1 AND 20)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 5 AND 20 AND l_quantity BETWEEN 5 AND 40)
"""


@register("tpch_q19_discounted_revenue", _Q19_SQL)
def q_tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q19 shape (disjunctive multi-table predicate): OR-of-ANDs mixing
    part and lineitem columns — Catalyst extracts the common join key
    and pushes the per-table conjuncts into both scans."""
    from pyspark.sql import functions as F

    lineitem = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    cond1 = (
        (F.col("p_brand") == "Brand#1")
        & F.col("p_size").between(1, 10)
        & F.col("l_quantity").between(1, 20)
    )
    cond2 = (
        (F.col("p_brand") == "Brand#2")
        & F.col("p_size").between(5, 20)
        & F.col("l_quantity").between(5, 40)
    )
    return (
        lineitem.join(part, F.col("p_partkey") == F.col("l_partkey"))
        .where(cond1 | cond2)
        .agg(
            F.round(
                F.sum(
                    F.col("l_extendedprice").cast("decimal(18,2)")
                    * (F.lit(1.0) - F.col("l_discount")).cast("decimal(18,2)")
                ),
                2,
            )
            .cast("double")
            .alias("revenue")
        )
    )


_ASOF_SQL = """
SELECT CAST(p.user_id AS VARCHAR) AS user_id,
       CAST(p.event_id AS VARCHAR) AS hit_id,
       epoch_ms(p.ts) AS hit_ms,
       epoch_ms(v.ts) AS last_view_ms
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
  ON p.user_id = v.user_id AND p.ts >= v.ts
"""


@register("asof_purchase_attribution", _ASOF_SQL)
def q_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    return R.asof_attribution(load_events(spark, sf_dir))


_Q13_SQL = """
SELECT c_count, count(*) AS custdist
FROM (
    SELECT c_custkey, count(o_orderkey) AS c_count
    FROM customer LEFT OUTER JOIN orders
      ON c_custkey = o_custkey AND o_orderpriority NOT LIKE '1-%'
    GROUP BY c_custkey
)
GROUP BY c_count
"""


@register("tpch_q13_order_distribution", _Q13_SQL)
def q_tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q13 shape (customer order-count distribution): the filter lives
    in the OUTER-join condition, not WHERE — customers whose every
    order is filtered out must still appear with c_count = 0 — then a
    second aggregation over the first's output (the schema has no
    o_comment; the not-urgent predicate stands in for the
    not-special-requests filter). count(o_orderkey) counts matched
    rows only (NULL-skipping), exactly the outer-join sentinel Q13
    relies on. At scale: both aggregations are partial→final; the
    second one's input is one row per customer, tiny vs lineitem."""
    from pyspark.sql import functions as F

    customer = load_table(spark, sf_dir, "customer").select("c_custkey")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderpriority"
    )
    per_cust = (
        customer.join(
            orders,
            (F.col("c_custkey") == F.col("o_custkey"))
            & ~F.col("o_orderpriority").like("1-%"),
            "left_outer",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


_Q18_SQL = """
SELECT c_custkey, c_name, o_orderkey,
       epoch_ms(o_orderdate) AS o_orderdate_ms,
       o_totalprice,
       round(sum(l_quantity), 2) AS total_qty
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
WHERE o_orderkey IN (
    SELECT l_orderkey FROM lineitem
    GROUP BY l_orderkey HAVING sum(l_quantity) > 200
)
GROUP BY c_custkey, c_name, o_orderkey, o_orderdate_ms, o_totalprice
"""


@register("tpch_q18_large_volume", _Q18_SQL)
def q_tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q18 shape (large-volume customers): IN over a GROUP BY ...
    HAVING subquery on the fact table → LEFT SEMI join against a
    pre-aggregated key set, then the customer/orders/lineitem 3-way
    join re-aggregates quantities per qualifying order. At scale the
    HAVING aggregate is partial→final on l_orderkey (same key as the
    fact join, so AQE can reuse the exchange), and the semi join
    prunes orders before the wide join."""
    from pyspark.sql import functions as F

    customer = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    lineitem = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity"
    )
    big = (
        lineitem.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .where(F.col("qty") > 200)
        .select("l_orderkey")
    )
    orders_big = orders.join(
        big, F.col("o_orderkey") == big["l_orderkey"], "left_semi"
    )
    return (
        customer.join(orders_big, F.col("c_custkey") == F.col("o_custkey"))
        .join(lineitem, F.col("o_orderkey") == lineitem["l_orderkey"])
        .groupBy(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.unix_millis("o_orderdate").alias("o_orderdate_ms"),
            "o_totalprice",
        )
        .agg(F.round(F.sum("l_quantity"), 2).alias("total_qty"))
    )


_Q22_SQL = """
SELECT cntrycode, count(*) AS numcust,
       round(sum(c_acctbal), 2) AS totacctbal
FROM (
    SELECT c_custkey % 10 AS cntrycode, c_acctbal
    FROM customer
    WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer
                       WHERE c_acctbal > 0.0)
      AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
)
GROUP BY cntrycode
"""


@register("tpch_q22_idle_customers", _Q22_SQL)
def q_tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q22 shape (global-sales-opportunity): uncorrelated scalar
    subquery (global average of positive balances) gating the scan +
    NOT EXISTS → LEFT ANTI join against orders, grouped by a derived
    code (custkey mod 10 stands in for the phone country code the
    schema lacks). The scalar average is a 1-row aggregate
    cross-joined in — Spark broadcasts it; no driver-side collect."""
    from pyspark.sql import functions as F

    customer = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_acctbal"
    )
    orders = load_table(spark, sf_dir, "orders").select("o_custkey")
    avg_bal = (
        customer.where(F.col("c_acctbal") > 0.0)
        .agg(F.avg("c_acctbal").alias("avg_bal"))
    )
    rich = (
        customer.crossJoin(F.broadcast(avg_bal))
        .where(F.col("c_acctbal") > F.col("avg_bal"))
        .join(orders, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
    )
    return (
        rich.select(
            (F.col("c_custkey") % 10).alias("cntrycode"), "c_acctbal"
        )
        .groupBy("cntrycode")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
    )


_Q22_RECENT_SQL = """
SELECT cntrycode, count(*) AS numcust,
       round(sum(c_acctbal), 2) AS totacctbal
FROM (
    SELECT c_custkey % 10 AS cntrycode, c_acctbal
    FROM customer
    WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer
                       WHERE c_acctbal > 0.0)
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderdate >= TIMESTAMP '2000-01-01')
)
GROUP BY cntrycode
"""


@register("tpch_q22_recent_idle_customers", _Q22_RECENT_SQL)
def q_tpch_q22_recent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q22 shape with a NON-VACUOUS gate vector (round-10 verdict:
    the classic form matches on 0/0 rows at sf0.01 because every
    customer in this corpus has at least one order, so the anti-join
    was never data-exercised). 'Idle' here means no orders SINCE
    2000-01-01 — the NOT EXISTS subquery gains a date predicate, the
    anti-join right side shrinks to recent orders (filter pushed below
    the join, exactly what you want at 100 TB), and the result is
    5 / 55 / 646 customers at sf0.001/0.01/0.1 — rows at every gate
    SF. Same uncorrelated scalar-subquery gate (global average of
    positive balances, broadcast 1-row cross join) as the classic
    form."""
    customer = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_acctbal"
    )
    orders_recent = (
        load_table(spark, sf_dir, "orders")
        .where(
            F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp")
        )
        .select("o_custkey")
    )
    avg_bal = (
        customer.where(F.col("c_acctbal") > 0.0)
        .agg(F.avg("c_acctbal").alias("avg_bal"))
    )
    rich = (
        customer.crossJoin(F.broadcast(avg_bal))
        .where(F.col("c_acctbal") > F.col("avg_bal"))
        .join(
            orders_recent,
            F.col("c_custkey") == F.col("o_custkey"),
            "left_anti",
        )
    )
    return (
        rich.select(
            (F.col("c_custkey") % 10).alias("cntrycode"), "c_acctbal"
        )
        .groupBy("cntrycode")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
    )


_Q15_SQL = """
WITH revenue AS (
    SELECT l_suppkey AS supplier_no,
           sum(CAST(l_extendedprice AS DECIMAL(18,2))
               * CAST(1 - l_discount AS DECIMAL(18,2))) AS rev
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1996-04-01'
    GROUP BY l_suppkey
)
SELECT s_suppkey, s_name,
       CAST(round(rev, 2) AS DOUBLE) AS total_revenue
FROM supplier JOIN revenue ON s_suppkey = supplier_no
WHERE rev = (SELECT max(rev) FROM revenue)
"""


@register("tpch_q15_top_supplier", _Q15_SQL)
def q_tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q15 shape (top supplier): the revenue view aggregated once and
    REUSED twice — as the join input and inside the max() scalar
    subquery. Equality is tested on the exact DECIMAL sum (double
    max-equality would be a last-ULP lottery); the 1-row max is
    broadcast. At 100 TB the view aggregates lineitem once (partial →
    final on l_suppkey) and everything downstream is supplier-sized."""
    from pyspark.sql import functions as F

    lineitem = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    supplier = load_table(spark, sf_dir, "supplier")
    revenue = lineitem.groupBy(
        F.col("l_suppkey").alias("supplier_no")
    ).agg(
        F.sum(
            F.col("l_extendedprice").cast("decimal(18,2)")
            * (F.lit(1.0) - F.col("l_discount")).cast("decimal(18,2)")
        ).alias("rev")
    )
    max_rev = revenue.agg(F.max("rev").alias("max_rev"))
    return (
        revenue.crossJoin(F.broadcast(max_rev))
        .where(F.col("rev") == F.col("max_rev"))
        .join(supplier, F.col("s_suppkey") == F.col("supplier_no"))
        .select(
            "s_suppkey",
            "s_name",
            F.round("rev", 2).cast("double").alias("total_revenue"),
        )
    )


_FUZZY_SQL = """
WITH blocked AS (
    SELECT c_custkey, c_name,
           substr(c_name, 1, length(c_name) - 2) AS blk
    FROM customer)
SELECT a.c_custkey AS key_a, b.c_custkey AS key_b,
       a.c_name AS name_a, b.c_name AS name_b,
       levenshtein(a.c_name, b.c_name) AS lev
FROM blocked a JOIN blocked b
  ON a.blk = b.blk AND a.c_custkey < b.c_custkey
WHERE levenshtein(a.c_name, b.c_name) <= 2
"""


@register("customers_fuzzy_name_pairs", _FUZZY_SQL)
def q_fuzzy_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy entity resolution with BLOCKING: candidate pairs come
    only from same-block keys (all-but-last-2 chars), then the
    expensive levenshtein verifies within blocks — the standard
    recall/cost trade (pairs differing outside the block key are
    missed BY DESIGN; more passes with different keys raise recall).
    Block sizes are bounded, so pair work never goes corpus-quadratic.
    """
    from pyspark.sql import functions as F

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_name",
        F.expr(
            "substr(c_name, 1, length(c_name) - 2)"
        ).alias("blk"),
    )
    a = cust.select(
        F.col("c_custkey").alias("key_a"),
        F.col("c_name").alias("name_a"),
        F.col("blk").alias("blk_a"),
    )
    b = cust.select(
        F.col("c_custkey").alias("key_b"),
        F.col("c_name").alias("name_b"),
        F.col("blk").alias("blk_b"),
    )
    return (
        a.join(
            b,
            (F.col("blk_a") == F.col("blk_b"))
            & (F.col("key_a") < F.col("key_b")),
        )
        # r13 (guide §1.1 first-principles): every joined pair shares
        # its block key — substr(name, 1, len-2) string-equality
        # forces equal lengths and an identical len-2 prefix — and
        # edit distance is invariant under common-prefix removal, so
        # levenshtein runs on the 2-char tails only (values identical
        # to the full-string distance; DP cells per pair drop from
        # ~len² to ≤4). The <= 2 filter is unchanged.
        .withColumn(
            "lev",
            F.levenshtein(
                F.expr("substr(name_a, greatest(length(name_a) - 1, 1), 2)"),
                F.expr("substr(name_b, greatest(length(name_b) - 1, 1), 2)"),
            ),
        )
        .where(F.col("lev") <= 2)
        .select("key_a", "key_b", "name_a", "name_b", "lev")
    )


_SHARE_HIER_SQL = """
WITH nat AS (
    SELECT r.r_name AS region, n.n_name AS nation,
           round(sum(CAST(o_totalprice AS DOUBLE)), 2) AS revenue
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY 1, 2)
SELECT region, nation, revenue,
       round(revenue / sum(revenue) OVER (PARTITION BY region), 6)
           AS share_of_region,
       round(sum(revenue) OVER (PARTITION BY region)
             / sum(revenue) OVER (), 6) AS region_share_of_total
FROM nat
"""


@register("revenue_share_hierarchy", _SHARE_HIER_SQL)
def q_share_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percent-of-parent at two hierarchy levels (nation→region→total):
    the fact table aggregates once; both share windows run over the
    25-row nation dimension aggregate, so the global window is
    dimension-sized, never fact-sized. Region/nation dims broadcast
    (constant size); customer join left to AQE. Shares divide
    pre-rounded revenues so both engines divide identical doubles."""
    from pyspark.sql import Window, functions as F

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    nat = (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .join(
            F.broadcast(nation),
            customer.c_nationkey == nation.n_nationkey,
        )
        .join(
            F.broadcast(region), nation.n_regionkey == region.r_regionkey
        )
        .groupBy(
            F.col("r_name").alias("region"), F.col("n_name").alias("nation")
        )
        .agg(
            F.round(
                F.sum(F.col("o_totalprice").cast("double")), 2
            ).alias("revenue")
        )
    )
    w_region = Window.partitionBy("region")
    w_all = Window.partitionBy()
    return nat.select(
        "region",
        "nation",
        "revenue",
        F.round(
            F.col("revenue") / F.sum("revenue").over(w_region), 6
        ).alias("share_of_region"),
        F.round(
            F.sum("revenue").over(w_region) / F.sum("revenue").over(w_all),
            6,
        ).alias("region_share_of_total"),
    )


_ROLLING_AOV_SQL = """
WITH daily AS (
    SELECT (epoch_ms(o_orderdate) // 86400000) * 86400000 AS day_ms,
           count(*) AS n_orders,
           CAST(sum(CAST(round(CAST(o_totalprice AS DOUBLE) * 100)
                         AS BIGINT)) AS BIGINT) AS cents
    FROM orders GROUP BY 1)
SELECT day_ms, n_orders,
       CAST(sum(n_orders) OVER w28 AS BIGINT) AS orders_28d,
       round(sum(cents) OVER w28
             / (100.0 * sum(n_orders) OVER w28), 6) AS aov_28d
FROM daily
WINDOW w28 AS (ORDER BY day_ms
    RANGE BETWEEN 2332800000 PRECEDING AND CURRENT ROW)
"""


@register("orders_rolling_aov_28d", _ROLLING_AOV_SQL)
def q_rolling_aov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """28-day rolling average order value via a RANGE frame over
    epoch-ms (27 days back + today = 2332800000 ms) — the
    calendar-correct trailing window: unlike a ROWS frame, missing
    days don't stretch the lookback. The window runs over the DAILY
    aggregate, not the fact table; revenue is integerized to CENTS
    before windowing so the rolling sums are exact integers — a
    160-term float window sum diverges in the last ULP between
    engines, an integer one cannot."""
    from pyspark.sql import Window, functions as F

    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        (
            (F.unix_millis("o_orderdate") / F.lit(86400000)).cast("long")
            * F.lit(86400000)
        ).alias("day_ms")
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(
            F.round(F.col("o_totalprice").cast("double") * 100).cast("long")
        ).alias("cents"),
    )
    w28 = Window.orderBy("day_ms").rangeBetween(-2332800000, 0)
    return daily.select(
        "day_ms",
        "n_orders",
        F.sum("n_orders").over(w28).alias("orders_28d"),
        F.round(
            F.sum("cents").over(w28)
            / (F.lit(100.0) * F.sum("n_orders").over(w28)),
            6,
        ).alias("aov_28d"),
    )


_SHIP_DELAY_SQL = """
SELECT o_orderpriority,
       count(*) AS n_lineitems,
       round(avg((epoch_ms(l_shipdate) - epoch_ms(o_orderdate))
                 / 86400000.0), 6) AS avg_delay_days,
       round(quantile_cont((epoch_ms(l_shipdate) - epoch_ms(o_orderdate))
                           / 86400000.0, 0.5), 6) AS median_delay_days,
       CAST(max((epoch_ms(l_shipdate) - epoch_ms(o_orderdate))
                // 86400000) AS BIGINT) AS max_delay_days
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY 1
"""


@register("orders_shipping_delay_stats", _SHIP_DELAY_SQL)
def q_shipping_delay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-ship latency distribution per priority class: the
    fulfilment-SLA monitoring query (epoch-ms date arithmetic, exact
    continuous median, identical in both engines)."""
    from pyspark.sql import functions as F

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    delay = (
        F.unix_millis("l_shipdate") - F.unix_millis("o_orderdate")
    ) / F.lit(86400000.0)
    delay_days_int = (
        (F.unix_millis("l_shipdate") - F.unix_millis("o_orderdate"))
        / F.lit(86400000)
    ).cast("long")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_lineitems"),
            F.round(F.avg(delay), 6).alias("avg_delay_days"),
            F.round(F.expr(
                "percentile((unix_millis(l_shipdate) -"
                " unix_millis(o_orderdate)) / 86400000.0, 0.5)"
            ), 6).alias("median_delay_days"),
            F.max(delay_days_int).alias("max_delay_days"),
        )
    )


_COHORT_LTV_SQL = """
WITH firsts AS (
    SELECT o_custkey,
           min((epoch_ms(o_orderdate) // 86400000) // 30) AS cohort_p
    FROM orders GROUP BY 1),
facts AS (
    SELECT f.cohort_p,
           ((epoch_ms(o.o_orderdate) // 86400000) // 30) - f.cohort_p
               AS period_offset,
           CAST(round(CAST(o.o_totalprice AS DOUBLE) * 100) AS BIGINT)
               AS cents
    FROM orders o JOIN firsts f ON o.o_custkey = f.o_custkey),
per AS (
    SELECT cohort_p, period_offset,
           count(*) AS n_orders, sum(cents) AS cents
    FROM facts GROUP BY 1, 2)
SELECT CAST(cohort_p AS BIGINT) AS cohort_p,
       CAST(period_offset AS BIGINT) AS period_offset,
       n_orders,
       round(sum(cents) OVER (PARTITION BY cohort_p ORDER BY period_offset
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             / 100.0, 2) AS cum_revenue
FROM per
"""


@register("orders_cohort_ltv", _COHORT_LTV_SQL)
def q_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer-cohort lifetime value: cohort = 30-day period of the
    customer's FIRST order; revenue accumulates per cohort along the
    period offset. The cumulative window runs over the (cohort,
    offset) aggregate in exact integer cents — the first-order lookup
    is a per-customer aggregate joined back (AQE-sized)."""
    from pyspark.sql import Window, functions as F

    orders = load_table(spark, sf_dir, "orders")
    period = (
        (F.unix_millis("o_orderdate") / F.lit(86400000)).cast("long")
        / F.lit(30)
    ).cast("long")
    firsts = orders.groupBy("o_custkey").agg(
        F.min(period).alias("cohort_p")
    )
    facts = orders.join(firsts, "o_custkey").select(
        "cohort_p",
        (period - F.col("cohort_p")).alias("period_offset"),
        F.round(F.col("o_totalprice").cast("double") * 100)
        .cast("long")
        .alias("cents"),
    )
    per = facts.groupBy("cohort_p", "period_offset").agg(
        F.count(F.lit(1)).alias("n_orders"), F.sum("cents").alias("cents")
    )
    w = (
        Window.partitionBy("cohort_p")
        .orderBy("period_offset")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return per.select(
        "cohort_p",
        "period_offset",
        "n_orders",
        F.round(F.sum("cents").over(w) / F.lit(100.0), 2).alias(
            "cum_revenue"
        ),
    )


_SEASONAL_INDEX_SQL = """
WITH monthly AS (
    SELECT CAST(year(o_orderdate) AS INTEGER) AS y,
           CAST(month(o_orderdate) AS INTEGER) AS m,
           CAST(sum(CAST(round(CAST(o_totalprice AS DOUBLE) * 100)
                         AS BIGINT)) AS BIGINT) AS cents
    FROM orders GROUP BY 1, 2),
moy AS (
    SELECT m, CAST(sum(cents) AS BIGINT) AS tot_cents,
           count(*) AS n_years
    FROM monthly GROUP BY 1),
g AS (SELECT CAST(sum(tot_cents) AS BIGINT) AS gc,
             CAST(sum(n_years) AS BIGINT) AS gn FROM moy)
SELECT m, n_years,
       round((tot_cents * 1.0 / n_years) / (gc * 1.0 / gn), 6)
           AS seasonal_index
FROM moy, g
"""


@register("orders_seasonal_index", _SEASONAL_INDEX_SQL)
def q_seasonal_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-of-year seasonal index: each calendar month's mean
    revenue relative to the overall monthly mean (index 1.0 = no
    seasonality) — integer-cents aggregates divided once at the end,
    all on the 12-row month dimension."""
    from pyspark.sql import functions as F

    orders = load_table(spark, sf_dir, "orders")
    monthly = orders.groupBy(
        F.year("o_orderdate").alias("y"),
        F.month("o_orderdate").alias("m"),
    ).agg(
        F.sum(
            F.round(F.col("o_totalprice").cast("double") * 100).cast("long")
        ).alias("cents")
    )
    moy = monthly.groupBy("m").agg(
        F.sum("cents").alias("tot_cents"), F.count(F.lit(1)).alias("n_years")
    )
    g = moy.agg(
        F.sum("tot_cents").alias("gc"), F.sum("n_years").alias("gn")
    )
    return moy.crossJoin(F.broadcast(g)).select(
        "m",
        "n_years",
        F.round(
            (F.col("tot_cents") / F.col("n_years"))
            / (F.col("gc") / F.col("gn")),
            6,
        ).alias("seasonal_index"),
    )


_HHI_SQL = """
WITH srev AS (
    SELECT s.s_nationkey AS nk, l.l_suppkey,
           CAST(sum(CAST(round(CAST(l_extendedprice AS DOUBLE) * 100)
                         AS BIGINT)) AS BIGINT) AS cents
    FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
    GROUP BY 1, 2),
tot AS (SELECT nk, CAST(sum(cents) AS BIGINT) AS t FROM srev GROUP BY 1)
SELECT n.n_name AS nation,
       count(*) AS n_suppliers,
       round(sum((cents * 1.0 / t) * (cents * 1.0 / t)), 6) + 0.0 AS hhi
FROM srev JOIN tot USING (nk) JOIN nation n ON n.n_nationkey = srev.nk
GROUP BY 1
"""


@register("suppliers_nation_hhi", _HHI_SQL)
def q_nation_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl–Hirschman supplier-concentration index per nation
    (Σ share² of supplier revenue; 1/n = perfectly even, 1.0 =
    monopoly) — shares divide integer-cents aggregates, squared and
    summed on the per-supplier aggregate."""
    from pyspark.sql import functions as F

    li = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    srev = (
        li.join(supplier, li.l_suppkey == supplier.s_suppkey)
        .groupBy(F.col("s_nationkey").alias("nk"), "l_suppkey")
        .agg(
            F.sum(
                F.round(F.col("l_extendedprice").cast("double") * 100).cast(
                    "long"
                )
            ).alias("cents")
        )
    )
    tot = srev.groupBy("nk").agg(F.sum("cents").alias("t"))
    share = F.col("cents") / F.col("t")
    return (
        srev.join(tot, "nk")
        .join(
            F.broadcast(nation), F.col("nk") == F.col("n_nationkey")
        )
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            (F.round(F.sum(share * share), 6) + F.lit(0.0)).alias("hhi"),
        )
    )


_ABC_SQL = """
WITH rev AS (
    SELECT o_custkey,
           CAST(sum(CAST(round(CAST(o_totalprice AS DOUBLE) * 100)
                         AS BIGINT)) AS BIGINT) AS cents
    FROM orders GROUP BY 1),
ranked AS (
    SELECT o_custkey, cents,
           sum(cents) OVER (ORDER BY cents DESC, o_custkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
           sum(cents) OVER () AS tot
    FROM rev),
classed AS (
    SELECT o_custkey, cents,
           CASE WHEN cum * 1.0 / tot <= 0.8 THEN 'A'
                WHEN cum * 1.0 / tot <= 0.95 THEN 'B'
                ELSE 'C' END AS abc
    FROM ranked)
SELECT abc,
       count(*) AS n_customers,
       round(sum(cents) * 1.0
             / (SELECT sum(cents) FROM rev), 6) AS revenue_share
FROM classed GROUP BY 1
"""


@register("customers_abc_classification", _ABC_SQL)
def q_abc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC inventory-style customer classification: A = customers
    inside the top 80% of cumulative revenue, B = next 15%, C = tail —
    integer-cents cumulative over the per-customer aggregate, boundary
    ratios computed from identical integers in both engines."""
    from pyspark.sql import Window, functions as F

    orders = load_table(spark, sf_dir, "orders")
    rev = orders.groupBy("o_custkey").agg(
        F.sum(
            F.round(F.col("o_totalprice").cast("double") * 100).cast("long")
        ).alias("cents")
    )
    w_cum = Window.orderBy(
        F.col("cents").desc(), F.col("o_custkey")
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_all = Window.partitionBy()
    ranked = rev.select(
        "o_custkey",
        "cents",
        F.sum("cents").over(w_cum).alias("cum"),
        F.sum("cents").over(w_all).alias("tot"),
    )
    share = F.col("cum") / F.col("tot")
    classed = ranked.select(
        "cents",
        F.when(share <= 0.8, "A")
        .when(share <= 0.95, "B")
        .otherwise("C")
        .alias("abc"),
        "tot",
    )
    return classed.groupBy("abc").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.round(F.sum("cents") / F.max("tot"), 6).alias("revenue_share"),
    )


_ELASTICITY_SQL = """
SELECT p.p_brand,
       CAST(count(*) AS BIGINT) AS n_lineitems,
       round(regr_slope(ln(l.l_quantity),
                        ln(l.l_extendedprice / l.l_quantity)), 6) + 0.0
           AS elasticity,
       round(regr_r2(ln(l.l_quantity),
                     ln(l.l_extendedprice / l.l_quantity)), 6)
           AS r2
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE l.l_quantity > 0 AND l.l_extendedprice > 0
GROUP BY 1
"""


@register("parts_price_elasticity", _ELASTICITY_SQL)
def q_price_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-log OLS of quantity on unit price per brand — the demand
    elasticity estimate, a distributed regression per group using
    Catalyst's regr_* aggregates (unit price derives inside the
    expression; the part join is AQE-sized)."""
    from pyspark.sql import functions as F

    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_quantity") > 0) & (F.col("l_extendedprice") > 0)
    )
    part = load_table(spark, sf_dir, "part")
    ln_q = F.log(F.col("l_quantity"))
    ln_p = F.log(F.col("l_extendedprice") / F.col("l_quantity"))
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_lineitems"),
            (
                F.round(F.expr(
                    "regr_slope(ln(l_quantity),"
                    " ln(l_extendedprice / l_quantity))"
                ), 6)
                + F.lit(0.0)
            ).alias("elasticity"),
            F.round(F.expr(
                "regr_r2(ln(l_quantity),"
                " ln(l_extendedprice / l_quantity))"
            ), 6).alias("r2"),
        )
    )


# --------------------------------------------------------------------------
# TPC-H shapes previously blocked on the missing partsupp table — unblocked
# by deriving the supplier-part relation from lineitem: ps(partkey, suppkey)
# with cost = min unit price and availqty = total shipped quantity.  The
# derived view is aggregated ONCE per query (partial -> final on the pair
# key) and everything downstream is pair-sized, not lineitem-sized.
# --------------------------------------------------------------------------

_Q2_SQL = """
WITH ps AS (
    SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
           min(l_extendedprice / l_quantity) AS ps_cost
    FROM lineitem GROUP BY 1, 2
)
SELECT p_partkey, p_name, s_suppkey, s_name, n_name,
       round(ps_cost, 6) AS min_cost
FROM ps
JOIN part ON p_partkey = ps_partkey
JOIN supplier ON s_suppkey = ps_suppkey
JOIN nation ON n_nationkey = s_nationkey
JOIN region ON r_regionkey = n_regionkey
WHERE p_type = 'STANDARD' AND p_size <= 10
  AND r_name = 'EUROPE'
  AND ps_cost = (SELECT min(ps2.ps_cost) FROM ps ps2
                 JOIN supplier s2 ON s2.s_suppkey = ps2.ps_suppkey
                 JOIN nation n2 ON n2.n_nationkey = s2.s_nationkey
                 JOIN region r2 ON r2.r_regionkey = n2.n_regionkey
                 WHERE ps2.ps_partkey = ps.ps_partkey
                   AND r2.r_name = 'EUROPE')
"""


@register("tpch_q2_min_cost_supplier", _Q2_SQL)
def q_tpch_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2 shape (minimum-cost supplier): correlated min subquery per
    part over the region-qualified supplier set.  Spark-first plan:
    derive ps from lineitem once, restrict it to EUROPE suppliers
    (nation/region dims are constant-size -> hard broadcast), then a
    window MIN over ps_partkey + equality filter replaces the
    correlated subquery — one extra shuffle on ps_partkey instead of
    a per-row rescan.  The min is a PICK over identically-computed
    doubles (no arithmetic), so cross-engine equality is exact.
    Reference parity: the engine has no subquery surface at all
    (services/processing/src/jobs/*.py are fixed pipelines); this is
    §2.9 capability beyond it."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    li = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    part = load_table(spark, sf_dir, "part").where(
        (F.col("p_type") == "STANDARD") & (F.col("p_size") <= 10)
    )
    euro_supp = (
        supplier.join(
            F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey")
        )
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .where(F.col("r_name") == "EUROPE")
        .select("s_suppkey", "s_name", "n_name")
    )
    # r13 (guide §2.3 filter before the exchange): the EUROPE
    # restriction is on the supplier key alone — group-homogeneous for
    # the (partkey, suppkey) groupBy — so a broadcast semi-join BEFORE
    # the aggregation drops ~4/5 of the rows from the shuffle without
    # changing any surviving group's min.
    li_euro = li.join(
        F.broadcast(euro_supp.select("s_suppkey")),
        li.l_suppkey == F.col("s_suppkey"),
        "left_semi",
    )
    ps = li_euro.groupBy(
        F.col("l_partkey").alias("ps_partkey"),
        F.col("l_suppkey").alias("ps_suppkey"),
    ).agg(F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("ps_cost"))
    euro_ps = ps.join(euro_supp, ps.ps_suppkey == euro_supp.s_suppkey)
    w = Window.partitionBy("ps_partkey")
    return (
        euro_ps.withColumn("min_cost_raw", F.min("ps_cost").over(w))
        .where(F.col("ps_cost") == F.col("min_cost_raw"))
        .join(part, F.col("ps_partkey") == part.p_partkey)
        .select(
            "p_partkey",
            "p_name",
            "s_suppkey",
            "s_name",
            "n_name",
            F.round("ps_cost", 6).alias("min_cost"),
        )
    )


_Q11_SQL = """
WITH ps AS (
    SELECT l_partkey AS partkey,
           sum(CAST(l_extendedprice AS DECIMAL(18,2))
               * CAST(1 - l_discount AS DECIMAL(18,2))) AS val
    FROM lineitem
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation ON n_nationkey = s_nationkey
    WHERE n_regionkey = 2
    GROUP BY 1
)
SELECT partkey, CAST(round(val, 2) AS DOUBLE) AS part_value
FROM ps
WHERE 1000 * CAST(val * 10000 AS BIGINT)
      > (SELECT CAST(sum(val) * 10000 AS BIGINT) FROM ps)
"""


@register("tpch_q11_important_stock", _Q11_SQL)
def q_tpch_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q11 shape (important stock): group-by value per part gated by a
    scalar-subquery FRACTION of the global total (val > total/1000).
    The threshold compare runs in integer 1e-4 units (DECIMAL sums are
    exact on both engines; scaling to BIGINT removes any decimal
    division/typing divergence).  The per-part view aggregates once;
    the 1-row global total re-aggregates the SAME view and is
    broadcast — at 100 TB this is two supplier-joined scans of
    lineitem collapsed to one by exchange reuse, then part-sized."""
    from pyspark.sql import functions as F

    li = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation").where(F.col("n_regionkey") == 2)
    supp2 = supplier.join(
        F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey")
    ).select("s_suppkey")
    val = (
        F.col("l_extendedprice").cast("decimal(18,2)")
        * (F.lit(1) - F.col("l_discount")).cast("decimal(18,2)")
    )
    ps = (
        li.join(supp2, li.l_suppkey == supp2.s_suppkey)
        .groupBy(F.col("l_partkey").alias("partkey"))
        .agg(F.sum(val).alias("val"))
    )
    total = ps.agg(
        (F.sum("val") * 10000).cast("bigint").alias("total_e4")
    )
    return (
        ps.crossJoin(F.broadcast(total))
        .where(
            F.lit(1000) * (F.col("val") * 10000).cast("bigint")
            > F.col("total_e4")
        )
        .select(
            "partkey",
            F.round("val", 2).cast("double").alias("part_value"),
        )
    )


_Q16_SQL = """
WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
SELECT p_brand, p_type, p_size,
       count(DISTINCT l_suppkey) AS supplier_cnt
FROM ps JOIN part ON p_partkey = l_partkey
WHERE p_brand <> 'Brand#13'
  AND p_type <> 'MEDIUM'
  AND p_size IN (1, 5, 10, 15, 20, 25, 30, 35)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY 1, 2, 3
"""


@register("tpch_q16_supplier_cnt", _Q16_SQL)
def q_tpch_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q16 shape (parts/supplier relationship): distinct-pair view,
    negated dimension predicates, NOT IN exclusion subquery (the
    complaints list -> suppliers with negative balance), COUNT
    DISTINCT per part attribute triple.  NOT IN over a non-null key
    set maps to LEFT ANTI; the exclusion set is tiny and broadcast.
    The distinct-pair dedup shuffles the 16-byte pair key once and
    the part join is AQE-sized."""
    from pyspark.sql import functions as F

    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").where(
        (F.col("p_brand") != "Brand#13")
        & (F.col("p_type") != "MEDIUM")
        & F.col("p_size").isin(1, 5, 10, 15, 20, 25, 30, 35)
    )
    excl = load_table(spark, sf_dir, "supplier").where(
        F.col("s_acctbal") < 0
    ).select("s_suppkey")
    ps = li.select("l_partkey", "l_suppkey").distinct()
    return (
        ps.join(
            F.broadcast(excl),
            ps.l_suppkey == excl.s_suppkey,
            "left_anti",
        )
        .join(part, F.col("l_partkey") == part.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


_Q20_SQL = """
WITH avail AS (
    SELECT l_partkey, l_suppkey,
           CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS availqty
    FROM lineitem GROUP BY 1, 2),
shipped AS (
    SELECT l_partkey, l_suppkey,
           CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty96
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
    GROUP BY 1, 2)
SELECT s_suppkey, s_name
FROM supplier JOIN nation ON n_nationkey = s_nationkey
WHERE n_regionkey = 1
  AND s_suppkey IN (
      SELECT a.l_suppkey
      FROM avail a
      JOIN shipped sh ON a.l_partkey = sh.l_partkey
                     AND a.l_suppkey = sh.l_suppkey
      JOIN part ON p_partkey = a.l_partkey
      WHERE p_type = 'PROMO' AND a.availqty > 2 * sh.qty96)
"""


@register("tpch_q20_excess_stock", _Q20_SQL)
def q_tpch_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q20 shape (potential part promotion): nested semi-join chain —
    suppliers IN (pairs whose all-time quantity exceeds 2x their 1996
    shipments of PROMO parts).  The correlated inner aggregate becomes
    a pair-keyed join of two aggregations, each shuffling lineitem
    ONCE on the 16-byte pair key (the date filter is pushed into the
    second scan, so the exchanges differ by design; the join consumes
    both exchanges with no third shuffle), the
    part filter is AQE-sized, and the outer IN is a LEFT SEMI on
    s_suppkey.  Quantities are integral -> BIGINT sums, exact compare."""
    from pyspark.sql import functions as F

    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").where(F.col("p_type") == "PROMO")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation").where(F.col("n_regionkey") == 1)
    qty = F.col("l_quantity").cast("bigint")
    avail = li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum(qty).cast("bigint").alias("availqty")
    )
    shipped = (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .groupBy(
            F.col("l_partkey").alias("sh_partkey"),
            F.col("l_suppkey").alias("sh_suppkey"),
        )
        .agg(F.sum(qty).cast("bigint").alias("qty96"))
    )
    excess = (
        avail.join(
            shipped,
            (F.col("l_partkey") == F.col("sh_partkey"))
            & (F.col("l_suppkey") == F.col("sh_suppkey")),
        )
        .join(part, F.col("l_partkey") == part.p_partkey)
        .where(F.col("availqty") > 2 * F.col("qty96"))
        .select("l_suppkey")
    )
    return (
        supplier.join(
            F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey")
        )
        .join(excess, F.col("s_suppkey") == excess.l_suppkey, "left_semi")
        .select("s_suppkey", "s_name")
    )


_Q21_SQL = """
SELECT s_name, count(*) AS numwait
FROM lineitem l1
JOIN orders ON o_orderkey = l1.l_orderkey
JOIN supplier ON s_suppkey = l1.l_suppkey
WHERE l1.l_returnflag = 'R' AND o_orderstatus = 'F'
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_returnflag = 'R')
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 20
"""


@register("tpch_q21_sole_blamed_supplier", _Q21_SQL)
def q_tpch_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q21 shape (suppliers who kept orders waiting): EXISTS (another
    supplier on the order) + NOT EXISTS (another supplier ALSO at
    fault) — the schema lacks commit/receipt dates, so "at fault"
    maps to returned lines (l_returnflag = 'R') on finalized orders.
    Both correlated EXISTS become orderkey-equi SEMI/ANTI joins with
    the supplier inequality in the join condition; three scans of
    lineitem share one shuffle key (l_orderkey) so AQE can reuse the
    exchange.  Deterministic LIMIT via (numwait DESC, s_name)."""
    from pyspark.sql import functions as F

    li = load_table(spark, sf_dir, "lineitem")
    orders_f = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderstatus") == "F"
    ).select("o_orderkey")
    supplier = load_table(spark, sf_dir, "supplier")
    l1 = li.where(F.col("l_returnflag") == "R").select(
        "l_orderkey", "l_suppkey"
    )
    l2 = li.select(
        F.col("l_orderkey").alias("o2_orderkey"),
        F.col("l_suppkey").alias("o2_suppkey"),
    )
    l3 = li.where(F.col("l_returnflag") == "R").select(
        F.col("l_orderkey").alias("o3_orderkey"),
        F.col("l_suppkey").alias("o3_suppkey"),
    )
    blamed = (
        l1.join(orders_f, l1.l_orderkey == orders_f.o_orderkey, "left_semi")
        .join(
            l2,
            (F.col("l_orderkey") == F.col("o2_orderkey"))
            & (F.col("l_suppkey") != F.col("o2_suppkey")),
            "left_semi",
        )
        .join(
            l3,
            (F.col("l_orderkey") == F.col("o3_orderkey"))
            & (F.col("l_suppkey") != F.col("o3_suppkey")),
            "left_anti",
        )
    )
    return (
        blamed.join(supplier, F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(20)
    )


# --------------------------------------------------------------------------
# Skyline (Pareto frontier) — the classic research operator, as one
# sorted window pass instead of the naive O(n²) dominance join.
# --------------------------------------------------------------------------

_SKYLINE_SQL = """
WITH parts AS (
    SELECT l_partkey,
           min(CAST(round(l_extendedprice * 100) AS BIGINT)) AS price_cents,
           CAST(sum(l_quantity) AS BIGINT) AS qty
    FROM lineitem GROUP BY l_partkey),
walked AS (
    SELECT l_partkey, price_cents, qty,
           max(qty) OVER (ORDER BY price_cents
                          RANGE BETWEEN UNBOUNDED PRECEDING
                                    AND 1 PRECEDING) AS best_cheaper,
           max(qty) OVER (PARTITION BY price_cents) AS best_same_price
    FROM parts)
SELECT l_partkey, price_cents, qty
FROM walked
WHERE qty = best_same_price
  AND (best_cheaper IS NULL OR qty > best_cheaper)
"""


@register("parts_skyline_price_qty", _SKYLINE_SQL)
def q_parts_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline / Pareto frontier: parts not dominated on (lower unit
    price, higher available quantity). The naive operator is an O(n²)
    dominance self-join; sorted by price, it collapses to ONE window
    pass — a point survives iff it beats the best quantity among all
    STRICTLY cheaper points (RANGE frame to 1 PRECEDING on integer
    cents makes "strictly cheaper" exact) and tops its own price tie
    group. Ties on both dimensions are mutually non-dominating and all
    retained, which the two-guard rule gets right by construction."""
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    parts = li.groupBy("l_partkey").agg(
        F.min(F.round(F.col("l_extendedprice") * 100).cast("bigint")).alias(
            "price_cents"
        ),
        F.sum("l_quantity").cast("bigint").alias("qty"),
    )
    w_cheaper = (
        Window.orderBy("price_cents")
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    w_same = Window.partitionBy("price_cents")
    walked = parts.select(
        "l_partkey",
        "price_cents",
        "qty",
        F.max("qty").over(w_cheaper).alias("best_cheaper"),
        F.max("qty").over(w_same).alias("best_same_price"),
    )
    return walked.where(
        (F.col("qty") == F.col("best_same_price"))
        & (
            F.col("best_cheaper").isNull()
            | (F.col("qty") > F.col("best_cheaper"))
        )
    ).select("l_partkey", "price_cents", "qty")


_TRADE_BALANCE_SQL = """
WITH flows AS (
    SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
           sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100)
                    AS BIGINT)) AS flow_cents
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation nc ON c.c_nationkey = nc.n_nationkey
    JOIN nation ns ON s.s_nationkey = ns.n_nationkey
    WHERE nc.n_nationkey != ns.n_nationkey
    GROUP BY 1, 2),
outflow AS (
    SELECT supp_nation AS nation, sum(flow_cents) AS exports
    FROM flows GROUP BY 1),
inflow AS (
    SELECT cust_nation AS nation, sum(flow_cents) AS imports
    FROM flows GROUP BY 1)
SELECT coalesce(o.nation, i.nation) AS nation,
       CAST(coalesce(o.exports, 0) AS BIGINT) AS exports_cents,
       CAST(coalesce(i.imports, 0) AS BIGINT) AS imports_cents,
       CAST(coalesce(o.exports, 0) - coalesce(i.imports, 0) AS BIGINT)
           AS balance_cents
FROM outflow o FULL OUTER JOIN inflow i ON o.nation = i.nation
"""


@register("nations_trade_balance", _TRADE_BALANCE_SQL)
def q_nations_trade_balance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cross-nation trade balance: discounted revenue flowing from
    each supplier nation to each (different) customer nation, netted
    into per-nation exports, imports, and balance — the flow-matrix
    rollup generalizing TPC-H Q7's two-nation volume. Five joins with
    two broadcast nation dims, integer-cents flows, one full-outer
    reconciliation."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    nc = nation.select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    ns = nation.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    flows = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(customer, orders["o_custkey"] == customer["c_custkey"])
        .join(supplier, li["l_suppkey"] == supplier["s_suppkey"])
        .join(F.broadcast(nc), customer["c_nationkey"] == F.col("c_nk"))
        .join(F.broadcast(ns), supplier["s_nationkey"] == F.col("s_nk"))
        .where(F.col("c_nk") != F.col("s_nk"))
        .groupBy("supp_nation", "cust_nation")
        .agg(
            F.sum(
                F.round(
                    F.col("l_extendedprice")
                    * (1 - F.col("l_discount"))
                    * 100
                ).cast("bigint")
            ).alias("flow_cents")
        )
    )
    out = flows.groupBy(F.col("supp_nation").alias("nation")).agg(
        F.sum("flow_cents").alias("exports")
    )
    inn = flows.groupBy(F.col("cust_nation").alias("nation")).agg(
        F.sum("flow_cents").alias("imports")
    )
    o = out.alias("o")
    i = inn.alias("i")
    return o.join(
        i, F.col("o.nation") == F.col("i.nation"), "full_outer"
    ).select(
        F.coalesce("o.nation", "i.nation").alias("nation"),
        F.coalesce("o.exports", F.lit(0)).cast("bigint").alias(
            "exports_cents"
        ),
        F.coalesce("i.imports", F.lit(0)).cast("bigint").alias(
            "imports_cents"
        ),
        (
            F.coalesce("o.exports", F.lit(0))
            - F.coalesce("i.imports", F.lit(0))
        )
        .cast("bigint")
        .alias("balance_cents"),
    )


# --------------------------------------------------------------------------
# Round-6: data-layout sortedness audit + cohort LTV
# --------------------------------------------------------------------------

_SORTEDNESS_SQL = """
WITH ordered AS (
    SELECT l_orderkey, l_partkey, l_suppkey,
           lag(l_orderkey) OVER w AS p_ok,
           lag(l_partkey) OVER w AS p_pk,
           lag(l_suppkey) OVER w AS p_sk
    FROM lineitem
    WINDOW w AS (ORDER BY l_orderkey, l_linenumber,
                          l_partkey, l_suppkey)
),
runs AS (
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(1 + sum(CASE WHEN p_ok IS NOT NULL
                              AND l_orderkey <> p_ok
                             THEN 1 ELSE 0 END) AS BIGINT) AS r_ok,
           CAST(1 + sum(CASE WHEN p_pk IS NOT NULL
                              AND l_partkey <> p_pk
                             THEN 1 ELSE 0 END) AS BIGINT) AS r_pk,
           CAST(1 + sum(CASE WHEN p_sk IS NOT NULL
                              AND l_suppkey <> p_sk
                             THEN 1 ELSE 0 END) AS BIGINT) AS r_sk
    FROM ordered
)
SELECT col, n_rows, n_runs,
       CAST(n_rows * 1000 // n_runs AS BIGINT) AS avg_run_len_x1000
FROM (
    SELECT 'l_orderkey' AS col, n_rows, r_ok AS n_runs FROM runs
    UNION ALL
    SELECT 'l_partkey', n_rows, r_pk FROM runs
    UNION ALL
    SELECT 'l_suppkey', n_rows, r_sk FROM runs
)
"""


@register("lineitem_sortedness_audit", _SORTEDNESS_SQL)
def q_lineitem_sortedness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Layout advisory: run counts per candidate sort column under the
    table's canonical (l_orderkey, l_linenumber) order — long runs mean
    RLE-friendly encoding and tight min/max footers (file skipping);
    runs ≈ rows means that column gains nothing from the current sort
    and is a Z-order/re-sort candidate (see lineitem_zorder_skipping).
    One window pass computes all three columns' run counts; integer
    outputs only."""
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"
    )
    # full tiebreak: (l_orderkey, l_linenumber) is unique on the real
    # TPC-H layout but NOT on the synthetic .scale slice — a partial
    # order makes lag() engine-dependent on ties (round-12 scale gate)
    w = Window.orderBy(
        "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"
    )
    with_lag = li.select(
        "l_orderkey",
        "l_partkey",
        "l_suppkey",
        F.lag("l_orderkey").over(w).alias("p_ok"),
        F.lag("l_partkey").over(w).alias("p_pk"),
        F.lag("l_suppkey").over(w).alias("p_sk"),
    )

    def runs(c: str, p: str):
        return (
            F.lit(1)
            + F.sum(
                F.when(
                    F.col(p).isNotNull() & (F.col(c) != F.col(p)), F.lit(1)
                ).otherwise(F.lit(0))
            )
        ).cast("long")

    agg = with_lag.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        runs("l_orderkey", "p_ok").alias("r_ok"),
        runs("l_partkey", "p_pk").alias("r_pk"),
        runs("l_suppkey", "p_sk").alias("r_sk"),
    )
    cols = [("l_orderkey", "r_ok"), ("l_partkey", "r_pk"),
            ("l_suppkey", "r_sk")]
    parts = [
        agg.select(
            F.lit(name).alias("col"),
            "n_rows",
            F.col(r).alias("n_runs"),
            F.expr(f"n_rows * 1000 div {r}").cast("long").alias(
                "avg_run_len_x1000"
            ),
        )
        for name, r in cols
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


_COHORT_LTV_PC_SQL = """
WITH om AS (
    SELECT o_custkey,
           (year(o_orderdate) * 12 + month(o_orderdate) - 1) AS m,
           CAST(round(o_totalprice * 100) AS BIGINT) AS cents
    FROM orders
),
cohorts AS (SELECT o_custkey, min(m) AS cohort_m FROM om GROUP BY 1),
sizes AS (
    SELECT cohort_m, CAST(count(*) AS BIGINT) AS cohort_customers
    FROM cohorts GROUP BY 1
),
monthly AS (
    SELECT c.cohort_m, om.m - c.cohort_m AS age_months,
           CAST(sum(om.cents) AS BIGINT) AS spend_cents
    FROM om JOIN cohorts c ON om.o_custkey = c.o_custkey
    GROUP BY 1, 2
),
cum AS (
    SELECT cohort_m, age_months,
           CAST(sum(spend_cents) OVER (
               PARTITION BY cohort_m ORDER BY age_months
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_spend_cents
    FROM monthly
)
SELECT cum.cohort_m AS cohort_month_index,
       CAST(cum.age_months AS BIGINT) AS age_months,
       s.cohort_customers,
       cum.cum_spend_cents,
       CAST(cum.cum_spend_cents // s.cohort_customers AS BIGINT)
           AS ltv_cents
FROM cum JOIN sizes s ON cum.cohort_m = s.cohort_m
"""


@register("orders_cohort_ltv_per_customer", _COHORT_LTV_PC_SQL)
def q_orders_cohort_ltv_per_customer(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """PER-CUSTOMER cohort lifetime-value curves (the sibling of
    orders_cohort_ltv above, which tracks total cohort revenue by
    30-day period): for each first-order-month cohort,
    cumulative spend per cohort customer by months-since-first-order.
    The per-(cohort, age) cumulative needs NO per-customer month spine:
    cohort monthly totals cumsum over age, divided by the fixed cohort
    size — two hash aggregates and one small window, integer cents."""
    from pyspark.sql import Window

    om = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        (
            F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1
        ).alias("m"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    cohorts = om.groupBy("o_custkey").agg(F.min("m").alias("cohort_m"))
    sizes = cohorts.groupBy("cohort_m").agg(
        F.count(F.lit(1)).cast("long").alias("cohort_customers")
    )
    monthly = (
        om.join(cohorts, "o_custkey")
        .groupBy("cohort_m", (F.col("m") - F.col("cohort_m")).alias(
            "age_months"
        ))
        .agg(F.sum("cents").cast("long").alias("spend_cents"))
    )
    w = (
        Window.partitionBy("cohort_m")
        .orderBy("age_months")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = monthly.select(
        "cohort_m",
        F.col("age_months").cast("long").alias("age_months"),
        F.sum("spend_cents").over(w).cast("long").alias("cum_spend_cents"),
    )
    return cum.join(F.broadcast(sizes), "cohort_m").select(
        F.col("cohort_m").alias("cohort_month_index"),
        "age_months",
        "cohort_customers",
        "cum_spend_cents",
        F.expr("cum_spend_cents div cohort_customers").cast("long").alias(
            "ltv_cents"
        ),
    )


# --------------------------------------------------------------------------
# Round-10: probabilistic record linkage (Fellegi–Sunter, 1969 — public
# method). A deterministic "dirty register" twin of customer is derived
# in-query (md5-keyed field corruption), then linked back with blocking
# + log-likelihood agreement weights.
# --------------------------------------------------------------------------

_RL_FS_SQL = """
WITH twin AS (
    SELECT c_custkey AS twin_id,
           md5(CAST(c_custkey AS VARCHAR)) AS h,
           c_name, c_nationkey, c_acctbal, c_mktsegment
    FROM customer),
b AS (
    SELECT twin_id,
           CASE WHEN substr(h, 1, 1) BETWEEN '0' AND '7' THEN c_name
                WHEN substr(h, 1, 1) IN ('8', '9', 'a', 'b')
                     THEN lower(c_name)
                ELSE replace(c_name, '#', '@') END AS name_b,
           CASE WHEN substr(h, 2, 1) IN ('d', 'e', 'f')
                THEN (c_nationkey + 1) % 25
                ELSE c_nationkey END AS nation_b,
           CASE WHEN substr(h, 3, 1) IN ('e', 'f') THEN NULL
                ELSE c_mktsegment END AS seg_b,
           c_acctbal + (twin_id % 5) * 0.13e0 AS bal_b
    FROM twin),
cand AS (
    SELECT a.c_custkey, b.twin_id, a.c_name, b.name_b,
           a.c_mktsegment, b.seg_b, a.c_acctbal, b.bal_b
    FROM customer a
    JOIN b ON a.c_nationkey = b.nation_b
          AND upper(substr(a.c_name, length(a.c_name) - 3, 4))
            = upper(substr(b.name_b, length(b.name_b) - 3, 4))),
scored AS (
    SELECT c_custkey, twin_id,
           (CASE WHEN c_name = name_b THEN 9.2e0
                 WHEN levenshtein(c_name, name_b) <= 1 THEN 3.0e0
                 ELSE -3.5e0 END
            + CASE WHEN seg_b IS NULL THEN 0.0e0
                   WHEN c_mktsegment = seg_b THEN 2.3e0
                   ELSE -1.9e0 END
            + CASE WHEN abs(c_acctbal - bal_b) <= 0.7e0 THEN 4.6e0
                   ELSE -2.6e0 END) AS score
    FROM cand)
SELECT c_custkey AS custkey_a, twin_id, score,
       CASE WHEN score >= 12.0e0 THEN 'match' ELSE 'possible' END AS decision,
       CAST(c_custkey = twin_id AS INT) AS is_true_pair
FROM scored
WHERE score >= 3.0e0
"""


@register("customers_record_linkage_fs", _RL_FS_SQL)
def q_record_linkage_fs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probabilistic record linkage, Fellegi–Sunter style (public
    1969 method): link customers against a deterministically
    corrupted register twin (md5-keyed field noise — 25% lowercased
    names, 25% '#'→'@' typos, ~19% wrong nation, 12.5% missing
    segment, balance drifted by (key%5)·0.13) using BLOCKING on
    nation plus per-field agreement weights.

    Fellegi–Sunter mechanics: each comparator contributes a
    log-likelihood-ratio weight log(m/u) on agreement and
    log((1−m)/(1−u)) on disagreement; the weights here are
    PRE-COMPUTED numeric literals (9.2/3.0/−3.5 for
    exact/close/other name, 2.3/0/−1.9 for segment with missing→0,
    4.6/−2.6 for balance-within-0.7) so both engines sum identical
    doubles — no log() calls to diverge. score ≥ 12 ⇒ 'match',
    ≥ 3 ⇒ 'possible'; below ⇒ dropped (bounds output).

    Scale story: the pair space is Σ_block |A_b|·|B_b| via the
    COMPOSITE block key (nation, case-folded last-4 name chars) —
    never |A|·|B|. The composite matters: nation alone has 25 values,
    so its blocks grow linearly with n and the candidate space is
    Θ(n²/25) — a degenerate-block cross join that only reveals itself
    at scale (measured: minutes at 150k customers vs 1.8 s with the
    composite; same hot-bucket class as a boilerplate LSH band).
    Block keys must be chosen by MEASURED selectivity. Twins with a
    corrupted nation are unreachable BY DESIGN (single-pass blocking
    loses them — recall 1212/1500 at sf0.01; production runs multiple
    passes and unions candidates, see the multipass twin below). The
    levenshtein verifier runs only inside blocks, the same
    bounded-candidate discipline as customers_fuzzy_name_pairs and
    the dedup family. is_true_pair makes linkage quality auditable in
    the output itself.
    """
    cust = load_table(spark, sf_dir, "customer")
    h = F.md5(F.col("c_custkey").cast("string"))
    twin = cust.select(
        F.col("c_custkey").alias("twin_id"),
        F.when(
            F.substring(h, 1, 1).between("0", "7"), F.col("c_name")
        )
        .when(
            F.substring(h, 1, 1).isin("8", "9", "a", "b"),
            F.lower(F.col("c_name")),
        )
        .otherwise(F.replace(F.col("c_name"), F.lit("#"), F.lit("@")))
        .alias("name_b"),
        F.when(
            F.substring(h, 2, 1).isin("d", "e", "f"),
            (F.col("c_nationkey") + 1) % 25,
        )
        .otherwise(F.col("c_nationkey"))
        .alias("nation_b"),
        F.when(
            F.substring(h, 3, 1).isin("e", "f"),
            F.lit(None).cast("string"),
        )
        .otherwise(F.col("c_mktsegment"))
        .alias("seg_b"),
        (
            F.col("c_acctbal") + (F.col("c_custkey") % 5) * F.lit(0.13)
        ).alias("bal_b"),
    )
    tail_a = F.upper(F.expr("substr(c_name, length(c_name) - 3, 4)"))
    tail_b = F.upper(F.expr("substr(name_b, length(name_b) - 3, 4)"))
    cand = cust.join(
        twin,
        (F.col("c_nationkey") == F.col("nation_b")) & (tail_a == tail_b),
    )
    name_w = (
        F.when(F.col("c_name") == F.col("name_b"), F.lit(9.2))
        # r13: bounded-threshold levenshtein (-1 past the bound; the
        # equality branch above already caught distance 0)
        .when(F.levenshtein("c_name", "name_b", 1) >= 0, F.lit(3.0))
        .otherwise(F.lit(-3.5))
    )
    seg_w = (
        F.when(F.col("seg_b").isNull(), F.lit(0.0))
        .when(F.col("c_mktsegment") == F.col("seg_b"), F.lit(2.3))
        .otherwise(F.lit(-1.9))
    )
    bal_w = F.when(
        F.abs(F.col("c_acctbal") - F.col("bal_b")) <= 0.7, F.lit(4.6)
    ).otherwise(F.lit(-2.6))
    return (
        cand.withColumn("score", name_w + seg_w + bal_w)
        .where(F.col("score") >= 3.0)
        .select(
            F.col("c_custkey").alias("custkey_a"),
            "twin_id",
            "score",
            F.when(F.col("score") >= 12.0, "match")
            .otherwise("possible")
            .alias("decision"),
            (F.col("c_custkey") == F.col("twin_id"))
            .cast("int")
            .alias("is_true_pair"),
        )
    )


_RL_FS_MULTIPASS_SQL = """
WITH twin AS (
    SELECT c_custkey AS twin_id,
           md5(CAST(c_custkey AS VARCHAR)) AS h,
           c_name, c_nationkey, c_acctbal, c_mktsegment
    FROM customer),
b AS (
    SELECT twin_id,
           CASE WHEN substr(h, 1, 1) BETWEEN '0' AND '7' THEN c_name
                WHEN substr(h, 1, 1) IN ('8', '9', 'a', 'b')
                     THEN lower(c_name)
                ELSE replace(c_name, '#', '@') END AS name_b,
           CASE WHEN substr(h, 2, 1) IN ('d', 'e', 'f')
                THEN (c_nationkey + 1) % 25
                ELSE c_nationkey END AS nation_b,
           CASE WHEN substr(h, 3, 1) IN ('e', 'f') THEN NULL
                ELSE c_mktsegment END AS seg_b,
           c_acctbal + (twin_id % 5) * 0.13e0 AS bal_b
    FROM twin),
cand AS (
    SELECT a.c_custkey, b.twin_id, a.c_name, b.name_b,
           a.c_mktsegment, b.seg_b, a.c_acctbal, b.bal_b
    FROM customer a
    JOIN b ON a.c_nationkey = b.nation_b
          AND upper(substr(a.c_name, length(a.c_name) - 3, 4))
            = upper(substr(b.name_b, length(b.name_b) - 3, 4))
    UNION
    SELECT a.c_custkey, b.twin_id, a.c_name, b.name_b,
           a.c_mktsegment, b.seg_b, a.c_acctbal, b.bal_b
    FROM customer a
    JOIN b ON upper(substr(a.c_name, length(a.c_name) - 3, 4))
            = upper(substr(b.name_b, length(b.name_b) - 3, 4))
          AND a.c_mktsegment = b.seg_b
    UNION
    SELECT a.c_custkey, b3.twin_id, a.c_name, b3.name_b,
           a.c_mktsegment, b3.seg_b, a.c_acctbal, b3.bal_b
    FROM customer a
    JOIN (SELECT b.*, CAST(floor(b.bal_b) AS BIGINT) - off.o AS band
          FROM b CROSS JOIN (VALUES (0), (1)) AS off(o)) b3
      ON upper(substr(a.c_name, length(a.c_name) - 3, 4))
       = upper(substr(b3.name_b, length(b3.name_b) - 3, 4))
     AND CAST(floor(a.c_acctbal) AS BIGINT) = b3.band),
scored AS (
    SELECT c_custkey, twin_id,
           (CASE WHEN c_name = name_b THEN 9.2e0
                 WHEN levenshtein(c_name, name_b) <= 1 THEN 3.0e0
                 ELSE -3.5e0 END
            + CASE WHEN seg_b IS NULL THEN 0.0e0
                   WHEN c_mktsegment = seg_b THEN 2.3e0
                   ELSE -1.9e0 END
            + CASE WHEN abs(c_acctbal - bal_b) <= 0.7e0 THEN 4.6e0
                   ELSE -2.6e0 END) AS score
    FROM cand)
SELECT c_custkey AS custkey_a, twin_id, score,
       CASE WHEN score >= 12.0e0 THEN 'match' ELSE 'possible' END AS decision,
       CAST(c_custkey = twin_id AS INT) AS is_true_pair
FROM scored
WHERE score >= 3.0e0
"""


@register("customers_record_linkage_multipass", _RL_FS_MULTIPASS_SQL)
def q_record_linkage_multipass(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Multi-pass blocking for the Fellegi–Sunter linkage above:
    pass 1 blocks on (nation, name tail) like the single-pass form;
    pass 2 on (name tail, segment) — independent of nation, so it
    reaches the twins pass 1 loses to nation corruption; pass 3
    (round-11) on (name tail, BALANCE BAND) — independent of BOTH
    nation and segment, so it reaches the 49/1500 residue twins whose
    nation is corrupted AND segment dropped. Balance drift is bounded
    by construction (+[0, 0.52], < the 1.0 band width), so the b side
    EXPLODES into the two reachable bands {floor(bal_b),
    floor(bal_b)-1} and the join stays a pure equi join on
    (tail, band) — the standard banded/interval blocking trick: an
    OR-of-bands join condition would degrade to a tail-only equi join
    plus filter, whose blocks grow linearly with n. Candidates are
    the set-UNION of all passes, then the identical scoring runs
    once. This is how production linkage recovers blocking misses:
    recall rises without ever forming the |A|·|B| cross space — each
    pass is a bounded-block equi join on a MEASURED-selectivity
    composite key (pass 3's b-side profile at sf0.01: 3000 blocks,
    max block 1), and the union dedups candidates before the
    comparators. Measured at sf0.01: true-pair recall 1212/1500
    (pass 1 alone) → 1451/1500 (+pass 2) → 1500/1500 (+pass 3).

    Round-10 lesson baked into this query (first draft stalled the
    scale sweep): pass 2 originally blocked on the 12-char name
    PREFIX — on this corpus the constant boilerplate stem
    'Customer#000…', one block holding every row, a full cross join
    invisible at 1.5k customers and 2.25e10 candidate pairs at 150k;
    and nation-only pass-1 blocks grow linearly with n (Θ(n²/25)).
    Same degenerate-bucket class as a hot LSH band; the fix is the
    same — block keys chosen by measured value distribution, never
    assumed."""
    cust = load_table(spark, sf_dir, "customer")
    h = F.md5(F.col("c_custkey").cast("string"))
    twin = cust.select(
        F.col("c_custkey").alias("twin_id"),
        F.when(
            F.substring(h, 1, 1).between("0", "7"), F.col("c_name")
        )
        .when(
            F.substring(h, 1, 1).isin("8", "9", "a", "b"),
            F.lower(F.col("c_name")),
        )
        .otherwise(F.replace(F.col("c_name"), F.lit("#"), F.lit("@")))
        .alias("name_b"),
        F.when(
            F.substring(h, 2, 1).isin("d", "e", "f"),
            (F.col("c_nationkey") + 1) % 25,
        )
        .otherwise(F.col("c_nationkey"))
        .alias("nation_b"),
        F.when(
            F.substring(h, 3, 1).isin("e", "f"),
            F.lit(None).cast("string"),
        )
        .otherwise(F.col("c_mktsegment"))
        .alias("seg_b"),
        (
            F.col("c_acctbal") + (F.col("c_custkey") % 5) * F.lit(0.13)
        ).alias("bal_b"),
    )
    cols = [
        "c_custkey", "twin_id", "c_name", "name_b",
        "c_mktsegment", "seg_b", "c_acctbal", "bal_b",
    ]
    tail_a = F.upper(F.expr("substr(c_name, length(c_name) - 3, 4)"))
    tail_b = F.upper(F.expr("substr(name_b, length(name_b) - 3, 4)"))
    pass1 = cust.join(
        twin,
        (F.col("c_nationkey") == F.col("nation_b")) & (tail_a == tail_b),
    ).select(*cols)
    pass2 = cust.join(
        twin,
        (tail_a == tail_b) & (F.col("c_mktsegment") == F.col("seg_b")),
    ).select(*cols)
    # pass 3: explode b into its two reachable balance bands so the
    # join is a pure (tail, band) equi join — never an OR condition
    twin3 = twin.select(
        "*", F.explode(F.array(F.lit(0), F.lit(1))).alias("o")
    ).withColumn(
        "band", F.floor(F.col("bal_b")).cast("long") - F.col("o")
    )
    pass3 = cust.join(
        twin3,
        (tail_a == tail_b)
        & (F.floor(F.col("c_acctbal")).cast("long") == F.col("band")),
    ).select(*cols)
    cand = pass1.unionByName(pass2).unionByName(pass3).distinct()
    name_w = (
        F.when(F.col("c_name") == F.col("name_b"), F.lit(9.2))
        # r13: bounded-threshold levenshtein (-1 past the bound; the
        # equality branch above already caught distance 0)
        .when(F.levenshtein("c_name", "name_b", 1) >= 0, F.lit(3.0))
        .otherwise(F.lit(-3.5))
    )
    seg_w = (
        F.when(F.col("seg_b").isNull(), F.lit(0.0))
        .when(F.col("c_mktsegment") == F.col("seg_b"), F.lit(2.3))
        .otherwise(F.lit(-1.9))
    )
    bal_w = F.when(
        F.abs(F.col("c_acctbal") - F.col("bal_b")) <= 0.7, F.lit(4.6)
    ).otherwise(F.lit(-2.6))
    return (
        cand.withColumn("score", name_w + seg_w + bal_w)
        .where(F.col("score") >= 3.0)
        .select(
            F.col("c_custkey").alias("custkey_a"),
            "twin_id",
            "score",
            F.when(F.col("score") >= 12.0, "match")
            .otherwise("possible")
            .alias("decision"),
            (F.col("c_custkey") == F.col("twin_id"))
            .cast("int")
            .alias("is_true_pair"),
        )
    )


def _rl_blocking_sql() -> str:
    """Blocking-quality audit: the three standard blocking metrics
    (reduction ratio, pairs completeness, block-size profile) for four
    candidate block keys — including the two degenerate ones this
    round rejected. Ground truth: twin_id = custkey."""
    b_cte = """
WITH twin AS (
    SELECT c_custkey AS twin_id,
           md5(CAST(c_custkey AS VARCHAR)) AS h,
           c_name, c_nationkey, c_acctbal, c_mktsegment
    FROM customer),
b AS (
    SELECT twin_id,
           CASE WHEN substr(h, 1, 1) BETWEEN '0' AND '7' THEN c_name
                WHEN substr(h, 1, 1) IN ('8', '9', 'a', 'b')
                     THEN lower(c_name)
                ELSE replace(c_name, '#', '@') END AS name_b,
           CASE WHEN substr(h, 2, 1) IN ('d', 'e', 'f')
                THEN (c_nationkey + 1) % 25
                ELSE c_nationkey END AS nation_b,
           CASE WHEN substr(h, 3, 1) IN ('e', 'f') THEN NULL
                ELSE c_mktsegment END AS seg_b,
           c_acctbal + (twin_id % 5) * 0.13e0 AS bal_b
    FROM twin)"""
    # (key_name, key expr on clean side, key expr on corrupted side)
    keys = [
        ("nation_only", "CAST(c_nationkey AS VARCHAR)",
         "CAST(nation_b AS VARCHAR)"),
        ("nation_and_tail",
         "CAST(c_nationkey AS VARCHAR) || ':' ||"
         " upper(substr(c_name, length(c_name) - 3, 4))",
         "CAST(nation_b AS VARCHAR) || ':' ||"
         " upper(substr(name_b, length(name_b) - 3, 4))"),
        ("tail_and_segment",
         "upper(substr(c_name, length(c_name) - 3, 4)) || ':' ||"
         " coalesce(c_mktsegment, '<null>')",
         "upper(substr(name_b, length(name_b) - 3, 4)) || ':' ||"
         " coalesce(seg_b, '<null>')"),
        ("name_prefix12_rejected", "upper(substr(c_name, 1, 12))",
         "upper(substr(name_b, 1, 12))"),
    ]
    parts = []
    for key_name, ka, kb in keys:
        parts.append(f"""
SELECT '{key_name}' AS block_key,
       (SELECT CAST(count(*) AS BIGINT) FROM
          (SELECT DISTINCT {kb} AS k FROM b)) AS n_blocks,
       (SELECT CAST(max(cnt) AS BIGINT) FROM
          (SELECT count(*) AS cnt FROM b GROUP BY {kb})) AS max_block,
       (SELECT CAST(coalesce(sum(na * nb), 0) AS BIGINT) FROM
          (SELECT {ka} AS k, count(*) AS na FROM customer GROUP BY 1) sa
          JOIN
          (SELECT {kb} AS k, count(*) AS nb FROM b GROUP BY 1) sb
          USING (k)) AS cand_pairs,
       (SELECT CAST(count(*) AS BIGINT)
          FROM customer c JOIN b ON c.c_custkey = b.twin_id
          WHERE {ka} = {kb}) AS true_pairs_reachable""")
    # pass-3 key (round-11): (name tail, balance band), b side EXPLODED
    # into its two reachable bands — block metrics run over the
    # exploded key space; completeness is band-within-one reachability
    tail_a = "upper(substr(c.c_name, length(c.c_name) - 3, 4))"
    ka_band = ("upper(substr(c_name, length(c_name) - 3, 4)) || ':' ||"
               " CAST(CAST(floor(c_acctbal) AS BIGINT) AS VARCHAR)")
    kb_band = ("upper(substr(name_b, length(name_b) - 3, 4)) || ':' ||"
               " CAST(CAST(floor(bal_b) AS BIGINT) - off.o AS VARCHAR)")
    exploded = "b CROSS JOIN (VALUES (0), (1)) AS off(o)"
    parts.append(f"""
SELECT 'tail_and_balband' AS block_key,
       (SELECT CAST(count(*) AS BIGINT) FROM
          (SELECT DISTINCT {kb_band} AS k FROM {exploded})) AS n_blocks,
       (SELECT CAST(max(cnt) AS BIGINT) FROM
          (SELECT count(*) AS cnt FROM {exploded}
           GROUP BY {kb_band})) AS max_block,
       (SELECT CAST(coalesce(sum(na * nb), 0) AS BIGINT) FROM
          (SELECT {ka_band} AS k, count(*) AS na
           FROM customer GROUP BY 1) sa
          JOIN
          (SELECT {kb_band} AS k, count(*) AS nb
           FROM {exploded} GROUP BY 1) sb
          USING (k)) AS cand_pairs,
       (SELECT CAST(count(*) AS BIGINT)
          FROM customer c JOIN b ON c.c_custkey = b.twin_id
          WHERE {tail_a}
              = upper(substr(b.name_b, length(b.name_b) - 3, 4))
            AND CAST(floor(c.c_acctbal) AS BIGINT)
                IN (CAST(floor(b.bal_b) AS BIGINT),
                    CAST(floor(b.bal_b) AS BIGINT) - 1))
           AS true_pairs_reachable""")
    body = "\nUNION ALL".join(parts)
    return f"""{b_cte},
metrics AS ({body})
SELECT block_key, n_blocks, max_block, cand_pairs,
       CAST(floor((CAST(cand_pairs AS DOUBLE) * 1000000e0)
            / (CAST((SELECT count(*) FROM customer) AS DOUBLE)
               * CAST((SELECT count(*) FROM b) AS DOUBLE)))
           AS BIGINT) AS cand_frac_ppm,
       CAST(floor((CAST(true_pairs_reachable AS DOUBLE) * 1000000e0)
            / CAST((SELECT count(*) FROM b) AS DOUBLE))
           AS BIGINT) AS completeness_ppm
FROM metrics
"""


_RL_BLOCKING_SQL = _rl_blocking_sql()


@register("customers_blocking_quality", _RL_BLOCKING_SQL)
def q_customers_blocking_quality(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Blocking-quality audit for the record-linkage family — the
    'measure, don't guess' operator the round-10 degenerate-key
    incident demands. For five candidate block keys (the three
    shipped composites — including round-11's exploded
    (tail, balance-band) pass-3 key, measured over its exploded key
    space — nation-only, and the REJECTED corpus-constant 12-char
    name prefix) it reports the standard blocking metrics: block
    count, largest block, candidate-pair volume Σ_k |A_k|·|B_k|, the
    candidate fraction of the full |A|·|B| cross space (ppm), and
    pairs completeness — the fraction of true twins whose block keys
    still agree after corruption (ppm). Counts stay BIGINT; the two
    ppm FRACTIONS are computed in double then floored — the integer
    form (cand_pairs * 1e6 and n_a * n_b as BIGINT) overflows 2^63
    at ~3e9 rows a side, exactly the register sizes this pre-flight
    check exists for.

    Read at sf0.01 the table says exactly why the shipped keys won:
    nation_only proposes 4.1% of the cross space with max blocks that
    GROW with n (13 → 75 across one decade); the rejected prefix key
    proposes 74% of the cross space (2 blocks — 'Customer#000…' and
    the '@'-typo class — max block 1115 of 1500); nation_and_tail and
    tail_and_segment propose ~540/576 ppm with max block 1 at
    808000/864000 ppm completeness, and their UNION drives multipass
    recall. At 100 TB this query IS the pre-flight check before
    launching a linkage join: it costs one group-by per key — no pair
    ever materializes."""
    cust = load_table(spark, sf_dir, "customer")
    h = F.md5(F.col("c_custkey").cast("string"))
    b = cust.select(
        F.col("c_custkey").alias("twin_id"),
        F.when(
            F.substring(h, 1, 1).between("0", "7"), F.col("c_name")
        )
        .when(
            F.substring(h, 1, 1).isin("8", "9", "a", "b"),
            F.lower(F.col("c_name")),
        )
        .otherwise(F.replace(F.col("c_name"), F.lit("#"), F.lit("@")))
        .alias("name_b"),
        F.when(
            F.substring(h, 2, 1).isin("d", "e", "f"),
            (F.col("c_nationkey") + 1) % 25,
        )
        .otherwise(F.col("c_nationkey"))
        .alias("nation_b"),
        F.when(
            F.substring(h, 3, 1).isin("e", "f"),
            F.lit(None).cast("string"),
        )
        .otherwise(F.col("c_mktsegment"))
        .alias("seg_b"),
        (
            F.col("c_acctbal") + (F.col("c_custkey") % 5) * F.lit(0.13)
        ).alias("bal_b"),
    )
    keys = [
        (
            "nation_only",
            F.col("c_nationkey").cast("string"),
            F.col("nation_b").cast("string"),
        ),
        (
            "nation_and_tail",
            F.concat_ws(
                ":",
                F.col("c_nationkey").cast("string"),
                F.upper(F.expr("substr(c_name, length(c_name) - 3, 4)")),
            ),
            F.concat_ws(
                ":",
                F.col("nation_b").cast("string"),
                F.upper(F.expr("substr(name_b, length(name_b) - 3, 4)")),
            ),
        ),
        (
            "tail_and_segment",
            F.concat_ws(
                ":",
                F.upper(F.expr("substr(c_name, length(c_name) - 3, 4)")),
                F.coalesce(F.col("c_mktsegment"), F.lit("<null>")),
            ),
            F.concat_ws(
                ":",
                F.upper(F.expr("substr(name_b, length(name_b) - 3, 4)")),
                F.coalesce(F.col("seg_b"), F.lit("<null>")),
            ),
        ),
        (
            "name_prefix12_rejected",
            F.upper(F.substring("c_name", 1, 12)),
            F.upper(F.substring("name_b", 1, 12)),
        ),
    ]
    n_a = cust.count()
    n_b = n_a  # b is derived 1:1 from customer
    # pass-3 banded key: b explodes into its two reachable bands; a
    # twin is reachable iff its band falls within one of the b band
    tail_a_x = F.upper(F.expr("substr(c_name, length(c_name) - 3, 4)"))
    tail_b_x = F.upper(F.expr("substr(name_b, length(name_b) - 3, 4)"))
    band_a = F.floor(F.col("c_acctbal")).cast("long")
    band_b = F.floor(F.col("bal_b")).cast("long")
    b_exp = b.select(
        "*", F.explode(F.array(F.lit(0), F.lit(1))).alias("o")
    )
    ka_band = F.concat_ws(":", tail_a_x, band_a.cast("string"))
    kb_band = F.concat_ws(
        ":", tail_b_x, (band_b - F.col("o")).cast("string")
    )
    reach_band = (band_a == band_b) | (band_a == band_b - 1)
    specs = [
        (key_name, ka, b, kb, ka == kb) for key_name, ka, kb in keys
    ] + [("tail_and_balband", ka_band, b_exp, kb_band,
          (tail_a_x == tail_b_x) & reach_band)]
    rows = []
    for key_name, ka, b_frame, kb, reach_cond in specs:
        blocks_b = b_frame.groupBy(kb.alias("k")).agg(
            F.count(F.lit(1)).alias("nb")
        )
        stats = blocks_b.agg(
            F.count(F.lit(1)).alias("n_blocks"),
            F.max("nb").alias("max_block"),
        )
        cand = (
            cust.groupBy(ka.alias("k"))
            .agg(F.count(F.lit(1)).alias("na"))
            .join(blocks_b, "k")
            .agg(
                F.coalesce(F.sum(F.col("na") * F.col("nb")), F.lit(0))
                .alias("cand_pairs")
            )
        )
        reach = (
            cust.join(b, F.col("c_custkey") == F.col("twin_id"))
            .where(reach_cond)
            .agg(F.count(F.lit(1)).alias("true_pairs_reachable"))
        )
        rows.append(
            stats.crossJoin(cand)
            .crossJoin(reach)
            .select(
                F.lit(key_name).alias("block_key"),
                F.col("n_blocks").cast("bigint").alias("n_blocks"),
                F.col("max_block").cast("bigint").alias("max_block"),
                F.col("cand_pairs").cast("bigint").alias("cand_pairs"),
                # ppm fractions in DOUBLE (identical shape both
                # engines): the BIGINT form overflows once n_a*n_b
                # crosses 2^63 (~3e9 customers a side) — double keeps
                # the pre-flight check valid at 100 TB register sizes
                # (ppm precision is all the audit needs)
                F.floor(
                    F.col("cand_pairs").cast("double")
                    * F.lit(1000000.0)
                    / (F.lit(float(n_a)) * F.lit(float(n_b)))
                )
                .cast("bigint")
                .alias("cand_frac_ppm"),
                F.floor(
                    F.col("true_pairs_reachable").cast("double")
                    * F.lit(1000000.0)
                    / F.lit(float(n_b))
                )
                .cast("bigint")
                .alias("completeness_ppm"),
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


def _rl_em_sql() -> str:
    """Two unrolled EM iterations fitting the FS parameters (match
    prior p; per-level m/u probabilities for the three comparators)
    on the multipass candidate set. Identical expression shapes on
    both engines; all literals e0-doubles; output rounded to 6.

    The M-step reduces over the 18 GAMMA-PATTERN CELLS, not the ~92k
    raw pairs: the posterior w is a pure function of
    (g_name, g_seg, g_bal), so per-cell exact integer counts carry
    all the information and the float sums run over <=18 terms —
    order-insensitive in practice and immune to the
    shuffled-partial-merge-order ulp flake a 92k-double sum invites
    (round-10 ADVICE)."""
    # `cells` is MATERIALIZED: otherwise DuckDB re-plans the candidate
    # join inside every nested scalar subquery of the E/M steps.
    gamma = """
cand AS (
    SELECT a.c_custkey AS ka, b.twin_id AS kb,
           CASE WHEN a.c_name = b.name_b THEN 2
                WHEN levenshtein(a.c_name, b.name_b) <= 1 THEN 1
                ELSE 0 END AS g_name,
           CASE WHEN b.seg_b IS NULL THEN 1
                WHEN a.c_mktsegment = b.seg_b THEN 2
                ELSE 0 END AS g_seg,
           CASE WHEN abs(a.c_acctbal - b.bal_b) <= 0.7e0 THEN 1
                ELSE 0 END AS g_bal
    FROM base a JOIN b ON a.c_nationkey = b.nation_b),
cells AS MATERIALIZED (
    SELECT g_name, g_seg, g_bal, count(*) AS cnt
    FROM cand GROUP BY 1, 2, 3)"""
    # EM runs on the NATION-ONLY block deliberately: parameter fitting
    # needs real U-class mass (the composite-key candidate sets are
    # ~97% true matches — EM there degenerates). ~1.3% of the ~92k
    # nation-block pairs are matches, the classic FS estimation regime.

    def estep(tag, prev):
        # prev: dict of SQL expressions (scalar subqueries or literals)
        return f""",
e{tag} AS (
    SELECT g_name, g_seg, g_bal, cnt,
           ({prev['p']}) * (CASE g_name WHEN 2 THEN {prev['mn2']} WHEN 1 THEN {prev['mn1']} ELSE {prev['mn0']} END)
                        * (CASE g_seg WHEN 2 THEN {prev['ms2']} WHEN 1 THEN {prev['ms1']} ELSE {prev['ms0']} END)
                        * (CASE g_bal WHEN 1 THEN {prev['mb1']} ELSE {prev['mb0']} END) AS pm,
           (1e0 - ({prev['p']})) * (CASE g_name WHEN 2 THEN {prev['un2']} WHEN 1 THEN {prev['un1']} ELSE {prev['un0']} END)
                        * (CASE g_seg WHEN 2 THEN {prev['us2']} WHEN 1 THEN {prev['us1']} ELSE {prev['us0']} END)
                        * (CASE g_bal WHEN 1 THEN {prev['ub1']} ELSE {prev['ub0']} END) AS pu
    FROM cells),
w{tag} AS (SELECT g_name, g_seg, g_bal, cnt, pm / (pm + pu) AS w
           FROM e{tag}),
s{tag} AS (
    SELECT CAST(sum(cnt) AS BIGINT) AS n,
           sum(cnt * w) AS sw, sum(cnt * (1e0 - w)) AS suw,
           sum(CASE WHEN g_name = 2 THEN cnt * w ELSE 0e0 END) AS wn2,
           sum(CASE WHEN g_name = 1 THEN cnt * w ELSE 0e0 END) AS wn1,
           sum(CASE WHEN g_seg = 2 THEN cnt * w ELSE 0e0 END) AS ws2,
           sum(CASE WHEN g_seg = 1 THEN cnt * w ELSE 0e0 END) AS ws1,
           sum(CASE WHEN g_bal = 1 THEN cnt * w ELSE 0e0 END) AS wb1,
           sum(CASE WHEN g_name = 2 THEN cnt * (1e0 - w) ELSE 0e0 END) AS vn2,
           sum(CASE WHEN g_name = 1 THEN cnt * (1e0 - w) ELSE 0e0 END) AS vn1,
           sum(CASE WHEN g_seg = 2 THEN cnt * (1e0 - w) ELSE 0e0 END) AS vs2,
           sum(CASE WHEN g_seg = 1 THEN cnt * (1e0 - w) ELSE 0e0 END) AS vs1,
           sum(CASE WHEN g_bal = 1 THEN cnt * (1e0 - w) ELSE 0e0 END) AS vb1
    FROM w{tag})"""

    init = dict(
        p="0.05e0",
        mn2="0.55e0", mn1="0.35e0", mn0="0.10e0",
        un2="0.01e0", un1="0.20e0", un0="0.79e0",
        ms2="0.85e0", ms1="0.12e0", ms0="0.03e0",
        us2="0.20e0", us1="0.10e0", us0="0.70e0",
        mb1="0.95e0", mb0="0.05e0",
        ub1="0.05e0", ub0="0.95e0",
    )

    def fitted(tag):
        s = f"(SELECT {{c}} FROM s{tag})"
        def col(c):
            return s.format(c=c)
        return dict(
            p=f"({col('sw')} / {col('n')})",
            mn2=f"({col('wn2')} / {col('sw')})",
            mn1=f"({col('wn1')} / {col('sw')})",
            mn0=f"(1e0 - {col('wn2')} / {col('sw')} - {col('wn1')} / {col('sw')})",
            un2=f"({col('vn2')} / {col('suw')})",
            un1=f"({col('vn1')} / {col('suw')})",
            un0=f"(1e0 - {col('vn2')} / {col('suw')} - {col('vn1')} / {col('suw')})",
            ms2=f"({col('ws2')} / {col('sw')})",
            ms1=f"({col('ws1')} / {col('sw')})",
            ms0=f"(1e0 - {col('ws2')} / {col('sw')} - {col('ws1')} / {col('sw')})",
            us2=f"({col('vs2')} / {col('suw')})",
            us1=f"({col('vs1')} / {col('suw')})",
            us0=f"(1e0 - {col('vs2')} / {col('suw')} - {col('vs1')} / {col('suw')})",
            mb1=f"({col('wb1')} / {col('sw')})",
            mb0=f"(1e0 - {col('wb1')} / {col('sw')})",
            ub1=f"({col('vb1')} / {col('suw')})",
            ub0=f"(1e0 - {col('vb1')} / {col('suw')})",
        )

    twin_b = """
WITH base AS (
    SELECT * FROM customer
    ORDER BY md5(CAST(c_custkey AS VARCHAR)), c_custkey LIMIT 3000),
twin AS (
    SELECT c_custkey AS twin_id,
           md5(CAST(c_custkey AS VARCHAR)) AS h,
           c_name, c_nationkey, c_acctbal, c_mktsegment
    FROM base),
b AS (
    SELECT twin_id,
           CASE WHEN substr(h, 1, 1) BETWEEN '0' AND '7' THEN c_name
                WHEN substr(h, 1, 1) IN ('8', '9', 'a', 'b')
                     THEN lower(c_name)
                ELSE replace(c_name, '#', '@') END AS name_b,
           CASE WHEN substr(h, 2, 1) IN ('d', 'e', 'f')
                THEN (c_nationkey + 1) % 25
                ELSE c_nationkey END AS nation_b,
           CASE WHEN substr(h, 3, 1) IN ('e', 'f') THEN NULL
                ELSE c_mktsegment END AS seg_b,
           c_acctbal + (twin_id % 5) * 0.13e0 AS bal_b
    FROM twin),"""
    f1 = fitted(1)
    return (
        twin_b
        + gamma
        + estep(1, init)
        + estep(2, f1)
        + f""",
final AS (SELECT {fitted(2)['p']} AS p_hat,
       {fitted(2)['mn2']} AS m_name_exact, {fitted(2)['mn1']} AS m_name_close,
       {fitted(2)['un2']} AS u_name_exact, {fitted(2)['un1']} AS u_name_close,
       {fitted(2)['ms2']} AS m_seg_agree, {fitted(2)['ms1']} AS m_seg_null,
       {fitted(2)['us2']} AS u_seg_agree, {fitted(2)['us1']} AS u_seg_null,
       {fitted(2)['mb1']} AS m_bal_agree, {fitted(2)['ub1']} AS u_bal_agree)
SELECT round(p_hat, 6) + 0.0e0 AS p_hat,
       round(m_name_exact, 6) + 0.0e0 AS m_name_exact,
       round(m_name_close, 6) + 0.0e0 AS m_name_close,
       round(u_name_exact, 6) + 0.0e0 AS u_name_exact,
       round(u_name_close, 6) + 0.0e0 AS u_name_close,
       round(m_seg_agree, 6) + 0.0e0 AS m_seg_agree,
       round(m_seg_null, 6) + 0.0e0 AS m_seg_null,
       round(u_seg_agree, 6) + 0.0e0 AS u_seg_agree,
       round(u_seg_null, 6) + 0.0e0 AS u_seg_null,
       round(m_bal_agree, 6) + 0.0e0 AS m_bal_agree,
       round(u_bal_agree, 6) + 0.0e0 AS u_bal_agree
FROM final
"""
    )


_RL_EM_SQL = _rl_em_sql()


@register("customers_record_linkage_em", _RL_EM_SQL)
def q_record_linkage_em(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNSUPERVISED Fellegi–Sunter parameter estimation: two unrolled
    EM iterations fit the match prior p and the per-level m/u
    probabilities of all three comparators from the nation-blocked
    candidate pairs alone — no labels. E-step: per-pair posterior
    w = p·Πm / (p·Πm + (1−p)·Πu); M-step: p = Σw/N and m/u as
    w-weighted level frequencies. The fitted row recovers the planted
    corruption model (at sf0.01: p̂ 0.013422 vs true 1212/91619 =
    0.013228; m_bal 0.988 vs u_bal 0.00007 — the balance comparator's
    near-perfect separation found from raw data), which is the whole
    point of FS 1969: the hand-set literal weights in the scoring
    queries above are what this estimator would learn.

    Estimation deliberately runs on the NATION-ONLY block: EM needs
    genuine U-class mass, and the composite-key candidate sets are
    ~97% matches (degenerate fit — measured before choosing this
    block). Scale shape: per iteration one map pass over candidate
    pairs + one 1-row aggregate broadcast back (crossJoin of a 1-row
    frame) — candidates never materialize twice, nothing quadratic
    beyond the documented Θ(n²/25) of the estimation block itself,
    which production would cap by sampling blocks (estimation needs
    only a sample, unlike linking). Float discipline: identical
    e0-literal expression shapes both engines, one final round(6);
    the M-step reduces over the 18 exact-count gamma cells (w is a
    pure function of the pattern) via a sorted-array fold, so the
    float reduction is deterministic run-to-run — no
    shuffled-partial merge-order ulp flake near a rounding boundary.
    """
    cust = load_table(spark, sf_dir, "customer")
    # GATE COST CAP (repo convention): estimation runs on a
    # deterministic md5-ordered 3000-customer sample — non-binding at
    # sf<=0.01 (1500 customers), flat wall-time above (EM needs only a
    # sample of blocks; measured 66 s uncapped at sf0.1)
    base = cust.orderBy(
        F.md5(F.col("c_custkey").cast("string")), "c_custkey"
    ).limit(3000)
    h = F.md5(F.col("c_custkey").cast("string"))
    b = base.select(
        F.col("c_custkey").alias("twin_id"),
        F.when(
            F.substring(h, 1, 1).between("0", "7"), F.col("c_name")
        )
        .when(
            F.substring(h, 1, 1).isin("8", "9", "a", "b"),
            F.lower(F.col("c_name")),
        )
        .otherwise(F.replace(F.col("c_name"), F.lit("#"), F.lit("@")))
        .alias("name_b"),
        F.when(
            F.substring(h, 2, 1).isin("d", "e", "f"),
            (F.col("c_nationkey") + 1) % 25,
        )
        .otherwise(F.col("c_nationkey"))
        .alias("nation_b"),
        F.when(
            F.substring(h, 3, 1).isin("e", "f"),
            F.lit(None).cast("string"),
        )
        .otherwise(F.col("c_mktsegment"))
        .alias("seg_b"),
        (
            F.col("c_acctbal") + (F.col("c_custkey") % 5) * F.lit(0.13)
        ).alias("bal_b"),
    )
    cand = base.join(b, F.col("c_nationkey") == F.col("nation_b")).select(
        F.when(F.col("c_name") == F.col("name_b"), F.lit(2))
        .when(F.levenshtein("c_name", "name_b") <= 1, F.lit(1))
        .otherwise(F.lit(0))
        .alias("g_name"),
        F.when(F.col("seg_b").isNull(), F.lit(1))
        .when(F.col("c_mktsegment") == F.col("seg_b"), F.lit(2))
        .otherwise(F.lit(0))
        .alias("g_seg"),
        F.when(
            F.abs(F.col("c_acctbal") - F.col("bal_b")) <= 0.7, F.lit(1)
        )
        .otherwise(F.lit(0))
        .alias("g_bal"),
    )

    # M-step inputs: the 18 gamma-pattern cells with EXACT integer
    # counts — the posterior w is a pure function of the pattern, so
    # the ~92k-pair float sums collapse to <=18 weighted terms.
    # Reduction runs as a fold over a SORTED collected array: fully
    # deterministic run-to-run (no shuffled-partial merge-order ulp
    # lottery near a round(6) boundary — round-10 ADVICE item).
    cells = cand.groupBy("g_name", "g_seg", "g_bal").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    # r13: cells has TWO consumers (the w1 sums and the c2 crossJoin),
    # and each in-plan occurrence re-derives the whole candidate
    # subtree — TakeOrdered(3000) twice, the nation-block levenshtein
    # join twice. Materialize the <=18 exact-integer rows once; all
    # downstream float arithmetic is untouched (guide §3.3).
    cells = cells.localCheckpoint(eager=True)

    def pick(col, lv2, lv1, lv0):
        return (
            F.when(F.col(col) == 2, lv2)
            .when(F.col(col) == 1, lv1)
            .otherwise(lv0)
        )

    def pick2(col, lv1, lv0):
        return F.when(F.col(col) == 1, lv1).otherwise(lv0)

    def sums(df_w, tag):
        arr = df_w.agg(
            F.sort_array(
                F.collect_list(
                    F.struct("g_name", "g_seg", "g_bal", "cnt", "w")
                )
            ).alias("cs")
        )

        def fold(term, name):
            return F.aggregate(
                "cs", F.lit(0.0), lambda a, x: a + term(x)
            ).alias(name)

        def cw(x):
            return x.cnt * x.w

        def cv(x):
            return x.cnt * (F.lit(1.0) - x.w)

        def gated(g, lv, term):
            return lambda x: F.when(
                x[g] == lv, term(x)
            ).otherwise(F.lit(0.0))

        return arr.select(
            F.aggregate(
                "cs", F.lit(0).cast("long"), lambda a, x: a + x.cnt
            ).alias("n"),
            fold(cw, "sw"),
            fold(cv, "suw"),
            fold(gated("g_name", 2, cw), "wn2"),
            fold(gated("g_name", 1, cw), "wn1"),
            fold(gated("g_seg", 2, cw), "ws2"),
            fold(gated("g_seg", 1, cw), "ws1"),
            fold(gated("g_bal", 1, cw), "wb1"),
            fold(gated("g_name", 2, cv), "vn2"),
            fold(gated("g_name", 1, cv), "vn1"),
            fold(gated("g_seg", 2, cv), "vs2"),
            fold(gated("g_seg", 1, cv), "vs1"),
            fold(gated("g_bal", 1, cv), "vb1"),
        )

    # iteration 1: literal init params (same values as the SQL)
    pm1 = (
        F.lit(0.05)
        * pick("g_name", F.lit(0.55), F.lit(0.35), F.lit(0.10))
        * pick("g_seg", F.lit(0.85), F.lit(0.12), F.lit(0.03))
        * pick2("g_bal", F.lit(0.95), F.lit(0.05))
    )
    pu1 = (
        (F.lit(1.0) - F.lit(0.05))
        * pick("g_name", F.lit(0.01), F.lit(0.20), F.lit(0.79))
        * pick("g_seg", F.lit(0.20), F.lit(0.10), F.lit(0.70))
        * pick2("g_bal", F.lit(0.05), F.lit(0.95))
    )
    w1 = cells.select(
        "g_name", "g_seg", "g_bal", "cnt",
        (pm1 / (pm1 + pu1)).alias("w"),
    )
    s1 = sums(w1, 1)

    # iteration 2: fitted params from s1, broadcast back onto the
    # cells. Expression shapes mirror the SQL's scalar subqueries.
    c2 = cells.crossJoin(F.broadcast(s1))
    p_f = F.col("sw") / F.col("n")
    mn2, mn1 = F.col("wn2") / F.col("sw"), F.col("wn1") / F.col("sw")
    mn0 = F.lit(1.0) - F.col("wn2") / F.col("sw") - F.col("wn1") / F.col("sw")
    un2, un1 = F.col("vn2") / F.col("suw"), F.col("vn1") / F.col("suw")
    un0 = F.lit(1.0) - F.col("vn2") / F.col("suw") - F.col("vn1") / F.col("suw")
    ms2, ms1 = F.col("ws2") / F.col("sw"), F.col("ws1") / F.col("sw")
    ms0 = F.lit(1.0) - F.col("ws2") / F.col("sw") - F.col("ws1") / F.col("sw")
    us2, us1 = F.col("vs2") / F.col("suw"), F.col("vs1") / F.col("suw")
    us0 = F.lit(1.0) - F.col("vs2") / F.col("suw") - F.col("vs1") / F.col("suw")
    mb1 = F.col("wb1") / F.col("sw")
    mb0 = F.lit(1.0) - F.col("wb1") / F.col("sw")
    ub1 = F.col("vb1") / F.col("suw")
    ub0 = F.lit(1.0) - F.col("vb1") / F.col("suw")
    pm2 = (
        p_f
        * pick("g_name", mn2, mn1, mn0)
        * pick("g_seg", ms2, ms1, ms0)
        * pick2("g_bal", mb1, mb0)
    )
    pu2 = (
        (F.lit(1.0) - p_f)
        * pick("g_name", un2, un1, un0)
        * pick("g_seg", us2, us1, us0)
        * pick2("g_bal", ub1, ub0)
    )
    w2 = c2.select(
        "g_name", "g_seg", "g_bal", "cnt",
        (pm2 / (pm2 + pu2)).alias("w"),
    )
    s2 = sums(w2, 2)

    def r6(col):
        return F.round(col, 6) + F.lit(0.0)

    return s2.select(
        r6(F.col("sw") / F.col("n")).alias("p_hat"),
        r6(F.col("wn2") / F.col("sw")).alias("m_name_exact"),
        r6(F.col("wn1") / F.col("sw")).alias("m_name_close"),
        r6(F.col("vn2") / F.col("suw")).alias("u_name_exact"),
        r6(F.col("vn1") / F.col("suw")).alias("u_name_close"),
        r6(F.col("ws2") / F.col("sw")).alias("m_seg_agree"),
        r6(F.col("ws1") / F.col("sw")).alias("m_seg_null"),
        r6(F.col("vs2") / F.col("suw")).alias("u_seg_agree"),
        r6(F.col("vs1") / F.col("suw")).alias("u_seg_null"),
        r6(F.col("wb1") / F.col("sw")).alias("m_bal_agree"),
        r6(F.col("vb1") / F.col("suw")).alias("u_bal_agree"),
    )
