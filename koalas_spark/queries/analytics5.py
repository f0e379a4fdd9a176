"""TPC-H completion wave (SURVEY.md §2.2): q2 q7 q8 q9 q11 q12 q13
q16 q17 q20 q21, adapted to the synthetic star schema (no partsupp
table; no commit/receipt dates or shipmode on lineitem — see
TESTDATA.md). Where a classic column is missing the query keeps the
same *shape* (correlated subquery, exists/not-exists, scalar
threshold, nation-pair join) on the columns that exist, so each still
exercises the physical pattern it is famous for.

Scale notes are per-query; the common rules (SURVEY.md §4) apply:
dims broadcast, fact-fact joins left to AQE, exact-decimal sums for
cross-engine determinism.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from koalas_spark.queries import query
from koalas_spark.queries.analytics import _t, davg, dsum, _dsum_sql

# decimal(18,6): per-row values fit 12 integer digits at any SF (SF
# scales row count, not magnitudes); precision<=18 is long-backed in
# Tungsten (measured ~20% faster agg than decimal(25,6)) and sum()
# auto-widens to (28,6) for 1e22 of accumulation headroom.
DEC = "decimal(18,6)"


# --------------------------------------------------------------------
# 82. TPC-H Q2 (adapted) — min-cost supplier per part. No partsupp, so
# the "offer" is min unit price (l_extendedprice/l_quantity) observed
# per (part, supplier) among EUROPE suppliers; the correlated-min
# subquery joins back, the classic Q2 shape. Offers aggregate is one
# shuffle on (partkey, suppkey); the per-part min reuses the same
# partitioning via a window instead of a second shuffle + self-join.
@query(
    "q2_min_cost_supplier",
    oracle="""
WITH offer AS (
  SELECT l_partkey, l_suppkey, MIN(l_extendedprice / l_quantity) AS unit_price
  FROM lineitem
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN nation   ON n_nationkey = s_nationkey
  JOIN region   ON r_regionkey = n_regionkey
  WHERE r_name = 'EUROPE'
  GROUP BY l_partkey, l_suppkey)
SELECT s_acctbal, s_name, n_name, p_partkey, unit_price
FROM offer
JOIN part     ON p_partkey = l_partkey
JOIN supplier ON s_suppkey = l_suppkey
JOIN nation   ON n_nationkey = s_nationkey
WHERE p_size = 15 AND p_type = 'LARGE'
  AND unit_price = (SELECT MIN(o2.unit_price) FROM offer o2
                    WHERE o2.l_partkey = offer.l_partkey)
""",
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    part = _t(spark, sf_dir, "part").filter(
        (F.col("p_size") == 15) & (F.col("p_type") == "LARGE")
    )
    eu_supp = (
        supp.join(nation, supp.s_nationkey == nation.n_nationkey)
        .join(region, nation.n_regionkey == region.r_regionkey)
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    offer = (
        li.join(eu_supp, li.l_suppkey == F.col("s_suppkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_price"))
    )
    best = F.min("unit_price").over(Window.partitionBy("l_partkey"))
    return (
        offer.withColumn("_best", best)
        .filter(F.col("unit_price") == F.col("_best"))
        .join(part, F.col("l_partkey") == part.p_partkey)
        .join(eu_supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_acctbal", "s_name", "n_name", "p_partkey", "unit_price")
    )


# --------------------------------------------------------------------
# 83. TPC-H Q7 — volume shipping between a nation pair, by year.
# Two broadcast nation joins (supplier-side and customer-side); the
# nation-pair disjunction prunes both dims before broadcast, so at
# 100 TB only matching customers/suppliers ship with the fact rows.
@query(
    "q7_volume_shipping",
    oracle=f"""
SELECT supp_nation, cust_nation, l_year,
       {_dsum_sql('volume')} AS revenue
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         CAST(EXTRACT(year FROM l_shipdate) AS INT) AS l_year,
         l_extendedprice * (1 - l_discount) AS volume
  FROM supplier
  JOIN lineitem ON s_suppkey = l_suppkey
  JOIN orders   ON o_orderkey = l_orderkey
  JOIN customer ON c_custkey = o_custkey
  JOIN nation n1 ON s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c_nationkey = n2.n_nationkey
  WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
      OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
    AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00') t
GROUP BY supp_nation, cust_nation, l_year
""",
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    orders = _t(spark, sf_dir, "orders")
    nation = _t(spark, sf_dir, "nation")
    supp = (
        _t(spark, sf_dir, "supplier")
        .join(nation, F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    cust = (
        _t(spark, sf_dir, "customer")
        .join(nation, F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    pair = (
        ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
        | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    )
    return (
        li.join(supp.filter(F.col("supp_nation").isin("NATION_1", "NATION_2")),
                F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust.filter(F.col("cust_nation").isin("NATION_1", "NATION_2")),
              F.col("o_custkey") == F.col("c_custkey"))
        .filter(pair)
        .withColumn("l_year", F.year("l_shipdate"))
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
    )


# --------------------------------------------------------------------
# 84. TPC-H Q8 — national market share: NATION_3 suppliers' share of
# ASIA customers' PROMO-part revenue per year. Conditional-sum ratio
# over one joined fact pass; constant dims (nation/region) broadcast,
# SF-linear part/customer/supplier joins stay unhinted so AQE owns
# the strategy (broadcast at bench SF, shuffle at cluster scale).
@query(
    "q8_market_share",
    oracle=f"""
SELECT o_year,
       CAST({_dsum_sql("CASE WHEN nation = 'NATION_3' THEN volume ELSE 0 END")}
            / {_dsum_sql('volume')} AS DOUBLE) AS mkt_share
FROM (
  SELECT CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year,
         l_extendedprice * (1 - l_discount) AS volume,
         n2.n_name AS nation
  FROM part
  JOIN lineitem ON l_partkey = p_partkey
  JOIN orders   ON o_orderkey = l_orderkey
  JOIN customer ON c_custkey = o_custkey
  JOIN nation n1 ON n1.n_nationkey = c_nationkey
  JOIN region   ON r_regionkey = n1.n_regionkey
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN nation n2 ON n2.n_nationkey = s_nationkey
  WHERE r_name = 'ASIA' AND p_type = 'PROMO'
    AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00') t
GROUP BY o_year
""",
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _t(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    cust = (
        _t(spark, sf_dir, "customer")
        .join(nation, F.col("c_nationkey") == F.col("n_nationkey"))
        .join(region, F.col("n_regionkey") == F.col("r_regionkey"))
        .select("c_custkey")
    )
    supp = (
        _t(spark, sf_dir, "supplier")
        .join(nation, F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("nation"))
    )
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    target = F.when(F.col("nation") == "NATION_3", vol).otherwise(F.lit(0.0))
    return (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .withColumn("o_year", F.year("o_orderdate"))
        .groupBy("o_year")
        .agg((dsum(target) / dsum(vol)).cast("double").alias("mkt_share"))
    )


# --------------------------------------------------------------------
# 85. TPC-H Q9 — product-type profit by nation and year. Profit uses
# p_retailprice*quantity as the cost leg (no partsupp/ps_supplycost in
# this schema). Part filter `%red%` prunes the dim before the join
# (AQE broadcasts the pruned side at bench SF); the fact pass groups
# once on (nation, year).
@query(
    "q9_product_profit",
    oracle=f"""
SELECT n_name, o_year, {_dsum_sql('amount')} AS sum_profit
FROM (
  SELECT n_name, CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year,
         l_extendedprice * (1 - l_discount) - p_retailprice * l_quantity AS amount
  FROM lineitem
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN part     ON p_partkey = l_partkey
  JOIN orders   ON o_orderkey = l_orderkey
  JOIN nation   ON n_nationkey = s_nationkey
  WHERE p_name LIKE '%red%') t
GROUP BY n_name, o_year
""",
)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(F.col("p_name").like("%red%"))
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    orders = _t(spark, sf_dir, "orders")
    amount = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - F.col("p_retailprice") * F.col("l_quantity")
    )
    return (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(nation, F.col("s_nationkey") == F.col("n_nationkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .withColumn("o_year", F.year("o_orderdate"))
        .groupBy("n_name", "o_year")
        .agg(dsum(amount).alias("sum_profit"))
    )


# --------------------------------------------------------------------
# 86. TPC-H Q11 (adapted) — important parts by inventory value for one
# nation's suppliers, kept when value exceeds a fraction of the total
# (scalar-subquery threshold, the classic Q11 HAVING). Value is
# shipped l_extendedprice (no partsupp). The total reuses the grouped
# result (one extra reduce, no second fact scan) and broadcasts.
@query(
    "q11_important_parts",
    oracle=f"""
WITH val AS (
  SELECT l_partkey, {_dsum_sql('l_extendedprice')} AS value
  FROM lineitem
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN nation   ON n_nationkey = s_nationkey
  WHERE n_name = 'NATION_5'
  GROUP BY l_partkey)
SELECT l_partkey, value FROM val
WHERE value > (SELECT CAST(CAST(SUM(CAST(value AS DECIMAL(25,6))) AS VARCHAR) AS DOUBLE) * 0.001
               FROM val)
""",
    # scalar-subquery sides (1-row count/avg frames) joined without a
    # key — a broadcast nested loop over a single row is the plan
    allow={"BroadcastNestedLoopJoin"},
)
def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    nation = _t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_5")
    supp = _t(spark, sf_dir, "supplier").join(
        nation, F.col("s_nationkey") == F.col("n_nationkey")
    ).select("s_suppkey")
    val = (
        li.join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("l_partkey")
        .agg(dsum("l_extendedprice").alias("value"))
    )
    thresh = val.agg((dsum("value") * F.lit(0.001)).alias("_thr"))
    return (
        val.join(thresh, F.col("value") > F.col("_thr"))
        .select("l_partkey", "value")
    )


# --------------------------------------------------------------------
# 87. TPC-H Q12 (adapted) — late-shipment priority counts. No shipmode
# or commit/receipt dates here, so "late" is shipped 60–120 days after
# order date and the group key is l_linestatus; the conditional-count
# pivot on order priority is the Q12 signature. Single fact-fact join,
# AQE handles it.
@query(
    "q12_late_shipments",
    oracle="""
SELECT l_linestatus,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
WHERE l_shipdate >  o_orderdate + INTERVAL 60 DAY
  AND l_shipdate <= o_orderdate + INTERVAL 120 DAY
GROUP BY l_linestatus
""",
)
def q12_late_shipments(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(
            (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
            & (F.col("l_shipdate") <= F.col("o_orderdate") + F.expr("INTERVAL 120 DAYS"))
        )
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


# --------------------------------------------------------------------
# 88. TPC-H Q13 — customer order-count distribution: left join keeps
# zero-order customers, double aggregation (per-customer count, then
# histogram). First groupBy shuffles on custkey; the histogram is a
# tiny second shuffle on the count value.
@query(
    "q13_cust_order_dist",
    oracle="""
SELECT c_count, COUNT(*) AS custdist
FROM (
  SELECT c_custkey, COUNT(o_orderkey) AS c_count
  FROM customer LEFT JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey) t
GROUP BY c_count
""",
)
def q13_cust_order_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderpriority") != "1-URGENT")
    return (
        cust.join(orders, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
    )


# --------------------------------------------------------------------
# 89. TPC-H Q16 (adapted) — supplier counts per part attribute triple,
# linked through lineitem (no partsupp). COUNT(DISTINCT) shuffles on
# the group keys with per-partition de-dup first (Spark expands
# distinct aggregates map-side).
@query(
    "q16_supplier_part_cnt",
    oracle="""
SELECT p_brand, p_type, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
FROM part JOIN lineitem ON p_partkey = l_partkey
WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO'
  AND p_size IN (1, 5, 9, 13, 17, 21, 25, 29)
GROUP BY p_brand, p_type, p_size
""",
)
def q16_supplier_part_cnt(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 5, 9, 13, 17, 21, 25, 29)
    )
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


# --------------------------------------------------------------------
# 90. TPC-H Q17 — small-quantity revenue: lines below 20% of their
# part's average quantity (correlated scalar subquery → per-part avg
# join). The avg aggregates the fact once on partkey, then re-joins;
# both sides share the partkey partitioning so AQE plans one shuffle
# each. davg (exact decimal mean) keeps the threshold cross-engine
# deterministic.
@query(
    "q17_small_qty_revenue",
    oracle=f"""
SELECT CAST({_dsum_sql('l_extendedprice')} / 7.0 AS DOUBLE) AS avg_yearly
FROM lineitem
JOIN part ON p_partkey = l_partkey
JOIN (SELECT l_partkey AS a_partkey,
             CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(25,6))) AS VARCHAR) AS DOUBLE)
               / COUNT(l_quantity) AS avg_qty
      FROM lineitem GROUP BY l_partkey) a
  ON a_partkey = l_partkey
WHERE p_brand = 'Brand#3' AND p_type = 'SMALL'
  AND l_quantity < 0.2 * avg_qty
""",
)
def q17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") == "Brand#3") & (F.col("p_type") == "SMALL")
    )
    avg_qty = li.groupBy(F.col("l_partkey").alias("a_partkey")).agg(
        davg("l_quantity").alias("avg_qty")
    )
    return (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .join(avg_qty, F.col("l_partkey") == F.col("a_partkey"))
        .filter(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
        .agg((dsum("l_extendedprice") / F.lit(7.0)).cast("double").alias("avg_yearly"))
    )


# --------------------------------------------------------------------
# 91. TPC-H Q20 (adapted) — suppliers who shipped a significant volume
# of 'red*' parts in 1997 (no partsupp: availability ≈ shipped qty).
# HAVING-filtered semi join back to supplier; the grouped subquery is
# small at bench SF (AQE broadcasts it into the semi join) but
# SF-linear in the worst case, so the hint is left to the planner.
@query(
    "q20_promo_suppliers",
    oracle="""
SELECT s_suppkey, s_name
FROM supplier
WHERE s_suppkey IN (
  SELECT l_suppkey
  FROM lineitem JOIN part ON p_partkey = l_partkey
  WHERE p_name LIKE 'red%'
    AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
  GROUP BY l_suppkey
  HAVING SUM(CAST(l_quantity AS DECIMAL(25,6))) > 250)
""",
)
def q20_promo_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    part = _t(spark, sf_dir, "part").filter(F.col("p_name").like("red%"))
    supp = _t(spark, sf_dir, "supplier")
    heavy = (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_suppkey")
        .agg(F.sum(F.col("l_quantity").cast(DEC)).alias("_qty"))
        .filter(F.col("_qty") > 250)
        .select("l_suppkey")
    )
    # heavy is a per-supplier aggregate (SF-linear upper bound), so the
    # semi-join side is unhinted — AQE broadcasts it at bench SF.
    return supp.join(
        heavy, supp.s_suppkey == F.col("l_suppkey"), "left_semi"
    ).select("s_suppkey", "s_name")


# --------------------------------------------------------------------
# 92. TPC-H Q21 (adapted) — suppliers who kept orders waiting: late =
# shipped >90 days after order date (no receipt/commit dates). The
# classic EXISTS / NOT-EXISTS pair is rewritten as one per-order
# aggregation (distinct suppliers vs distinct LATE suppliers), turning
# two correlated self-joins into a single extra shuffle on orderkey —
# the scalable plan for a 100 TB lineitem.
@query(
    "q21_waiting_supplier",
    oracle="""
SELECT s_name, COUNT(*) AS numwait
FROM supplier
JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
JOIN orders     ON o_orderkey = l1.l_orderkey
JOIN nation     ON n_nationkey = s_nationkey
WHERE o_orderstatus = 'F'
  AND l1.l_shipdate > o_orderdate + INTERVAL 90 DAY
  AND n_name = 'NATION_1'
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_shipdate > o_orderdate + INTERVAL 90 DAY)
GROUP BY s_name
""",
)
def q21_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    li = _t(spark, sf_dir, "lineitem").join(
        orders.select("o_orderkey", "o_orderdate"),
        F.col("l_orderkey") == F.col("o_orderkey"),
    )
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
    lines = li.select("l_orderkey", "l_suppkey", late.alias("_late"))
    # ONE pass: when exactly one supplier is late, that supplier and
    # its late-line count are recoverable from the same per-order
    # aggregate (max over the late ids is THE id; the late-line sum is
    # all his) — so the detail table never joins back and lineitem is
    # scanned once instead of twice
    per_order = lines.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("_n_supp"),
        F.countDistinct(F.when(F.col("_late"), F.col("l_suppkey"))).alias(
            "_n_late"
        ),
        F.sum(F.when(F.col("_late"), 1).otherwise(0)).alias("_late_lines"),
        F.max(F.when(F.col("_late"), F.col("l_suppkey"))).alias("_late_supp"),
    )
    nation = _t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_1")
    supp = _t(spark, sf_dir, "supplier").join(
        nation, F.col("s_nationkey") == F.col("n_nationkey")
    ).select("s_suppkey", "s_name")
    return (
        per_order.filter((F.col("_n_supp") >= 2) & (F.col("_n_late") == 1))
        .join(supp, F.col("_late_supp") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.sum("_late_lines").cast("bigint").alias("numwait"))
    )
