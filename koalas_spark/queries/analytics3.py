"""Third wave of analytics (SURVEY.md §2.2 extensions): adapted
TPC-H q14/q15/q19/q22 (the testdata schema lacks partsupp and some
lineitem columns, so predicates use the available columns while
keeping each query's structural shape) and a window-function suite
(running totals, month-over-month change, ntile, moving average,
correlation stats)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from koalas_spark.queries import query
from koalas_spark.queries.analytics import _t, dsum, _dsum_sql, DEC


# --------------------------------------------------------------------
# TPC-H Q14 — promotion revenue ratio: lineitem ⋈ part (part is a dim
# at fixed SF ratio → broadcast), one month of shipdates, conditional
# aggregation. 100*SUM(CASE)/SUM shape.
@query(
    "q14_promo_revenue",
    oracle=f"""
SELECT ROUND(CAST(100.00 * SUM(CASE WHEN p_type LIKE 'PROMO%%'
                              THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(25,6))
                              ELSE CAST(0 AS DECIMAL(25,6)) END)
            / SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(25,6))) AS DOUBLE), 8)
       AS promo_revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= DATE '1995-09-01' AND l_shipdate < DATE '1995-10-01'
""",
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1995-09-01") & (F.col("l_shipdate") < "1995-10-01")
    )
    p = _t(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type").like("PROMO%"), rev.cast(DEC)).otherwise(
        F.lit(0).cast(DEC)
    )
    return (
        li.join(p, F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.round(
                (F.lit(100.0) * F.sum(promo) / F.sum(rev.cast(DEC))).cast("double"), 8
            ).alias("promo_revenue")
        )
    )


# --------------------------------------------------------------------
# TPC-H Q15 — top supplier(s) by quarterly revenue: revenue view +
# max-subquery join back. The max is a 1-row broadcast; no window
# needed, so the revenue agg shuffles once on l_suppkey.
@query(
    "q15_top_supplier",
    oracle=f"""
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         {_dsum_sql('l_extendedprice * (1 - l_discount)')} AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1996-04-01'
  GROUP BY l_suppkey)
SELECT s_suppkey, s_name, total_revenue
FROM supplier JOIN revenue ON s_suppkey = supplier_no
WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
""",
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1996-04-01")
    )
    revenue = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("total_revenue")
    )
    mx = revenue.agg(F.max("total_revenue").alias("_mx"))
    sup = _t(spark, sf_dir, "supplier")
    return (
        revenue.join(mx, F.col("total_revenue") == F.col("_mx"))
        .join(sup, F.col("s_suppkey") == F.col("supplier_no"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


# --------------------------------------------------------------------
# TPC-H Q19 — OR-of-ANDs predicate join (brand × size-band × quantity
# band). The disjunction references both sides, so it can't push into
# either scan alone — but each disjunct's single-side conjuncts are
# inferred and pushed (Catalyst's CNF extraction); part joins
# unhinted so AQE picks broadcast at bench SF, shuffle at cluster scale.
@query(
    "q19_discount_revenue",
    oracle=f"""
SELECT {_dsum_sql('l_extendedprice * (1 - l_discount)')} AS revenue
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15 AND l_quantity >= 1 AND l_quantity <= 11)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25 AND l_quantity >= 10 AND l_quantity <= 20)
   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 35 AND l_quantity >= 20 AND l_quantity <= 30)
""",
)
def q19_discount_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    j = li.join(p, F.col("p_partkey") == F.col("l_partkey"))
    qty = F.col("l_quantity")
    cond = (
        ((F.col("p_brand") == "Brand#12") & F.col("p_size").between(1, 15) & qty.between(1, 11))
        | ((F.col("p_brand") == "Brand#23") & F.col("p_size").between(1, 25) & qty.between(10, 20))
        | ((F.col("p_brand") == "Brand#34") & F.col("p_size").between(1, 35) & qty.between(20, 30))
    )
    return j.filter(cond).agg(
        dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue")
    )


# --------------------------------------------------------------------
# TPC-H Q22 — prospects: customers above the positive-balance average
# with no HIGH-VALUE orders (every synthetic customer has some order,
# so plain no-orders is vacuously empty; the >400k filter keeps the
# anti join non-trivial while preserving Q22's structure: scalar
# subquery broadcast + filtered anti join + agg).
@query(
    "q22_prospects",
    oracle="""
SELECT SUBSTRING(c_name, 1, 10) AS cntrycode_proxy, COUNT(*) AS numcust,
       CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(25,6))) AS VARCHAR) AS DOUBLE) AS totacctbal
FROM customer
WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer WHERE c_acctbal > 0.0)
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_totalprice > 400000)
GROUP BY SUBSTRING(c_name, 1, 10)
""",
    # scalar-subquery sides (1-row count/avg frames) joined without a
    # key — a broadcast nested loop over a single row is the plan
    allow={"BroadcastNestedLoopJoin"},
)
def q22_prospects(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    big_orders = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    avg_bal = cust.filter(F.col("c_acctbal") > 0.0).agg(
        F.avg("c_acctbal").alias("_avg")
    )
    return (
        cust.join(avg_bal, F.col("c_acctbal") > F.col("_avg"))
        .join(big_orders, cust.c_custkey == big_orders.o_custkey, "left_anti")
        .groupBy(F.substring("c_name", 1, 10).alias("cntrycode_proxy"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.sum(F.col("c_acctbal").cast(DEC)).cast("double").alias("totacctbal"),
        )
    )


# --------------------------------------------------------------------
# Window suite: cumulative daily revenue per priority. Partition by
# priority (bounded cardinality), order by day — the sort is local to
# each partition's shuffle bucket.
@query(
    "running_total_by_day",
    oracle=f"""
SELECT o_orderpriority, o_orderdate, day_rev,
       CAST(SUM(day_rev_dec) OVER (PARTITION BY o_orderpriority ORDER BY o_orderdate
                                   ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS cum_rev
FROM (
  SELECT o_orderpriority, o_orderdate,
         {_dsum_sql('o_totalprice')} AS day_rev,
         SUM(CAST(o_totalprice AS DECIMAL(25,6))) AS day_rev_dec
  FROM orders GROUP BY o_orderpriority, o_orderdate) t
""",
    bench=False,
)
def running_total_by_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy("o_orderpriority", "o_orderdate").agg(
        dsum("o_totalprice").alias("day_rev"),
        F.sum(F.col("o_totalprice").cast(DEC)).alias("_dec"),
    )
    w = Window.partitionBy("o_orderpriority").orderBy("o_orderdate").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return daily.select(
        "o_orderpriority",
        "o_orderdate",
        "day_rev",
        F.sum("_dec").over(w).cast("double").alias("cum_rev"),
    )


# --------------------------------------------------------------------
# Month-over-month revenue % change via lag.
@query(
    "mom_pct_change",
    oracle=f"""
SELECT month, rev,
       ROUND((rev - prev_rev) / prev_rev * 100, 4) + 0.0 AS pct_change
FROM (
  SELECT month, rev, LAG(rev) OVER (ORDER BY month) AS prev_rev
  FROM (
    SELECT date_trunc('month', o_orderdate) AS month,
           {_dsum_sql('o_totalprice')} AS rev
    FROM orders GROUP BY 1) m) t
""",
    bench=False,
    # bounded global window: lags over the post-agg month rows (a few
    # hundred ever)
    allow={"GlobalWindow"},
)
def mom_pct_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    monthly = o.groupBy(F.date_trunc("month", "o_orderdate").alias("month")).agg(
        dsum("o_totalprice").alias("rev")
    )
    w = Window.orderBy("month")
    prev = F.lag("rev").over(w)
    return monthly.select(
        F.col("month").cast("date").alias("month"),
        "rev",
        # +0.0 collapses IEEE signed zero (house rule, SCALING.md)
        (F.round((F.col("rev") - prev) / prev * 100, 4) + 0.0).alias("pct_change"),
    )


# --------------------------------------------------------------------
# ntile quartiles of order value within each priority.
@query(
    "ntile_quartiles",
    oracle="""
SELECT o_orderpriority, quartile, COUNT(*) AS n,
       CAST(MIN(o_totalprice) AS DOUBLE) AS lo,
       CAST(MAX(o_totalprice) AS DOUBLE) AS hi
FROM (
  SELECT o_orderpriority, o_totalprice,
         NTILE(4) OVER (PARTITION BY o_orderpriority
                        ORDER BY o_totalprice, o_orderkey) AS quartile
  FROM orders) t
GROUP BY o_orderpriority, quartile
""",
    bench=False,
)
def ntile_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    return (
        o.withColumn("quartile", F.ntile(4).over(w))
        .groupBy("o_orderpriority", "quartile")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("o_totalprice").alias("lo"),
            F.max("o_totalprice").alias("hi"),
        )
    )


# --------------------------------------------------------------------
# 7-day moving average of event values per event type.
@query(
    "moving_avg_events",
    oracle=f"""
SELECT event_type, day, n,
       CAST(AVG(day_sum) OVER (PARTITION BY event_type ORDER BY day
                               ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS DOUBLE) AS ma7
FROM (
  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
         COUNT(*) AS n, {_dsum_sql('value')} AS day_sum
  FROM events GROUP BY 1, 2) d
""",
    bench=False,
)
def moving_avg_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).alias("n"), dsum("value").alias("day_sum"))
    w = Window.partitionBy("event_type").orderBy("day").rowsBetween(-6, 0)
    return daily.select(
        "event_type", "day", "n", F.avg("day_sum").over(w).alias("ma7")
    )


# --------------------------------------------------------------------
# correlation / covariance stats — Pearson corr of price vs quantity
# per return flag (rounded: both engines use one-pass float formulas
# whose last ulps differ).
@query(
    "stats_corr",
    oracle="""
SELECT l_returnflag,
       ROUND(corr(l_extendedprice, l_quantity), 6) + 0.0 AS corr_pq,
       ROUND(covar_samp(l_extendedprice, l_quantity), 2) + 0.0 AS covar_pq,
       ROUND(stddev_samp(l_extendedprice), 2) AS sd_price
FROM lineitem GROUP BY l_returnflag
""",
    bench=False,
)
def stats_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        # +0.0 collapses IEEE signed zero (house rule, SCALING.md)
        (F.round(F.corr("l_extendedprice", "l_quantity"), 6) + 0.0).alias("corr_pq"),
        (F.round(F.covar_samp("l_extendedprice", "l_quantity"), 2) + 0.0).alias("covar_pq"),
        F.round(F.stddev_samp("l_extendedprice"), 2).alias("sd_price"),
    )
