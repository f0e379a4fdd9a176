"""Round-8 batch-14 additions (SURVEY.md §2 extensions): per-nation
revenue beta against the global series, geometric mean order values,
and local-maximum peak detection on the daily revenue series.

Reference parity note: none of these exist in the reference (its
surface is the frame ops in source/koalas/dataframe.d:73-311); they
extend the financial-diagnostics shelf (#250 grouped OLS, #254 ACF,
#261/#279 trend tests) under the repo determinism rules
(queries/__init__.py docstring): exact DECIMAL(38) second-moment
sums, per-value nano-quantized ln, ONE final double expression per
output, non-negative integer division.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from koalas_spark.queries import query
from koalas_spark.queries.analytics import _t


# --------------------------------------------------------------------
# 281. per-nation revenue beta — the CAPM-style sensitivity
# diagnostic: regress each nation's daily revenue on the GLOBAL daily
# series; beta > 1 marks nations that amplify global swings. The
# corpus collapses to two day-DOMAIN tables (nation x day, global
# day); the join is day-keyed with the ~2.4k-row global side
# broadcast; second moments go through DECIMAL(38) with the
# DECIMAL(38)xBIGINT product form (the #254 rule — DuckDB overflows
# DECIMAL(18) products in int64); beta is ONE final double per
# nation, computed over each nation's ACTIVE days (days with no
# orders for that nation contribute no row on either engine —
# documented choice, identical cross-engine).
@query(
    "nation_revenue_beta",
    oracle="""
WITH nd AS MATERIALIZED (
  SELECT n.n_name,
         date_diff('day', DATE '1995-01-01', CAST(o.o_orderdate AS DATE))
           AS d,
         CAST(SUM(CAST(FLOOR(o.o_totalprice * 100 + 0.5) AS BIGINT))
           AS BIGINT) AS x
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON n.n_nationkey = c.c_nationkey
  GROUP BY 1, 2),
gd AS MATERIALIZED (
  SELECT d, CAST(SUM(x) AS BIGINT) AS g FROM nd GROUP BY d),
m AS (
  SELECT nd.n_name,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(nd.x AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sx,
         CAST(SUM(CAST(gd.g AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sg,
         CAST(SUM(CAST(nd.x AS DECIMAL(38,0)) * gd.g) AS DECIMAL(38,0))
           AS sxg,
         CAST(SUM(CAST(gd.g AS DECIMAL(38,0)) * gd.g) AS DECIMAL(38,0))
           AS sgg
  FROM nd JOIN gd ON nd.d = gd.d
  GROUP BY nd.n_name)
SELECT n_name, n AS n_days,
       ROUND((CAST(n AS DOUBLE) * CAST(CAST(sxg AS VARCHAR) AS DOUBLE)
              - CAST(CAST(sx AS VARCHAR) AS DOUBLE)
                * CAST(CAST(sg AS VARCHAR) AS DOUBLE))
             / (CAST(n AS DOUBLE) * CAST(CAST(sgg AS VARCHAR) AS DOUBLE)
                - CAST(CAST(sg AS VARCHAR) AS DOUBLE)
                  * CAST(CAST(sg AS VARCHAR) AS DOUBLE)), 6) AS beta
FROM m
""",
)
def nation_revenue_beta(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    nd = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(n, c.c_nationkey == n.n_nationkey)
        .groupBy(
            "n_name",
            F.datediff(
                F.col("o_orderdate").cast("date"),
                F.lit("1995-01-01").cast("date"),
            )
            .cast("bigint")
            .alias("d"),
        )
        .agg(
            F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint"))
            .cast("bigint")
            .alias("x")
        )
        .localCheckpoint(eager=False)
    )
    gd = nd.groupBy("d").agg(F.sum("x").cast("bigint").alias("g"))
    d38 = lambda col: col.cast("decimal(38,0)")  # noqa: E731
    m = (
        nd.join(F.broadcast(gd), "d")
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(d38(F.col("x"))).cast("decimal(38,0)").alias("sx"),
            F.sum(d38(F.col("g"))).cast("decimal(38,0)").alias("sg"),
            F.sum(d38(F.col("x")) * F.col("g"))
            .cast("decimal(38,0)")
            .alias("sxg"),
            F.sum(d38(F.col("g")) * F.col("g"))
            .cast("decimal(38,0)")
            .alias("sgg"),
        )
    )
    as_d = lambda c_: F.col(c_).cast("string").cast("double")  # noqa: E731
    n_d = F.col("n").cast("double")
    beta = (n_d * as_d("sxg") - as_d("sx") * as_d("sg")) / (
        n_d * as_d("sgg") - as_d("sg") * as_d("sg")
    )
    return m.select(
        "n_name", F.col("n").alias("n_days"), F.round(beta, 6).alias("beta")
    )


# --------------------------------------------------------------------
# 282. geometric mean order value — the right average for
# multiplicative quantities (order values span orders of magnitude;
# the arithmetic mean is dominated by the tail). gm = exp(mean ln x):
# each order's ln(cents) is nano-quantized to an integer (#221 — the
# SUM is then order-independent), the mean is a non-negative integer
# division, and ONE exp per segment produces the result in
# milli-cents. The arithmetic mean is reported next to it so the
# tail-compression is visible. One map-side-combined aggregate.
@query(
    "geometric_mean_order_value",
    oracle="""
WITH s AS (
  SELECT c.c_mktsegment AS seg,
         CAST(FLOOR(o.o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
         CAST(FLOOR(1000000000
                    * LN(CAST(CAST(FLOOR(o.o_totalprice * 100 + 0.5)
                              AS BIGINT) AS DOUBLE))) AS BIGINT) AS lnq
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
m AS (
  SELECT seg, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(cents) AS BIGINT) AS sc,
         CAST(SUM(lnq) AS BIGINT) AS sl
  FROM s GROUP BY seg)
SELECT seg, n,
       CAST(FLOOR(EXP(CAST(sl // n AS DOUBLE) / 1000000000) * 1000)
         AS BIGINT) AS geo_mean_millicents,
       1000 * sc // n AS arith_mean_millicents
FROM m
""",
)
def geometric_mean_order_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    cents = F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint")
    s = o.join(c, o.o_custkey == c.c_custkey).select(
        F.col("c_mktsegment").alias("seg"),
        cents.alias("cents"),
        F.floor(1000000000 * F.log(cents.cast("double")))
        .cast("bigint")
        .alias("lnq"),
    )
    m = s.groupBy("seg").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("cents").cast("bigint").alias("sc"),
        F.sum("lnq").cast("bigint").alias("sl"),
    )
    return m.select(
        "seg",
        "n",
        F.floor(
            F.exp(F.expr("sl div n").cast("double") / 1000000000) * 1000
        )
        .cast("bigint")
        .alias("geo_mean_millicents"),
        F.expr("1000 * sc div n").alias("arith_mean_millicents"),
    )


# --------------------------------------------------------------------
# 283. daily revenue peak detection — the alerting primitive: days
# that are strict local maxima (higher than both neighbors IN THE DAY
# DOMAIN — gaps close ranks, documented) AND at or above the exact
# p90 of the daily distribution (#227 histogram rank machinery over
# the bounded day table). The corpus contributes one day aggregate;
# lag/lead and the p90 scan run over the ~2.4k-row domain (the
# bounded-GlobalWindow shape). Output: the peak days, bounded by the
# day domain at any corpus scale.
@query(
    "daily_revenue_peaks",
    oracle="""
WITH daily AS MATERIALIZED (
  SELECT date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))
           AS d,
         CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
           AS BIGINT) AS x
  FROM orders GROUP BY 1),
nbr AS (
  SELECT d, x,
         LAG(x) OVER (ORDER BY d) AS prev,
         LEAD(x) OVER (ORDER BY d) AS nxt
  FROM daily),
h AS (SELECT x AS v, CAST(COUNT(*) AS BIGINT) AS c FROM daily GROUP BY x),
cum AS (
  SELECT v, CAST(SUM(c) OVER (ORDER BY v
       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
  FROM h),
tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM h),
p90 AS (SELECT CAST(MIN(v) AS BIGINT) AS p90 FROM cum, tot
        WHERE cum >= (9 * tot.n + 9) // 10)
SELECT nbr.d AS day_idx, nbr.x AS cents
FROM nbr, p90
WHERE nbr.prev IS NOT NULL AND nbr.nxt IS NOT NULL
  AND nbr.x > nbr.prev AND nbr.x > nbr.nxt AND nbr.x >= p90.p90
""",
    # lag/lead + p90 prefix sum over the bounded day domain; 1-row
    # p90/total frames cross-joined back
    allow={"BroadcastNestedLoopJoin", "GlobalWindow"},
)
def daily_revenue_peaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from koalas_spark.queries.analytics import daily_revenue_table

    daily = daily_revenue_table(spark, sf_dir)
    wd = Window.orderBy("d")
    nbr = daily.select(
        "d",
        "x",
        F.lag("x").over(wd).alias("prev"),
        F.lead("x").over(wd).alias("nxt"),
    )
    h = daily.groupBy(F.col("x").alias("v")).agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    wcum = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    cum = h.select("v", F.sum("c").over(wcum).cast("bigint").alias("cum"))
    tot = h.agg(F.sum("c").cast("bigint").alias("n"))
    p90 = (
        cum.crossJoin(tot)
        .filter(F.col("cum") >= F.expr("(9 * n + 9) div 10"))
        .agg(F.min("v").cast("bigint").alias("p90"))
    )
    return (
        nbr.crossJoin(p90)
        .filter(
            F.col("prev").isNotNull()
            & F.col("nxt").isNotNull()
            & (F.col("x") > F.col("prev"))
            & (F.col("x") > F.col("nxt"))
            & (F.col("x") >= F.col("p90"))
        )
        .select(F.col("d").alias("day_idx"), F.col("x").alias("cents"))
    )
