"""Round-9 batch-29 additions (SURVEY.md §2 extensions): 1-D
Wasserstein distribution shift and a rolling-origin naive-forecast
backtest — the two evaluation loops (drift and forecast error) the
monitoring shelf still lacked.

Reference parity note: not in the reference (its surface is the frame
ops in source/koalas/dataframe.d:73-311); determinism per the repo
rules (queries/__init__.py docstring): exact DEC38 CDF cross
products, FLOOR-quantized identical-shape double ratios (never
DECIMAL integer division — the #349 hazard), exact // means.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from koalas_spark.queries import query
from koalas_spark.queries.analytics import _t, daily_revenue_table


# --------------------------------------------------------------------
# 386. 1-D Wasserstein (earth mover's) distance between the 1997 and
# 1998 quantity distributions — the metric drift monitor that, unlike
# KS (#260) or PSI (#207), reports HOW FAR mass moved, not just that
# it moved: on a 1-D integer domain EMD collapses to the exact CDF-gap
# sum sum_v |F_A(v) - F_B(v)|, kept as DEC38 cross products
# (cum*n wraps int64 past sf1); the final normalization is one
# identical-shape FLOOR(double) ppm. Bounded ~50-value domain; one
# corpus groupBy.
@query(
    "wasserstein_quantity_years",
    oracle="""
WITH h AS (
  SELECT CAST(FLOOR(l_quantity + 0.5) AS BIGINT) AS v,
         CAST(SUM(CASE WHEN l_shipdate >= TIMESTAMP '1997-01-01'
                        AND l_shipdate < TIMESTAMP '1998-01-01'
                       THEN 1 ELSE 0 END) AS BIGINT) AS ca,
         CAST(SUM(CASE WHEN l_shipdate >= TIMESTAMP '1998-01-01'
                        AND l_shipdate < TIMESTAMP '1999-01-01'
                       THEN 1 ELSE 0 END) AS BIGINT) AS cb
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
    AND l_shipdate < TIMESTAMP '1999-01-01'
  GROUP BY 1),
cum AS (
  SELECT v,
         CAST(SUM(ca) OVER (ORDER BY v) AS BIGINT) AS cum_a,
         CAST(SUM(cb) OVER (ORDER BY v) AS BIGINT) AS cum_b,
         CAST(SUM(ca) OVER () AS BIGINT) AS na,
         CAST(SUM(cb) OVER () AS BIGINT) AS nb
  FROM h),
s AS (
  SELECT CAST(CAST(SUM(ABS(CAST(cum_a AS DECIMAL(38,0)) * nb
                         - CAST(cum_b AS DECIMAL(38,0)) * na))
                   AS VARCHAR) AS DOUBLE) AS gap_d,
         CAST(MAX(na) AS BIGINT) AS na, CAST(MAX(nb) AS BIGINT) AS nb
  FROM cum)
SELECT na, nb,
       CAST(FLOOR(gap_d * 1000000e0
                  / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)))
            AS BIGINT) AS emd_ppm
FROM s
""",
    # CDF gaps over the bounded quantity-value domain (1..50)
    allow={"GlobalWindow"},
)
def wasserstein_quantity_years(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1999-01-01").cast("timestamp"))
    )
    h = li.groupBy(
        F.floor(F.col("l_quantity") + 0.5).cast("bigint").alias("v")
    ).agg(
        F.sum(
            F.when(
                F.col("l_shipdate")
                < F.lit("1998-01-01").cast("timestamp"),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("ca"),
        F.sum(
            F.when(
                F.col("l_shipdate")
                >= F.lit("1998-01-01").cast("timestamp"),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("cb"),
    )
    # bounded ~50-value quantity domain
    cum = h.select(
        "v",
        F.sum("ca").over(Window.orderBy("v")).cast("bigint").alias("cum_a"),
        F.sum("cb").over(Window.orderBy("v")).cast("bigint").alias("cum_b"),
        F.sum("ca").over(Window.partitionBy()).cast("bigint").alias("na"),
        F.sum("cb").over(Window.partitionBy()).cast("bigint").alias("nb"),
    )
    s = cum.agg(
        F.sum(
            F.abs(
                F.expr(
                    "CAST(cum_a AS DECIMAL(38,0)) * nb"
                    " - CAST(cum_b AS DECIMAL(38,0)) * na"
                )
            )
        )
        .cast("string")
        .cast("double")
        .alias("gap_d"),
        F.max("na").cast("bigint").alias("na"),
        F.max("nb").cast("bigint").alias("nb"),
    )
    return s.select(
        "na",
        "nb",
        F.expr(
            "CAST(FLOOR(gap_d * 1000000e0"
            " / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE))) AS BIGINT)"
        ).alias("emd_ppm"),
    )


# --------------------------------------------------------------------
# 387. naive seasonal-forecast backtest — the baseline every revenue
# forecast must beat (f_t = x_{t-7}, the week-ago naive): positional
# 7-step LAG over the bounded day sequence, MAE as an exact //
# cents mean, MAPE as per-day FLOOR-quantized identical-shape ppm
# ratios (never DECIMAL division — the #349 hazard) averaged with the
# exact //. One shared daily-artifact read.
@query(
    "naive_forecast_backtest",
    oracle="""
WITH daily AS MATERIALIZED (
  SELECT datediff('day', DATE '1995-01-01', o_orderdate) AS d,
         CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
              AS BIGINT) AS x
  FROM orders GROUP BY 1),
e AS (
  SELECT x, ABS(x - f) AS ae,
         CAST(FLOOR(CAST(ABS(x - f) AS DOUBLE) * 1000000e0
                    / CAST(x AS DOUBLE)) AS BIGINT) AS ape_ppm
  FROM (SELECT x, LAG(x, 7) OVER (ORDER BY d) AS f FROM daily) t
  WHERE f IS NOT NULL)
SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
       CAST(SUM(ae) // COUNT(*) AS BIGINT) AS mae_cents,
       CAST(SUM(ape_ppm) // COUNT(*) AS BIGINT) AS mape_ppm
FROM e
""",
    # lag-7 over the day-domain artifact
    allow={"GlobalWindow"},
)
def naive_forecast_backtest(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    daily = daily_revenue_table(spark, sf_dir)
    # domain-bounded window (~2.4k day rows)
    e = (
        daily.select(
            "x", F.lag("x", 7).over(Window.orderBy("d")).alias("f")
        )
        .filter(F.col("f").isNotNull())
        .select(
            "x",
            F.abs(F.col("x") - F.col("f")).alias("ae"),
            F.expr(
                "CAST(FLOOR(CAST(ABS(x - f) AS DOUBLE) * 1000000e0"
                " / CAST(x AS DOUBLE)) AS BIGINT)"
            ).alias("ape_ppm"),
        )
    )
    return e.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.expr("CAST(SUM(ae) div COUNT(*) AS BIGINT)").alias("mae_cents"),
        F.expr("CAST(SUM(ape_ppm) div COUNT(*) AS BIGINT)").alias(
            "mape_ppm"
        ),
    )
