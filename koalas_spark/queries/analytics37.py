"""Round-9 batch-15 addition (SURVEY.md §2 extensions): year-over-year
monthly revenue growth.

Reference parity note: not in the reference (its surface is the frame
ops in source/koalas/dataframe.d:73-311); extends the reporting shelf
under the repo determinism rules (queries/__init__.py docstring):
bounded-domain collapse, sign-aware half-up ppm division.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from koalas_spark.queries import query
from koalas_spark.queries.analytics import _t


# --------------------------------------------------------------------
# 340. year-over-year monthly growth — the board-deck twin of #67's
# month-over-month: revenue per calendar month vs the SAME month one
# year earlier (lag 12 over the bounded ~84-month domain), growth in
# signed ppm via the repo's sign-aware half-up division (cents deltas
# can be negative; DuckDB // floors while Spark div truncates, so the
# symmetric form is mandatory). One map-side-combined corpus groupBy;
# everything after runs on the month domain.
@query(
    "yoy_growth_monthly",
    oracle="""
WITH m AS (
  SELECT CAST(date_part('year', o_orderdate) AS INT) AS yr,
         CAST(date_part('month', o_orderdate) AS INT) AS mo,
         CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
              AS BIGINT) AS cents
  FROM orders GROUP BY 1, 2),
l AS (
  SELECT yr, mo, cents,
         LAG(cents, 12) OVER (ORDER BY yr, mo) AS prev_cents
  FROM m)
SELECT yr, mo, cents, prev_cents,
       CASE WHEN prev_cents > 0 THEN
         CAST(CASE WHEN cents >= prev_cents
                   THEN ((cents - prev_cents) * 1000000) // prev_cents
                   ELSE -(((prev_cents - cents) * 1000000) // prev_cents)
              END AS BIGINT)
       END AS yoy_growth_ppm
FROM l WHERE prev_cents IS NOT NULL
""",
    # lag-12 over the bounded month domain
    allow={"GlobalWindow"},
)
def yoy_growth_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    m = o.groupBy(
        F.year(F.col("o_orderdate").cast("date")).cast("int").alias("yr"),
        F.month(F.col("o_orderdate").cast("date")).cast("int").alias("mo"),
    ).agg(
        F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint"))
        .cast("bigint")
        .alias("cents")
    )
    w = Window.orderBy("yr", "mo")
    l = m.withColumn("prev_cents", F.lag("cents", 12).over(w)).filter(
        F.col("prev_cents").isNotNull()
    )
    return l.select(
        "yr",
        "mo",
        "cents",
        "prev_cents",
        F.when(
            F.col("prev_cents") > 0,
            F.expr(
                "CAST(CASE WHEN cents >= prev_cents"
                " THEN ((cents - prev_cents) * 1000000) div prev_cents"
                " ELSE -(((prev_cents - cents) * 1000000) div prev_cents)"
                " END AS BIGINT)"
            ),
        ).alias("yoy_growth_ppm"),
    )
