"""Round-10 batch-13 additions (SURVEY.md §2 extensions): the
day-of-week x hour activity heatmap and the per-nation trade balance.

Reference parity note: not in the reference (its surface is the frame
ops in source/koalas/dataframe.d:73-311); determinism per the repo
rules (queries/__init__.py docstring): exact integer cents/counts,
bounded domains, no division.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from koalas_spark.queries import query
from koalas_spark.queries.analytics import _t


# --------------------------------------------------------------------
# 435. day-of-week x hour activity heatmap — the 168-cell ops
# dashboard (#290's hour profile in 2-D: weekday rhythm vs weekend).
# ISO dow (Mon=1) both engines via dayofweek arithmetic; one bounded
# groupBy, corpus collapses map-side to <= 168 rows per task. Exact
# counts + exact decimal value sums.
@query(
    "events_dow_hour_heatmap",
    oracle="""
SELECT CAST(isodow(ts) AS INT) AS dow,
       CAST(EXTRACT(hour FROM ts) AS INT) AS hod,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(CAST(SUM(CAST(value AS DECIMAL(25,6))) AS VARCHAR) AS DOUBLE)
         AS sum_value
FROM events GROUP BY 1, 2 ORDER BY 1, 2
""",
)
def events_dow_hour_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(
            # Spark dayofweek: Sun=1 .. Sat=7 -> ISO Mon=1 .. Sun=7
            ((F.dayofweek("ts") + 5) % 7 + 1).cast("int").alias("dow"),
            F.hour("ts").cast("int").alias("hod"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
            F.expr(
                "CAST(CAST(SUM(CAST(value AS DECIMAL(25,6))) AS STRING)"
                " AS DOUBLE)"
            ).alias("sum_value"),
        )
        .orderBy("dow", "hod")
    )


# --------------------------------------------------------------------
# 436. per-nation trade balance — revenue each nation SUPPLIES (via
# its suppliers' lineitems) vs revenue it CONSUMES (via its customers'
# orders), and the balance — the Q7 volume-shipping machinery folded
# into one ledger view. Two independent fact rollups (lineitem keyed
# by supplier nation; lineitem x orders x customer keyed by customer
# nation) full-outer-merged on the bounded 25-nation domain; exact
# integer cents, balance is pure subtraction.
@query(
    "nation_trade_balance",
    oracle="""
WITH sup AS (
  SELECT s.s_nationkey AS nk,
         CAST(SUM(CAST(FLOOR(l.l_extendedprice * (1 - l.l_discount) * 100
                             + 0.5) AS BIGINT)) AS BIGINT) AS supplied
  FROM lineitem l JOIN supplier s ON s.s_suppkey = l.l_suppkey
  GROUP BY 1),
con AS (
  SELECT c.c_nationkey AS nk,
         CAST(SUM(CAST(FLOOR(l.l_extendedprice * (1 - l.l_discount) * 100
                             + 0.5) AS BIGINT)) AS BIGINT) AS consumed
  FROM lineitem l
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
  GROUP BY 1)
SELECT n.n_name AS nation,
       CAST(COALESCE(sup.supplied, 0) AS BIGINT) AS supplied_cents,
       CAST(COALESCE(con.consumed, 0) AS BIGINT) AS consumed_cents,
       CAST(COALESCE(sup.supplied, 0) - COALESCE(con.consumed, 0)
         AS BIGINT) AS balance_cents
FROM nation n
LEFT JOIN sup ON sup.nk = n.n_nationkey
LEFT JOIN con ON con.nk = n.n_nationkey
ORDER BY nation
""",
)
def nation_trade_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_suppkey",
        F.floor(
            F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100 + 0.5
        )
        .cast("bigint")
        .alias("cents"),
    )
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    sup = (
        li.join(s, li.l_suppkey == s.s_suppkey)
        .groupBy(F.col("s_nationkey").alias("nk"))
        .agg(F.sum("cents").cast("bigint").alias("supplied"))
    )
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    con = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy(F.col("c_nationkey").alias("nk"))
        .agg(F.sum("cents").cast("bigint").alias("consumed"))
    )
    n = _t(spark, sf_dir, "nation").select("n_nationkey", F.col("n_name").alias("nation"))
    return (
        n.join(sup, sup.nk == F.col("n_nationkey"), "left")
        .drop("nk")
        .join(con, con.nk == F.col("n_nationkey"), "left")
        .select(
            "nation",
            F.coalesce("supplied", F.lit(0))
            .cast("bigint")
            .alias("supplied_cents"),
            F.coalesce("consumed", F.lit(0))
            .cast("bigint")
            .alias("consumed_cents"),
            (
                F.coalesce("supplied", F.lit(0))
                - F.coalesce("consumed", F.lit(0))
            )
            .cast("bigint")
            .alias("balance_cents"),
        )
        .orderBy("nation")
    )
