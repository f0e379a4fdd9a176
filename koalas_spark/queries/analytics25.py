"""Round-9 batch-3 additions (SURVEY.md §2 extensions): binary-
segmentation changepoint detection, Bollinger-band breakout scan,
Welch's two-sample t-test, and a delta/varint compression estimator.

Reference parity note: none of these exist in the reference (its
surface is the frame ops in source/koalas/dataframe.d:73-311); they
extend the time-series / statistics / storage-engineering shelves
under the repo determinism rules (queries/__init__.py docstring):
exact decimal moment sums with the VARCHAR-hop double cast, identical
double expression shapes, non-negative integer division, bounded-
domain windows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from koalas_spark.queries import query
from koalas_spark.queries.analytics import _t


_CENTS = "CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)"


# --------------------------------------------------------------------
# 300. binary-segmentation changepoint — the first split of the
# classic changepoint recursion: the day that minimizes total SSE of
# daily revenue (equivalently maximizes s1²/n1 + s2²/n2, the
# between-segment term). The corpus collapses to the day DOMAIN first
# (one map-side-combined groupBy, ~2.4k rows at any corpus size);
# prefix sums over that bounded table price every split in one pass —
# the candidate scan is O(days), never O(days²) and never touches the
# corpus again. The score is a double computed ONCE with an identical
# shape on both engines (products of exact bigint cents), argmax
# tie-broken by earliest day.
@query(
    "changepoint_binseg_daily",
    oracle=f"""
WITH daily AS (
  SELECT datediff('day', DATE '1995-01-01', o_orderdate) AS d,
         CAST(SUM({_CENTS}) AS BIGINT) AS cents
  FROM orders GROUP BY 1),
pre AS (
  SELECT d,
         CAST(ROW_NUMBER() OVER (ORDER BY d) AS BIGINT) AS n1,
         CAST(SUM(cents) OVER (ORDER BY d
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS s1,
         CAST(COUNT(*) OVER () AS BIGINT) AS n,
         CAST(SUM(cents) OVER () AS BIGINT) AS s
  FROM daily),
scored AS (
  SELECT d, n1, s1, n - n1 AS n2, s - s1 AS s2,
         CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)
         + CAST(s - s1 AS DOUBLE) * CAST(s - s1 AS DOUBLE)
           / CAST(n - n1 AS DOUBLE) AS score
  FROM pre WHERE n1 < n)
SELECT d AS split_day, n1 AS n_left, n2 AS n_right,
       CAST(s1 // n1 AS BIGINT) AS mean_left_cents,
       CAST(s2 // n2 AS BIGINT) AS mean_right_cents
FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY score DESC, d ASC) AS rk
      FROM scored) t
WHERE rk = 1
""",
    # prefix sums over the day-domain artifact (split-scan pricing)
    allow={"GlobalWindow"},
)
def changepoint_binseg_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    from koalas_spark.queries.analytics import daily_revenue_table

    daily = daily_revenue_table(spark, sf_dir).withColumnRenamed("x", "cents")
    # prefix sums over the bounded day domain (corpus-size-independent)
    wc = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.partitionBy()
    pre = daily.select(
        "d",
        F.row_number().over(Window.orderBy("d")).cast("bigint").alias("n1"),
        F.sum("cents").over(wc).cast("bigint").alias("s1"),
        F.count(F.lit(1)).over(wall).cast("bigint").alias("n"),
        F.sum("cents").over(wall).cast("bigint").alias("s"),
    )
    scored = pre.filter(F.col("n1") < F.col("n")).select(
        "d",
        "n1",
        "s1",
        (F.col("n") - F.col("n1")).alias("n2"),
        (F.col("s") - F.col("s1")).alias("s2"),
        F.expr(
            "CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)"
            " + CAST(s - s1 AS DOUBLE) * CAST(s - s1 AS DOUBLE)"
            "   / CAST(n - n1 AS DOUBLE)"
        ).alias("score"),
    )
    wk = Window.orderBy(F.col("score").desc(), F.col("d").asc())
    return (
        scored.withColumn("rk", F.row_number().over(wk))
        .filter(F.col("rk") == 1)
        .select(
            F.col("d").alias("split_day"),
            F.col("n1").alias("n_left"),
            F.col("n2").alias("n_right"),
            F.expr("CAST(s1 div n1 AS BIGINT)").alias("mean_left_cents"),
            F.expr("CAST(s2 div n2 AS BIGINT)").alias("mean_right_cents"),
        )
    )


# --------------------------------------------------------------------
# 301. Bollinger-band breakout scan — trading's volatility envelope
# applied to daily revenue: a day breaks out when it leaves the
# trailing-20-day mean ± 2σ band (trailing = ROWS 20 PRECEDING..1
# PRECEDING, so the band never sees the day it judges). The corpus
# collapses to the day domain first; the rolling second moment runs
# as an exact DECIMAL(38) sum (cents² x 20 overflows int64 at sf1 —
# the acf/chi2 idiom), both moments cross to DOUBLE through the
# VARCHAR hop (correctly-rounded past 2^53 on both engines), and the
# band test (n·x - S)² vs 4(n·SS - S²) is one identical double shape.
@query(
    "bollinger_breakout_days",
    oracle=f"""
WITH daily AS (
  SELECT datediff('day', DATE '1995-01-01', o_orderdate) AS d,
         CAST(SUM({_CENTS}) AS BIGINT) AS x
  FROM orders GROUP BY 1),
roll AS (
  SELECT d, x,
         CAST(COUNT(*) OVER w AS BIGINT) AS cnt,
         CAST(SUM(x) OVER w AS BIGINT) AS s,
         CAST(CAST(SUM(CAST(x AS DECIMAL(38,0)) * x) OVER w AS VARCHAR)
              AS DOUBLE) AS ss_d,
         CAST(CAST(SUM(x) OVER w AS VARCHAR) AS DOUBLE) AS s_d
  FROM daily
  WINDOW w AS (ORDER BY d ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)),
flagged AS (
  SELECT d, x,
         (20.0 * CAST(x AS DOUBLE) - s_d)
           * (20.0 * CAST(x AS DOUBLE) - s_d) AS lhs,
         4.0 * (20.0 * ss_d - s_d * s_d) AS rhs,
         20.0 * CAST(x AS DOUBLE) - s_d AS diff
  FROM roll WHERE cnt = 20)
SELECT d AS day_idx, x AS cents,
       CASE WHEN diff > 0 THEN 'up' ELSE 'down' END AS direction
FROM flagged WHERE lhs > rhs
""",
    # trailing-20-day band over the ~2.4k-row day-domain artifact
    allow={"GlobalWindow"},
)
def bollinger_breakout_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    from koalas_spark.queries.analytics import daily_revenue_table

    daily = daily_revenue_table(spark, sf_dir)
    w = Window.orderBy("d").rowsBetween(-20, -1)
    roll = daily.select(
        "d",
        "x",
        F.count(F.lit(1)).over(w).cast("bigint").alias("cnt"),
        F.sum(F.expr("CAST(x AS DECIMAL(38,0)) * x"))
        .over(w)
        .cast("string")
        .cast("double")
        .alias("ss_d"),
        F.sum("x").over(w).cast("string").cast("double").alias("s_d"),
    )
    flagged = roll.filter(F.col("cnt") == 20).select(
        "d",
        "x",
        F.expr(
            "(20.0 * CAST(x AS DOUBLE) - s_d)"
            " * (20.0 * CAST(x AS DOUBLE) - s_d)"
        ).alias("lhs"),
        F.expr("4.0 * (20.0 * ss_d - s_d * s_d)").alias("rhs"),
        F.expr("20.0 * CAST(x AS DOUBLE) - s_d").alias("diff"),
    )
    return flagged.filter(F.col("lhs") > F.col("rhs")).select(
        F.col("d").alias("day_idx"),
        F.col("x").alias("cents"),
        F.when(F.col("diff") > 0, "up").otherwise("down").alias("direction"),
    )


# --------------------------------------------------------------------
# 302. Welch's two-sample t-test — the unequal-variance mean
# comparison (open 'O' vs finished 'F' linestatus revenue per lineitem): exact
# decimal moment sums (one map-side-combined groupBy over the
# filtered scan — the filter pushes to parquet), then ONE fixed
# double sequence for the means, Welch variance, t statistic, and
# Welch–Satterthwaite degrees of freedom, identical shape on both
# engines, rounded to 6 dp. Corpus is touched exactly once.
@query(
    "welch_t_linestatus",
    oracle="""
WITH m AS (
  SELECT l_linestatus AS grp, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(CAST(SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT))
                   AS VARCHAR) AS DOUBLE) AS s,
         CAST(CAST(SUM(CAST(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)
                            AS DECIMAL(38,0))
                       * CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT))
                   AS VARCHAR) AS DOUBLE) AS ss
  FROM lineitem WHERE l_linestatus IN ('O', 'F') GROUP BY 1),
w AS (
  SELECT MAX(CASE WHEN grp = 'O' THEN n END) AS n1,
         MAX(CASE WHEN grp = 'O' THEN s END) AS s1,
         MAX(CASE WHEN grp = 'O' THEN ss END) AS ss1,
         MAX(CASE WHEN grp = 'F' THEN n END) AS n2,
         MAX(CASE WHEN grp = 'F' THEN s END) AS s2,
         MAX(CASE WHEN grp = 'F' THEN ss END) AS ss2
  FROM m),
t AS (
  SELECT n1, n2,
         s1 / CAST(n1 AS DOUBLE) AS m1, s2 / CAST(n2 AS DOUBLE) AS m2,
         (ss1 - s1 * s1 / CAST(n1 AS DOUBLE)) / (CAST(n1 AS DOUBLE) - 1.0)
           AS v1,
         (ss2 - s2 * s2 / CAST(n2 AS DOUBLE)) / (CAST(n2 AS DOUBLE) - 1.0)
           AS v2
  FROM w)
SELECT n1, n2,
       ROUND((m1 - m2) / SQRT(v1 / CAST(n1 AS DOUBLE)
                              + v2 / CAST(n2 AS DOUBLE)), 6) AS t_stat,
       ROUND((v1 / CAST(n1 AS DOUBLE) + v2 / CAST(n2 AS DOUBLE))
             * (v1 / CAST(n1 AS DOUBLE) + v2 / CAST(n2 AS DOUBLE))
             / (v1 * v1 / (CAST(n1 AS DOUBLE) * CAST(n1 AS DOUBLE)
                           * (CAST(n1 AS DOUBLE) - 1.0))
                + v2 * v2 / (CAST(n2 AS DOUBLE) * CAST(n2 AS DOUBLE)
                             * (CAST(n2 AS DOUBLE) - 1.0))), 6) AS welch_df
FROM t
""",
)
def welch_t_linestatus(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_linestatus").isin("O", "F"))
        .select(
            F.col("l_linestatus").alias("grp"),
            F.floor(F.col("l_extendedprice") * 100 + 0.5)
            .cast("bigint")
            .alias("c"),
        )
    )
    m = li.groupBy("grp").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("c").cast("string").cast("double").alias("s"),
        F.sum(F.expr("CAST(c AS DECIMAL(38,0)) * c"))
        .cast("string")
        .cast("double")
        .alias("ss"),
    )
    w = m.agg(
        F.max(F.when(F.col("grp") == "O", F.col("n"))).alias("n1"),
        F.max(F.when(F.col("grp") == "O", F.col("s"))).alias("s1"),
        F.max(F.when(F.col("grp") == "O", F.col("ss"))).alias("ss1"),
        F.max(F.when(F.col("grp") == "F", F.col("n"))).alias("n2"),
        F.max(F.when(F.col("grp") == "F", F.col("s"))).alias("s2"),
        F.max(F.when(F.col("grp") == "F", F.col("ss"))).alias("ss2"),
    )
    t = w.select(
        "n1",
        "n2",
        F.expr("s1 / CAST(n1 AS DOUBLE)").alias("m1"),
        F.expr("s2 / CAST(n2 AS DOUBLE)").alias("m2"),
        F.expr(
            "(ss1 - s1 * s1 / CAST(n1 AS DOUBLE))"
            " / (CAST(n1 AS DOUBLE) - 1.0)"
        ).alias("v1"),
        F.expr(
            "(ss2 - s2 * s2 / CAST(n2 AS DOUBLE))"
            " / (CAST(n2 AS DOUBLE) - 1.0)"
        ).alias("v2"),
    )
    return t.select(
        "n1",
        "n2",
        F.round(
            F.expr(
                "(m1 - m2) / SQRT(v1 / CAST(n1 AS DOUBLE)"
                " + v2 / CAST(n2 AS DOUBLE))"
            ),
            6,
        ).alias("t_stat"),
        F.round(
            F.expr(
                "(v1 / CAST(n1 AS DOUBLE) + v2 / CAST(n2 AS DOUBLE))"
                " * (v1 / CAST(n1 AS DOUBLE) + v2 / CAST(n2 AS DOUBLE))"
                " / (v1 * v1 / (CAST(n1 AS DOUBLE) * CAST(n1 AS DOUBLE)"
                "               * (CAST(n1 AS DOUBLE) - 1.0))"
                "    + v2 * v2 / (CAST(n2 AS DOUBLE) * CAST(n2 AS DOUBLE)"
                "                 * (CAST(n2 AS DOUBLE) - 1.0)))"
            ),
            6,
        ).alias("welch_df"),
    )


# --------------------------------------------------------------------
# 303. delta/varint compression estimator — the storage-layout sizing
# question every columnar/log engine answers before picking an
# encoding: if each user's event timestamps were stored as a
# delta-encoded varint stream (first value 8 raw bytes, each delta
# ceil(bitlen/7) bytes), how much smaller than raw int64? Deltas come
# from the per-user lag window (bounded by one user's activity);
# bit length via LENGTH(BIN(x)) which is integer-exact in both
# engines (the #225 trick); one global integer aggregate at the end.
@query(
    "delta_varint_compression_stats",
    oracle="""
WITH s AS (
  SELECT user_id, CAST(FLOOR(epoch(ts)) AS BIGINT) AS sec, event_id
  FROM events),
d AS (
  SELECT user_id,
         sec - LAG(sec) OVER (PARTITION BY user_id
                              ORDER BY sec, event_id) AS delta
  FROM s),
b AS (
  SELECT user_id,
         CASE WHEN delta IS NULL THEN 8
              ELSE (LENGTH(bin(delta)) + 6) // 7 END AS nbytes
  FROM d)
SELECT CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(COUNT(*) * 8 AS BIGINT) AS raw_bytes,
       CAST(SUM(nbytes) AS BIGINT) AS varint_bytes,
       CAST((COUNT(*) * 8 - SUM(nbytes)) * 1000000 // (COUNT(*) * 8)
            AS BIGINT) AS savings_ppm
FROM b
""",
)
def delta_varint_compression_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select(
        "user_id", F.col("ts").cast("long").alias("sec"), "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("sec", "event_id")
    d = ev.select(
        "user_id", (F.col("sec") - F.lag("sec").over(w)).alias("delta")
    )
    b = d.select(
        "user_id",
        F.when(F.col("delta").isNull(), 8)
        .otherwise(
            F.expr("CAST((LENGTH(bin(delta)) + 6) div 7 AS INT)")
        )
        .alias("nbytes"),
    )
    return b.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.countDistinct("user_id").cast("bigint").alias("n_users"),
        (F.count(F.lit(1)) * 8).cast("bigint").alias("raw_bytes"),
        F.sum("nbytes").cast("bigint").alias("varint_bytes"),
        F.expr(
            "CAST((COUNT(1) * 8 - SUM(nbytes)) * 1000000"
            " div (COUNT(1) * 8) AS BIGINT)"
        ).alias("savings_ppm"),
    )
