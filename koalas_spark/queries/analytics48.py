"""Round-9 batch-26 additions (SURVEY.md §2 extensions): extreme-value
statistics (Hill tail index, Gumbel block maxima), an EWMA control
chart, and a second Spark-4 pipe-syntax query.

Reference parity note: not in the reference (its surface is the frame
ops in source/koalas/dataframe.d:73-311); determinism per the repo
rules (queries/__init__.py docstring): per-value nano-ln and
per-term FLOOR quantization before any cross-row sum, exact
non-negative // means, e-notation double literals (the #362 DuckDB
DECIMAL-literal hazard).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from koalas_spark.queries import query
from koalas_spark.queries.analytics import _t, daily_revenue_table


# --------------------------------------------------------------------
# 374. Hill tail index of order values — how heavy is the revenue
# tail? (the power-law exponent; pairs with #163's Zipf fit on tokens
# and #282's Benford audit): the 501 largest order cents come from a
# TakeOrdered top-k (k-bounded, never a global sort), ln(x_i/x_ref)
# is nano-quantized PER VALUE (#221, non-negative by construction),
# and alpha = 1 / mean(ln ratio) with the exact // mean. Membership
# at value ties is pinned by the orderkey tie-break on both engines.
_HILL_K = 500


@query(
    "hill_tail_index",
    oracle=f"""
WITH top AS MATERIALIZED (
  SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, k ASC) AS rn
  FROM (SELECT CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS c,
               o_orderkey AS k
        FROM orders) t
  ORDER BY c DESC, k ASC LIMIT {_HILL_K + 1}),
ref AS (SELECT c AS cref FROM top WHERE rn = {_HILL_K + 1}),
terms AS (
  SELECT CAST(FLOOR(1000000000 * LN(CAST(top.c AS DOUBLE)
                                    / CAST(ref.cref AS DOUBLE)))
              AS BIGINT) AS ln_nano
  FROM top, ref WHERE top.rn <= {_HILL_K}),
s AS (
  SELECT CAST(SUM(ln_nano) AS BIGINT) AS t,
         CAST(COUNT(*) AS BIGINT) AS k
  FROM terms)
SELECT k, CAST(t // k AS BIGINT) AS mean_ln_nano,
       ROUND(1000000000e0 / CAST(t // k AS DOUBLE), 6) AS hill_alpha
FROM s
""",
    # 1-row x_ref frame cross-joined onto the 500 top rows
    allow={"BroadcastNestedLoopJoin", "GlobalWindow"},
)
def hill_tail_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").select(
        F.floor(F.col("o_totalprice") * 100 + 0.5)
        .cast("bigint")
        .alias("c"),
        F.col("o_orderkey").alias("k"),
    )
    # TakeOrderedAndProject: per-partition local top-(k+1), no global sort
    top = (
        o.orderBy(F.col("c").desc(), F.col("k").asc())
        .limit(_HILL_K + 1)
        .select(
            "c",
            F.row_number()
            .over(Window.orderBy(F.col("c").desc(), F.col("k").asc()))
            .alias("rn"),
        )
    )
    ref = top.filter(F.col("rn") == _HILL_K + 1).select(
        F.col("c").alias("cref")
    )
    terms = (
        top.filter(F.col("rn") <= _HILL_K)
        .crossJoin(ref)
        .select(
            F.floor(
                1000000000
                * F.log(
                    F.expr("CAST(c AS DOUBLE) / CAST(cref AS DOUBLE)")
                )
            )
            .cast("bigint")
            .alias("ln_nano")
        )
    )
    s = terms.agg(
        F.sum("ln_nano").cast("bigint").alias("t"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
    )
    return s.select(
        "k",
        F.expr("CAST(t div k AS BIGINT)").alias("mean_ln_nano"),
        F.round(
            F.expr("1000000000e0 / CAST(t div k AS DOUBLE)"), 6
        ).alias("hill_alpha"),
    )


# --------------------------------------------------------------------
# 375. Gumbel fit of monthly revenue maxima — the block-maxima
# extreme-value model (what capacity planning reads: "the worst month
# a year from now"): monthly maxima over the bounded month domain,
# method-of-moments Gumbel (beta = s*sqrt(6)/pi, mu = mean - gamma*
# beta) from exact integer moment sums, constants as e-notation
# double literals (#362 hazard), one identical-shape double sequence.
@query(
    "gumbel_monthly_maxima",
    oracle="""
WITH daily AS (
  SELECT CAST(date_part('year', o_orderdate) * 12
              + date_part('month', o_orderdate) AS BIGINT) AS mk,
         datediff('day', DATE '1995-01-01', o_orderdate) AS d,
         CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
              AS BIGINT) AS x
  FROM orders GROUP BY 1, 2),
mm AS (
  SELECT mk, CAST(MAX(x) AS BIGINT) AS mx FROM daily GROUP BY mk),
s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(mx) AS BIGINT) AS s1,
         CAST(CAST(SUM(CAST(mx AS DECIMAL(38,0)) * mx) AS VARCHAR)
              AS DOUBLE) AS ss_d
  FROM mm),
cd AS (
  SELECT n, CAST(n AS DOUBLE) AS n_d, CAST(s1 AS DOUBLE) AS s1_d, ss_d
  FROM s),
fit AS (
  SELECT n, s1_d / n_d AS m,
         SQRT((ss_d - s1_d * s1_d / n_d) / (n_d - 1.0))
           * (2.449489742783178e0 / 3.141592653589793e0) AS beta
  FROM cd)
SELECT n AS n_months,
       ROUND(m - 5.772156649015329e-1 * beta, 6) AS gumbel_mu,
       ROUND(beta, 6) AS gumbel_beta
FROM fit
""",
)
def gumbel_monthly_maxima(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy(
        (
            F.year(F.col("o_orderdate").cast("date")) * 12
            + F.month(F.col("o_orderdate").cast("date"))
        )
        .cast("bigint")
        .alias("mk"),
        F.datediff(
            F.col("o_orderdate").cast("date"),
            F.lit("1995-01-01").cast("date"),
        ).alias("d"),
    ).agg(
        F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint"))
        .cast("bigint")
        .alias("x")
    )
    mm = daily.groupBy("mk").agg(F.max("x").cast("bigint").alias("mx"))
    s = mm.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("mx").cast("bigint").alias("s1"),
        F.sum(F.expr("CAST(mx AS DECIMAL(38,0)) * mx"))
        .cast("string")
        .cast("double")
        .alias("ss_d"),
    )
    cd = s.select(
        "n",
        F.col("n").cast("double").alias("n_d"),
        F.col("s1").cast("double").alias("s1_d"),
        "ss_d",
    )
    fit = cd.select(
        "n",
        F.expr("s1_d / n_d").alias("m"),
        F.expr(
            "SQRT((ss_d - s1_d * s1_d / n_d) / (n_d - 1.0))"
            " * (2.449489742783178e0 / 3.141592653589793e0)"
        ).alias("beta"),
    )
    return fit.select(
        F.col("n").alias("n_months"),
        F.round(
            F.expr("m - 5.772156649015329e-1 * beta"), 6
        ).alias("gumbel_mu"),
        F.round(F.col("beta"), 6).alias("gumbel_beta"),
    )


# --------------------------------------------------------------------
# 376. EWMA control chart on daily revenue — the SPC drift detector
# (EWMA catches small sustained shifts the Shewhart/#303 Bollinger
# bands miss): the recursion unrolls to its closed form over the
# bounded day-domain pair join (the #358 quadratic justification),
# each term FLOOR-quantized to exact integer cents BEFORE the sum
# (float sums reassociate; integer sums don't), and the time-varying
# control limit sigma_t = sd*sqrt(lam/(2-lam)*(1-(1-lam)^2t)) is one
# identical-shape double per day. lambda = 0.2, L = 2.
_EWMA_TERM = (
    "CAST(FLOOR((CASE WHEN jx = 0 THEN POWER(8e-1, tx - jx)"
    " ELSE 2e-1 * POWER(8e-1, tx - jx) END)"
    " * CAST(xj AS DOUBLE)) AS BIGINT)"
)
_EWMA_SIG = (
    "sd * SQRT((2e-1 / 18e-1)"
    " * (1e0 - POWER(64e-2, CAST(tx AS DOUBLE) + 1e0)))"
)


@query(
    "ewma_control_chart_daily",
    oracle=f"""
WITH daily AS MATERIALIZED (
  SELECT datediff('day', DATE '1995-01-01', o_orderdate) AS d,
         CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
              AS BIGINT) AS x
  FROM orders GROUP BY 1),
ix AS MATERIALIZED (
  SELECT d, x, CAST(ROW_NUMBER() OVER (ORDER BY d) - 1 AS BIGINT)
           AS idx
  FROM daily),
g AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS s1,
         CAST(CAST(SUM(CAST(x AS DECIMAL(38,0)) * x) AS VARCHAR)
              AS DOUBLE) AS ss_d
  FROM ix),
ms AS (
  SELECT CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS m,
         SQRT((ss_d - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
                      / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE)) AS sd
  FROM g),
z AS (
  SELECT t.d, t.idx AS tx,
         CAST(SUM({_EWMA_TERM.replace('tx - jx', 't.idx - j.idx')
                              .replace('jx = 0', 'j.idx = 0')
                              .replace('xj', 'j.x')}) AS BIGINT)
           AS z_cents
  FROM ix t JOIN ix j ON j.idx <= t.idx
  GROUP BY t.d, t.idx),
v AS (
  SELECT z.d, z.z_cents,
         CAST(z.z_cents AS DOUBLE) - ms.m AS dev,
         2e0 * {_EWMA_SIG} AS lim
  FROM z, ms)
SELECT d AS day_idx, z_cents,
       CASE WHEN dev > 0 THEN 'up' ELSE 'down' END AS side
FROM v WHERE ABS(dev) > lim ORDER BY d
""",
    # bounded day-domain pair join (j.idx <= t.idx) + 1-row moments
    allow={"BroadcastNestedLoopJoin"},
)
def ewma_control_chart_daily(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    daily = daily_revenue_table(spark, sf_dir)
    ix = daily.select(
        "d",
        "x",
        (F.row_number().over(Window.orderBy("d")) - 1)
        .cast("bigint")
        .alias("idx"),
    ).localCheckpoint()
    g = ix.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("s1"),
        F.sum(F.expr("CAST(x AS DECIMAL(38,0)) * x"))
        .cast("string")
        .cast("double")
        .alias("ss_d"),
    )
    ms = g.select(
        F.expr("CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)").alias("m"),
        F.expr(
            "SQRT((ss_d - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)"
            " / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE))"
        ).alias("sd"),
    )
    t = ix.select(
        F.col("d"), F.col("idx").alias("tx")
    )
    j = ix.select(F.col("idx").alias("jx"), F.col("x").alias("xj"))
    z = (
        t.join(j, F.col("jx") <= F.col("tx"))
        .groupBy("d", "tx")
        .agg(F.sum(F.expr(_EWMA_TERM)).cast("bigint").alias("z_cents"))
    )
    v = z.crossJoin(ms).select(
        "d",
        "z_cents",
        F.expr("CAST(z_cents AS DOUBLE) - m").alias("dev"),
        F.expr(f"2e0 * {_EWMA_SIG}").alias("lim"),
    )
    return (
        v.filter(F.abs(F.col("dev")) > F.col("lim"))
        .select(
            F.col("d").alias("day_idx"),
            "z_cents",
            F.when(F.col("dev") > 0, "up").otherwise("down").alias("side"),
        )
        .orderBy("day_idx")
    )


# --------------------------------------------------------------------
# 377. pipe-syntax top-k — the second Spark-4 SQL pipe query (#125
# covers AGGREGATE; this exercises the ORDER BY / LIMIT stages of the
# |> surface): top-5 parts by exact revenue cents.
@query(
    "pipe_syntax_topk",
    oracle="""
SELECT l_partkey,
       CAST(SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT))
            AS BIGINT) AS rev_cents
FROM lineitem GROUP BY l_partkey
ORDER BY rev_cents DESC, l_partkey ASC LIMIT 5
""",
)
def pipe_syntax_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "_pipe_lineitem_topk"
    )
    return spark.sql(
        """
        FROM _pipe_lineitem_topk
        |> AGGREGATE CAST(SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5)
                                   AS BIGINT)) AS BIGINT) AS rev_cents
           GROUP BY l_partkey
        |> ORDER BY rev_cents DESC, l_partkey ASC
        |> LIMIT 5
        """
    )
