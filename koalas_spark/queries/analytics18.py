"""Round-8 batch-13 additions (SURVEY.md §2 extensions): two-sample
Kolmogorov-Smirnov drift test, Mann-Kendall trend test, and
winsorized robust means.

Reference parity note: none of these exist in the reference (its
surface is the frame ops in source/koalas/dataframe.d:73-311); they
complete the robust-statistics / drift-testing shelf next to PSI
(#242), CUSUM (#228) and Theil-Sen (#261), under the repo
determinism rules (queries/__init__.py docstring): everything
reduces over DOMAIN-bounded histograms with exact integer math;
the one transcendental (the MK z-score's sqrt) is a single fixed
double expression over exact integer inputs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from koalas_spark.queries import query
from koalas_spark.queries.analytics import _t


# --------------------------------------------------------------------
# 278. two-sample Kolmogorov-Smirnov drift test — the
# distribution-shape complement to #242 PSI (which bins coarsely and
# can miss shape changes inside a bin): D = max |CDF_a - CDF_b| of
# order prices between the pre/post-1995H1 eras. The corpus
# collapses to the price-cents DOMAIN histogram with per-era counts
# (one map-side-combined aggregate); CDFs are prefix sums over that
# bounded table; each side's CDF is quantized to integer ppm
# INDEPENDENTLY (1e6 c // N stays in int64 at any corpus scale,
# where the exact cross-product c_a*N_b would need DECIMAL past
# ~3e9 rows), so D_ppm is exact-to-1ppm and identical cross-engine.
# The argmax cents value is reported with a MIN tiebreak.
@query(
    "ks_test_price_eras",
    oracle="""
WITH h AS (
  SELECT CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
         CAST(SUM(CASE WHEN CAST(o_orderdate AS DATE) < DATE '1995-07-01'
                  THEN 1 ELSE 0 END) AS BIGINT) AS ca,
         CAST(SUM(CASE WHEN CAST(o_orderdate AS DATE) >= DATE '1995-07-01'
                  THEN 1 ELSE 0 END) AS BIGINT) AS cb
  FROM orders GROUP BY 1),
n AS (SELECT CAST(SUM(ca) AS BIGINT) AS na, CAST(SUM(cb) AS BIGINT) AS nb
      FROM h),
cum AS (
  SELECT cents,
         CAST(SUM(ca) OVER (ORDER BY cents
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS BIGINT) AS cca,
         CAST(SUM(cb) OVER (ORDER BY cents
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS BIGINT) AS ccb
  FROM h),
d AS (
  SELECT cents,
         ABS(1000000 * cca // n.na - 1000000 * ccb // n.nb) AS diff_ppm
  FROM cum, n),
mx AS (SELECT CAST(MAX(diff_ppm) AS BIGINT) AS d_ppm FROM d)
SELECT n.na AS n_era_a, n.nb AS n_era_b, mx.d_ppm,
       (SELECT CAST(MIN(cents) AS BIGINT) FROM d, mx
        WHERE diff_ppm = mx.d_ppm) AS argmax_cents
FROM n, mx
""",
    # 1-row n/max/argmax frames cross-joined onto the price-cents
    # DOMAIN histogram
    allow={"BroadcastNestedLoopJoin"},
)
def ks_test_price_eras(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    h = o.groupBy(
        F.floor(F.col("o_totalprice") * 100 + 0.5)
        .cast("bigint")
        .alias("cents")
    ).agg(
        F.sum(
            F.when(
                F.col("o_orderdate").cast("date") < F.lit("1995-07-01"), 1
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("ca"),
        F.sum(
            F.when(
                F.col("o_orderdate").cast("date") >= F.lit("1995-07-01"), 1
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("cb"),
    )
    n = h.agg(
        F.sum("ca").cast("bigint").alias("na"),
        F.sum("cb").cast("bigint").alias("nb"),
    )
    w = Window.orderBy("cents").rowsBetween(Window.unboundedPreceding, 0)
    cum = h.select(
        "cents",
        F.sum("ca").over(w).cast("bigint").alias("cca"),
        F.sum("cb").over(w).cast("bigint").alias("ccb"),
    )
    d = cum.crossJoin(n).select(
        "cents",
        "na",
        "nb",
        F.abs(
            F.expr("1000000 * cca div na") - F.expr("1000000 * ccb div nb")
        ).alias("diff_ppm"),
    ).localCheckpoint(eager=False)
    mx = d.agg(F.max("diff_ppm").cast("bigint").alias("d_ppm"))
    arg = (
        d.crossJoin(mx)
        .filter(F.col("diff_ppm") == F.col("d_ppm"))
        .agg(F.min("cents").cast("bigint").alias("argmax_cents"))
    )
    return (
        n.crossJoin(mx)
        .crossJoin(arg)
        .select(
            F.col("na").alias("n_era_a"),
            F.col("nb").alias("n_era_b"),
            "d_ppm",
            "argmax_cents",
        )
    )


# --------------------------------------------------------------------
# 279. Mann-Kendall trend test — the significance companion to #261
# Theil-Sen (the two are always reported together): S = sum of
# sign(x_j - x_i) over day pairs (exact integer over the
# time-bounded day-domain pairs, same legitimate-quadratic argument
# as #261), tie-corrected variance 18*Var = n(n-1)(2n+5) -
# sum t(t-1)(2t+5) as an exact integer, and the continuity-corrected
# z = (S - sign(S)) / sqrt(var18 / 18) as the ONE final double
# expression (identical shape both engines). |S| <= n^2/2 and the
# variance polynomial are int64-safe for any day horizon (n ~ 2.4k
# days here; even a 100-year horizon is n ~ 36.5k -> n^3 ~ 5e13).
@query(
    "mann_kendall_trend",
    oracle="""
WITH daily AS MATERIALIZED (
  SELECT date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))
           AS d,
         CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
           AS BIGINT) AS x
  FROM orders GROUP BY 1),
s AS (
  SELECT CAST(SUM(CASE WHEN b.x > a.x THEN 1
                       WHEN b.x < a.x THEN -1 ELSE 0 END) AS BIGINT) AS s
  FROM daily a JOIN daily b ON b.d > a.d),
nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM daily),
ties AS (
  SELECT CAST(COALESCE(SUM(t * (t - 1) * (2 * t + 5)), 0) AS BIGINT) AS tadj
  FROM (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM daily GROUP BY x) g
  WHERE t > 1),
v AS (
  SELECT CAST(nn.n * (nn.n - 1) * (2 * nn.n + 5) - ties.tadj AS BIGINT)
           AS var18
  FROM nn, ties)
SELECT nn.n AS n_days, s.s AS s_stat, v.var18,
       ROUND((CAST(s.s AS DOUBLE)
              - CASE WHEN s.s > 0 THEN 1 WHEN s.s < 0 THEN -1 ELSE 0 END)
             / SQRT(CAST(v.var18 AS DOUBLE) / 18.0), 6) AS z
FROM nn, s, v
""",
    # day-domain pair enumeration (db > da non-equi against the
    # broadcast ~2.4k-row daily table) + 1-row stat frames
    allow={"BroadcastNestedLoopJoin"},
)
def mann_kendall_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    from koalas_spark.queries.analytics import daily_revenue_table

    daily = daily_revenue_table(spark, sf_dir)
    a = daily.select(F.col("d").alias("da"), F.col("x").alias("xa"))
    b = daily.select(F.col("d").alias("db"), F.col("x").alias("xb"))
    s = (
        a.join(F.broadcast(b), F.col("db") > F.col("da"))
        .agg(
            F.sum(
                F.when(F.col("xb") > F.col("xa"), 1)
                .when(F.col("xb") < F.col("xa"), -1)
                .otherwise(0)
            )
            .cast("bigint")
            .alias("s")
        )
    )
    nn = daily.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    ties = (
        daily.groupBy("x")
        .agg(F.count(F.lit(1)).cast("bigint").alias("t"))
        .filter(F.col("t") > 1)
        .agg(
            F.coalesce(
                F.sum(
                    F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
                ),
                F.lit(0),
            )
            .cast("bigint")
            .alias("tadj")
        )
    )
    v = nn.crossJoin(ties).select(
        (
            F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5)
            - F.col("tadj")
        )
        .cast("bigint")
        .alias("var18")
    )
    sgn = (
        F.when(F.col("s") > 0, 1).when(F.col("s") < 0, -1).otherwise(0)
    )
    return (
        nn.crossJoin(s)
        .crossJoin(v)
        .select(
            F.col("n").alias("n_days"),
            F.col("s").alias("s_stat"),
            "var18",
            F.round(
                (F.col("s").cast("double") - sgn)
                / F.sqrt(F.col("var18").cast("double") / 18.0),
                6,
            ).alias("z"),
        )
    )


# --------------------------------------------------------------------
# 280. winsorized mean — the robust location estimate that survives
# the fat tails a plain mean doesn't: per return flag, clamp prices
# to the exact [p5, p95] cents (ranks ceil(0.05 n) / ceil(0.95 n)
# from the #227 domain-histogram quantile machinery — no corpus
# sort), then take the clamped mean in exact milli-cents integer
# division. The clamp pass re-uses the SAME histogram joined against
# the broadcast 3-row quantile frame, so the corpus is scanned once
# and everything else is domain-bounded.
@query(
    "winsorized_mean_price",
    oracle="""
WITH h AS MATERIALIZED (
  SELECT l_returnflag AS flag,
         CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM lineitem GROUP BY 1, 2),
cum AS (
  SELECT flag, cents, c,
         CAST(SUM(c) OVER (PARTITION BY flag ORDER BY cents
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS BIGINT) AS cumc
  FROM h),
tot AS (SELECT flag, CAST(SUM(c) AS BIGINT) AS n FROM h GROUP BY flag),
q AS (
  SELECT cum.flag, tot.n,
         CAST(MIN(CASE WHEN cumc >= (tot.n + 19) // 20 THEN cents END)
           AS BIGINT) AS p5,
         CAST(MIN(CASE WHEN cumc >= (19 * tot.n + 19) // 20 THEN cents END)
           AS BIGINT) AS p95
  FROM cum JOIN tot ON cum.flag = tot.flag
  GROUP BY cum.flag, tot.n),
wsum AS (
  SELECT h.flag,
         CAST(SUM(h.c * LEAST(GREATEST(h.cents, q.p5), q.p95)) AS BIGINT)
           AS s
  FROM h JOIN q ON h.flag = q.flag
  GROUP BY h.flag)
SELECT q.flag, q.n, q.p5 AS p5_cents, q.p95 AS p95_cents,
       1000 * wsum.s // q.n AS winsor_mean_millicents
FROM q JOIN wsum ON q.flag = wsum.flag
""",
)
def winsorized_mean_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    h = (
        li.groupBy(
            F.col("l_returnflag").alias("flag"),
            F.floor(F.col("l_extendedprice") * 100 + 0.5)
            .cast("bigint")
            .alias("cents"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .localCheckpoint(eager=False)
    )
    w = Window.partitionBy("flag").orderBy("cents").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = h.select(
        "flag", "cents", "c", F.sum("c").over(w).cast("bigint").alias("cumc")
    )
    tot = h.groupBy("flag").agg(F.sum("c").cast("bigint").alias("n"))
    q = (
        cum.join(F.broadcast(tot), "flag")
        .groupBy("flag", "n")
        .agg(
            F.min(
                F.when(
                    F.col("cumc") >= F.expr("(n + 19) div 20"), F.col("cents")
                )
            )
            .cast("bigint")
            .alias("p5"),
            F.min(
                F.when(
                    F.col("cumc") >= F.expr("(19 * n + 19) div 20"),
                    F.col("cents"),
                )
            )
            .cast("bigint")
            .alias("p95"),
        )
    )
    wsum = (
        h.join(F.broadcast(q), "flag")
        .groupBy("flag")
        .agg(
            F.sum(
                F.col("c")
                * F.least(F.greatest(F.col("cents"), F.col("p5")), F.col("p95"))
            )
            .cast("bigint")
            .alias("s")
        )
    )
    return q.join(wsum, "flag").select(
        "flag",
        "n",
        F.col("p5").alias("p5_cents"),
        F.col("p95").alias("p95_cents"),
        F.expr("1000 * s div n").alias("winsor_mean_millicents"),
    )
