"""Round-9 batch-17 additions (SURVEY.md §2 extensions): time-series
and distribution diagnostics on the day domain — lagged cross-
correlation, Brown-Forsythe variance homogeneity, the Lo-MacKinlay
variance-ratio test, and the Grubbs extreme-outlier test.

Reference parity note: not in the reference (its surface is the frame
ops in source/koalas/dataframe.d:73-311); these extend the
time-series/stats shelves under the repo determinism rules
(queries/__init__.py docstring): day-domain collapse FIRST so every
window is calendar-bounded, exact integer / DEC38 moment sums, the
one-row pivot discipline for cross-group doubles, and identical
double expression shapes on both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from koalas_spark.queries import query
from koalas_spark.queries.analytics import _t, daily_revenue_table

_CORR_SHAPE = (
    "(n_d * sxy_d - sx_d * sy_d)"
    " / (SQRT(n_d * sxx_d - sx_d * sx_d)"
    "    * SQRT(n_d * syy_d - sy_d * sy_d))"
)


# --------------------------------------------------------------------
# 345. lagged cross-correlation: order-date revenue vs ship-date
# revenue — the fulfillment-lag structure as a correlogram (the
# lag that maximizes corr(order_t, ship_{t+L}) is the modal
# order->ship delay #231's quantiles report). Both series collapse to
# the bounded day domain first (one map-side-combined groupBy per
# table — the orders side reuses the daily-revenue snapshot artifact);
# the 15 lags come from a broadcast lag dimension joined on shifted
# day keys, so the corpus is never re-scanned per lag. Cross products
# are DEC38-exact (cents*cents passes int64 at sf1); the final
# Pearson is one identical-shape double expression per lag row.
@query(
    "cross_correlation_daily",
    oracle=f"""
WITH xd AS (
  SELECT datediff('day', DATE '1995-01-01', o_orderdate) AS d,
         CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
              AS BIGINT) AS x
  FROM orders GROUP BY 1),
yd AS (
  SELECT datediff('day', DATE '1995-01-01', l_shipdate) AS d,
         CAST(SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT))
              AS BIGINT) AS y
  FROM lineitem GROUP BY 1),
lg AS (SELECT CAST(i AS BIGINT) AS lag FROM range(0, 15) t(i)),
j AS (
  SELECT lg.lag, xd.x, yd.y
  FROM lg JOIN xd ON TRUE JOIN yd ON yd.d = xd.d + lg.lag),
s AS (
  SELECT lag, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(CAST(SUM(CAST(x AS DECIMAL(38,0)) * x) AS VARCHAR)
              AS DOUBLE) AS sxx_d,
         CAST(CAST(SUM(CAST(y AS DECIMAL(38,0)) * y) AS VARCHAR)
              AS DOUBLE) AS syy_d,
         CAST(CAST(SUM(CAST(x AS DECIMAL(38,0)) * y) AS VARCHAR)
              AS DOUBLE) AS sxy_d
  FROM j GROUP BY lag),
cd AS (
  SELECT lag, n, CAST(n AS DOUBLE) AS n_d,
         CAST(sx AS DOUBLE) AS sx_d, CAST(sy AS DOUBLE) AS sy_d,
         sxx_d, syy_d, sxy_d
  FROM s)
SELECT lag, n AS n_days,
       ROUND({_CORR_SHAPE}, 6) AS xcorr
FROM cd ORDER BY lag
""",
    # 15-row lag dimension cross-joined onto the bounded day table
    allow={"BroadcastNestedLoopJoin"},
)
def cross_correlation_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    xd = daily_revenue_table(spark, sf_dir)
    yd = (
        _t(spark, sf_dir, "lineitem")
        .groupBy(
            F.datediff(
                F.col("l_shipdate").cast("date"),
                F.lit("1995-01-01").cast("date"),
            )
            .cast("bigint")
            .alias("d")
        )
        .agg(
            F.sum(
                F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("bigint")
            )
            .cast("bigint")
            .alias("y")
        )
    )
    lg = spark.range(0, 15).select(F.col("id").cast("bigint").alias("lag"))
    j = (
        lg
        .crossJoin(xd)
        .join(yd, yd["d"] == xd["d"] + F.col("lag"))
        .select("lag", "x", "y")
    )
    s = j.groupBy("lag").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.expr("CAST(x AS DECIMAL(38,0)) * x"))
        .cast("string")
        .cast("double")
        .alias("sxx_d"),
        F.sum(F.expr("CAST(y AS DECIMAL(38,0)) * y"))
        .cast("string")
        .cast("double")
        .alias("syy_d"),
        F.sum(F.expr("CAST(x AS DECIMAL(38,0)) * y"))
        .cast("string")
        .cast("double")
        .alias("sxy_d"),
    )
    cd = s.select(
        "lag",
        "n",
        F.col("n").cast("double").alias("n_d"),
        F.col("sx").cast("double").alias("sx_d"),
        F.col("sy").cast("double").alias("sy_d"),
        "sxx_d",
        "syy_d",
        "sxy_d",
    )
    return cd.select(
        "lag",
        F.col("n").alias("n_days"),
        F.round(F.expr(_CORR_SHAPE), 6).alias("xcorr"),
    ).orderBy("lag")


# --------------------------------------------------------------------
# 346. Brown-Forsythe variance homogeneity (Levene with median
# centers) of quantity across return flags — the variance sibling of
# #343's Kruskal-Wallis location test: per-group medians come from the
# BOUNDED quantity-domain histogram (prefix sums over ~50 values per
# group — never a per-group sort), absolute deviations stay exact via
# the x2 integer scaling (|2v - 2*median|), and the one-way ANOVA F on
# those deviations uses the one-row pivot discipline. One corpus
# groupBy total.
_LV_GROUPS = ("A", "N", "R")
_LV_PIVOT_SQL = ",\n         ".join(
    f"MAX(CASE WHEN grp = '{g}' THEN n_g END) AS n_{g.lower()},\n"
    f"         MAX(CASE WHEN grp = '{g}' THEN s_g END) AS s_{g.lower()},\n"
    f"         MAX(CASE WHEN grp = '{g}' THEN ss_g END) AS ss_{g.lower()}"
    for g in _LV_GROUPS
)
_LV_CAST_SQL = ",\n       ".join(
    f"CAST(n_{g.lower()} AS DOUBLE) AS n_{g.lower()}_d,\n"
    f"       CAST(s_{g.lower()} AS DOUBLE) AS s_{g.lower()}_d,\n"
    f"       CAST(ss_{g.lower()} AS DOUBLE) AS ss_{g.lower()}_d"
    for g in _LV_GROUPS
)
_LV_S = " + ".join(f"s_{g.lower()}_d" for g in _LV_GROUPS)
_LV_SS = " + ".join(f"ss_{g.lower()}_d" for g in _LV_GROUPS)
_LV_SQN = " + ".join(
    f"s_{g.lower()}_d * s_{g.lower()}_d / n_{g.lower()}_d"
    for g in _LV_GROUPS
)


@query(
    "levene_quantity_flag",
    oracle=f"""
WITH h AS (
  SELECT l_returnflag AS grp,
         CAST(FLOOR(l_quantity + 0.5) AS BIGINT) AS v,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM lineitem GROUP BY 1, 2),
cum AS (
  SELECT grp, v, c,
         CAST(SUM(c) OVER (PARTITION BY grp ORDER BY v) AS BIGINT)
           AS cc,
         CAST(SUM(c) OVER (PARTITION BY grp) AS BIGINT) AS n_g
  FROM h),
med AS (
  SELECT grp, CAST(2 * MIN(CASE WHEN 2 * cc >= n_g THEN v END)
                   AS BIGINT) AS med2
  FROM cum GROUP BY grp),
z AS (
  SELECT h.grp, h.c, ABS(2 * h.v - med.med2) AS z2
  FROM h JOIN med ON h.grp = med.grp),
gs AS (
  SELECT grp, CAST(SUM(c) AS BIGINT) AS n_g,
         CAST(SUM(c * z2) AS BIGINT) AS s_g,
         CAST(SUM(c * z2 * z2) AS BIGINT) AS ss_g
  FROM z GROUP BY grp),
pv AS (
  SELECT {_LV_PIVOT_SQL},
         CAST(SUM(n_g) AS BIGINT) AS n
  FROM gs),
cd AS (
  SELECT n, CAST(n AS DOUBLE) AS n_d,
       {_LV_CAST_SQL}
  FROM pv)
SELECT n,
       ROUND(((({_LV_SQN}) - ({_LV_S}) * ({_LV_S}) / n_d) / 2.0)
             / ((({_LV_SS}) - ({_LV_SQN})) / (n_d - 3.0)), 6)
         AS bf_f_stat
FROM cd
""",
)
def levene_quantity_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("grp"),
        F.floor(F.col("l_quantity") + 0.5).cast("bigint").alias("v"),
    )
    h = li.groupBy("grp", "v").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    # domain-bounded windows (~50 quantity values per group)
    cum = h.select(
        "grp",
        "v",
        "c",
        F.sum("c")
        .over(Window.partitionBy("grp").orderBy("v"))
        .cast("bigint")
        .alias("cc"),
        F.sum("c")
        .over(Window.partitionBy("grp"))
        .cast("bigint")
        .alias("n_g"),
    )
    med = cum.groupBy("grp").agg(
        (
            2
            * F.min(
                F.when(2 * F.col("cc") >= F.col("n_g"), F.col("v"))
            )
        )
        .cast("bigint")
        .alias("med2")
    )
    z = h.join(med, "grp").select(
        "grp", "c", F.abs(2 * F.col("v") - F.col("med2")).alias("z2")
    )
    gs = z.groupBy("grp").agg(
        F.sum("c").cast("bigint").alias("n_g"),
        F.sum(F.expr("c * z2")).cast("bigint").alias("s_g"),
        F.sum(F.expr("c * z2 * z2")).cast("bigint").alias("ss_g"),
    )
    pv = gs.agg(
        *[
            c
            for g in _LV_GROUPS
            for c in (
                F.max(F.when(F.col("grp") == g, F.col("n_g"))).alias(
                    f"n_{g.lower()}"
                ),
                F.max(F.when(F.col("grp") == g, F.col("s_g"))).alias(
                    f"s_{g.lower()}"
                ),
                F.max(F.when(F.col("grp") == g, F.col("ss_g"))).alias(
                    f"ss_{g.lower()}"
                ),
            )
        ],
        F.sum("n_g").cast("bigint").alias("n"),
    )
    cd = pv.select(
        "n",
        F.col("n").cast("double").alias("n_d"),
        *[
            c
            for g in _LV_GROUPS
            for c in (
                F.col(f"n_{g.lower()}").cast("double").alias(
                    f"n_{g.lower()}_d"
                ),
                F.col(f"s_{g.lower()}").cast("double").alias(
                    f"s_{g.lower()}_d"
                ),
                F.col(f"ss_{g.lower()}").cast("double").alias(
                    f"ss_{g.lower()}_d"
                ),
            )
        ],
    )
    return cd.select(
        "n",
        F.round(
            F.expr(
                f"((({_LV_SQN}) - ({_LV_S}) * ({_LV_S}) / n_d) / 2.0)"
                f" / ((({_LV_SS}) - ({_LV_SQN})) / (n_d - 3.0))"
            ),
            6,
        ).alias("bf_f_stat"),
    )


# --------------------------------------------------------------------
# 347. Lo-MacKinlay variance-ratio test on daily revenue — is the
# revenue series a random walk? VR(q) = Var(x_t - x_{t-q}) /
# (q * Var(x_t - x_{t-1})) with overlapping q-differences, population
# (MLE) variances, for q in {2, 5, 10}. Differences are positional
# LAGs over the bounded day-domain sequence (exact integers, signed);
# squared-diff sums are DEC38-exact. The three q rows are three
# selects over the SAME ~2.4k-row day table — the corpus is touched
# once by the shared daily-revenue artifact.
_VR_VAR = "(ss_d - s_d * s_d / n_d) / n_d"


def _vr_sql(q: int) -> str:
    return f"""
  SELECT CAST({q} AS BIGINT) AS q, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x - px) AS BIGINT) AS s,
         CAST(CAST(SUM(CAST(x - px AS DECIMAL(38,0)) * (x - px))
                   AS VARCHAR) AS DOUBLE) AS ss_d
  FROM (SELECT x, LAG(x, {q}) OVER (ORDER BY d) AS px FROM daily)
  WHERE px IS NOT NULL"""


@query(
    "variance_ratio_daily",
    oracle=f"""
WITH daily AS MATERIALIZED (
  SELECT datediff('day', DATE '1995-01-01', o_orderdate) AS d,
         CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
              AS BIGINT) AS x
  FROM orders GROUP BY 1),
diffs AS (
{_vr_sql(1)}
  UNION ALL
{_vr_sql(2)}
  UNION ALL
{_vr_sql(5)}
  UNION ALL
{_vr_sql(10)}),
cd AS (
  SELECT q, n, CAST(n AS DOUBLE) AS n_d, CAST(s AS DOUBLE) AS s_d,
         ss_d
  FROM diffs),
vars AS (
  SELECT q, n, {_VR_VAR} AS v FROM cd),
base AS (SELECT v AS v1 FROM vars WHERE q = 1)
SELECT q, n AS n_diffs,
       ROUND((v / CAST(q AS DOUBLE)) / v1, 6) AS variance_ratio
FROM vars, base WHERE q > 1 ORDER BY q
""",
    # 1-row q=1 variance frame cross-joined onto the 3 q rows
    allow={"BroadcastNestedLoopJoin", "GlobalWindow"},
)
def variance_ratio_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = daily_revenue_table(spark, sf_dir)
    # domain-bounded window (~2.4k day rows)
    w = Window.orderBy("d")
    parts = []
    for q in (1, 2, 5, 10):
        dq = (
            daily.select(
                "x", F.lag("x", q).over(w).alias("px")
            )
            .filter(F.col("px").isNotNull())
            .select((F.col("x") - F.col("px")).alias("dx"))
        )
        parts.append(
            dq.agg(
                F.lit(q).cast("bigint").alias("q"),
                F.count(F.lit(1)).cast("bigint").alias("n"),
                F.sum("dx").cast("bigint").alias("s"),
                F.sum(F.expr("CAST(dx AS DECIMAL(38,0)) * dx"))
                .cast("string")
                .cast("double")
                .alias("ss_d"),
            ).select("q", "n", "s", "ss_d")
        )
    diffs = parts[0]
    for p in parts[1:]:
        diffs = diffs.unionByName(p)
    cd = diffs.select(
        "q",
        "n",
        F.col("n").cast("double").alias("n_d"),
        F.col("s").cast("double").alias("s_d"),
        "ss_d",
    )
    vars_ = cd.select("q", "n", F.expr(_VR_VAR).alias("v"))
    base = vars_.filter(F.col("q") == 1).select(
        F.col("v").alias("v1")
    )
    return (
        vars_.filter(F.col("q") > 1)
        .crossJoin(base)
        .select(
            "q",
            F.col("n").alias("n_diffs"),
            F.round(
                F.expr("(v / CAST(q AS DOUBLE)) / v1"), 6
            ).alias("variance_ratio"),
        )
        .orderBy("q")
    )


# --------------------------------------------------------------------
# 348. Grubbs extreme-outlier test on daily revenue — which single day
# deviates most from the mean, and is it statistically extreme?
# G = max|x - mean| / s. The deviation argmax stays EXACT by scaling:
# |x*n - S1| is an exact integer (cents * day-count fits int64 at any
# SF because the day domain is calendar-bounded), so the offending day
# is found by integer comparison with a min-day tie-break — no double
# argmax. Only the final G is a double, one identical shape on both
# engines (sample variance, n-1).
@query(
    "grubbs_outlier_daily",
    oracle="""
WITH daily AS MATERIALIZED (
  SELECT datediff('day', DATE '1995-01-01', o_orderdate) AS d,
         CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
              AS BIGINT) AS x
  FROM orders GROUP BY 1),
s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS s1,
         CAST(CAST(SUM(CAST(x AS DECIMAL(38,0)) * x) AS VARCHAR)
              AS DOUBLE) AS ss_d
  FROM daily),
dev AS (
  SELECT d, ABS(x * n - s1) AS dv, n, s1, ss_d
  FROM daily, s),
mx AS (SELECT MAX(dv) AS mdv FROM dev),
pick AS (
  SELECT MIN(d) AS day_idx, MAX(dv) AS dv,
         MAX(n) AS n, MAX(s1) AS s1, MAX(ss_d) AS ss_d
  FROM dev, mx WHERE dev.dv = mx.mdv)
SELECT n, day_idx,
       ROUND((CAST(dv AS DOUBLE) / CAST(n AS DOUBLE))
             / SQRT((ss_d - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
                            / CAST(n AS DOUBLE))
                    / (CAST(n AS DOUBLE) - 1.0)), 6) AS g_stat
FROM pick
""",
    # 1-row moment/max frames cross-joined onto the day table
    allow={"BroadcastNestedLoopJoin"},
)
def grubbs_outlier_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = daily_revenue_table(spark, sf_dir)
    s = daily.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("s1"),
        F.sum(F.expr("CAST(x AS DECIMAL(38,0)) * x"))
        .cast("string")
        .cast("double")
        .alias("ss_d"),
    )
    dev = daily.crossJoin(s).select(
        "d",
        F.abs(F.col("x") * F.col("n") - F.col("s1")).alias("dv"),
        "n",
        "s1",
        "ss_d",
    )
    mx = dev.agg(F.max("dv").alias("mdv"))
    pick = (
        dev.crossJoin(mx)
        .filter(F.col("dv") == F.col("mdv"))
        .agg(
            F.min("d").alias("day_idx"),
            F.max("dv").alias("dv"),
            F.max("n").alias("n"),
            F.max("s1").alias("s1"),
            F.max("ss_d").alias("ss_d"),
        )
    )
    return pick.select(
        "n",
        "day_idx",
        F.round(
            F.expr(
                "(CAST(dv AS DOUBLE) / CAST(n AS DOUBLE))"
                " / SQRT((ss_d - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)"
                "                / CAST(n AS DOUBLE))"
                "        / (CAST(n AS DOUBLE) - 1.0))"
            ),
            6,
        ).alias("g_stat"),
    )
