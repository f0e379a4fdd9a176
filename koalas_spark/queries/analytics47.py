"""Round-9 batch-25 additions (SURVEY.md §2 extensions): the Friedman
test, the Cochran-Armitage trend test, and simplified-silhouette
cluster quality — completing the nonparametric family (#343/#346) and
giving the k-means shelf (#80) its evaluation metric.

Reference parity note: not in the reference (its surface is the frame
ops in source/koalas/dataframe.d:73-311); determinism per the repo
rules (queries/__init__.py docstring): ×2-integer average ranks,
exact integer grid distances reused from the quantized-Lloyd
machinery, per-point nano quantization before cross-row sums, and
sign-aware half-up means.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from koalas_spark.queries import query
from koalas_spark.queries.analytics import _t, daily_revenue_table

# --------------------------------------------------------------------
# 371. Friedman test of weekday effect — the blocked nonparametric
# ANOVA (#319 assumes normality, #343 ignores the week blocking;
# Friedman ranks WITHIN each complete week, so week-level level shifts
# cancel): ranks are the ×2-integer average-rank form over 7-row
# week windows (bounded), rank sums pivot to one row per the dow
# discipline, and the χ² evaluates as one identical-shape double.
_FR_SQN = " + ".join(
    f"(r2_{j}_d / 2.0) * (r2_{j}_d / 2.0)" for j in range(7)
)
_FR_PIVOT = ",\n         ".join(
    f"MAX(CASE WHEN dow = {j} THEN r2_g END) AS r2_{j}" for j in range(7)
)
_FR_CAST = ",\n       ".join(
    f"CAST(r2_{j} AS DOUBLE) AS r2_{j}_d" for j in range(7)
)


@query(
    "friedman_dow_test",
    oracle=f"""
WITH daily AS MATERIALIZED (
  SELECT datediff('day', DATE '1995-01-01', o_orderdate) AS d,
         CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
              AS BIGINT) AS x
  FROM orders GROUP BY 1),
wk AS (
  SELECT d // 7 AS w, CAST(d % 7 AS INT) AS dow, x FROM daily),
full_w AS (
  SELECT w FROM wk GROUP BY w HAVING COUNT(*) = 7),
rk AS (
  SELECT wk.w, wk.dow,
         CAST(2 * RANK() OVER (PARTITION BY wk.w ORDER BY wk.x)
              + COUNT(*) OVER (PARTITION BY wk.w, wk.x) - 1 AS BIGINT)
           AS r2
  FROM wk JOIN full_w ON wk.w = full_w.w),
gs AS (
  SELECT dow, CAST(SUM(r2) AS BIGINT) AS r2_g FROM rk GROUP BY dow),
nw AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM full_w),
pv AS (
  SELECT {_FR_PIVOT}
  FROM gs),
cd AS (
  SELECT n, CAST(n AS DOUBLE) AS n_d,
       {_FR_CAST}
  FROM pv, nw)
SELECT n AS n_weeks,
       ROUND(12.0 / (n_d * 7.0 * 8.0) * ({_FR_SQN})
             - 3.0 * n_d * 8.0, 6) AS friedman_chi2
FROM cd
""",
    # 1-row week-count frame cross-joined onto the 1-row dow pivot
    allow={"BroadcastNestedLoopJoin"},
)
def friedman_dow_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = daily_revenue_table(spark, sf_dir)
    wk = daily.select(
        F.expr("d div 7").alias("w"),
        F.expr("CAST(d % 7 AS INT)").alias("dow"),
        "x",
    )
    full_w = wk.groupBy("w").agg(F.count(F.lit(1)).alias("cnt")).filter(
        F.col("cnt") == 7
    ).select("w")
    j = wk.join(full_w, "w")
    # week-keyed windows (7 rows each, bounded by construction)
    rk = j.select(
        "w",
        "dow",
        (
            2 * F.rank().over(Window.partitionBy("w").orderBy("x"))
            + F.count(F.lit(1)).over(Window.partitionBy("w", "x"))
            - 1
        )
        .cast("bigint")
        .alias("r2"),
    )
    gs = rk.groupBy("dow").agg(F.sum("r2").cast("bigint").alias("r2_g"))
    nw = full_w.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    pv = gs.agg(
        *[
            F.max(F.when(F.col("dow") == j_, F.col("r2_g"))).alias(
                f"r2_{j_}"
            )
            for j_ in range(7)
        ]
    )
    cd = pv.crossJoin(nw).select(
        "n",
        F.col("n").cast("double").alias("n_d"),
        *[
            F.col(f"r2_{j_}").cast("double").alias(f"r2_{j_}_d")
            for j_ in range(7)
        ],
    )
    return cd.select(
        F.col("n").alias("n_weeks"),
        F.round(
            F.expr(
                f"12.0 / (n_d * 7.0 * 8.0) * ({_FR_SQN})"
                " - 3.0 * n_d * 8.0"
            ),
            6,
        ).alias("friedman_chi2"),
    )


# --------------------------------------------------------------------
# 372. Cochran-Armitage trend test — is the return RATE monotone in
# order quantity? (the ordered-groups refinement of #250's MI and
# #343's location test): scores w = quantity over the bounded value
# domain, exact integer sums (Σwr, Σwn, Σw²n all safely inside int64
# through sf100), one identical-shape z statistic.
@query(
    "cochran_armitage_trend",
    oracle="""
WITH g AS (
  SELECT CAST(FLOOR(l_quantity + 0.5) AS BIGINT) AS w,
         CAST(COUNT(*) AS BIGINT) AS n_v,
         CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
              AS BIGINT) AS r_v
  FROM lineitem GROUP BY 1),
s AS (
  SELECT CAST(SUM(n_v) AS BIGINT) AS n, CAST(SUM(r_v) AS BIGINT) AS r,
         CAST(SUM(w * r_v) AS BIGINT) AS swr,
         CAST(SUM(w * n_v) AS BIGINT) AS swn,
         CAST(SUM(w * w * n_v) AS BIGINT) AS swwn
  FROM g),
cd AS (
  SELECT n, r, CAST(n AS DOUBLE) AS n_d, CAST(r AS DOUBLE) AS r_d,
         CAST(swr AS DOUBLE) AS swr_d, CAST(swn AS DOUBLE) AS swn_d,
         CAST(swwn AS DOUBLE) AS swwn_d
  FROM s)
SELECT n, r,
       ROUND((swr_d - (r_d / n_d) * swn_d)
             / SQRT((r_d / n_d) * (1.0 - r_d / n_d)
                    * (swwn_d - swn_d * swn_d / n_d)), 6) AS ca_z
FROM cd
""",
)
def cochran_armitage_trend(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    g = li.groupBy(
        F.floor(F.col("l_quantity") + 0.5).cast("bigint").alias("w")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_v"),
        F.sum(
            F.when(F.col("l_returnflag") == "R", 1).otherwise(0)
        )
        .cast("bigint")
        .alias("r_v"),
    )
    s = g.agg(
        F.sum("n_v").cast("bigint").alias("n"),
        F.sum("r_v").cast("bigint").alias("r"),
        F.sum(F.expr("w * r_v")).cast("bigint").alias("swr"),
        F.sum(F.expr("w * n_v")).cast("bigint").alias("swn"),
        F.sum(F.expr("w * w * n_v")).cast("bigint").alias("swwn"),
    )
    cd = s.select(
        "n",
        "r",
        F.col("n").cast("double").alias("n_d"),
        F.col("r").cast("double").alias("r_d"),
        F.col("swr").cast("double").alias("swr_d"),
        F.col("swn").cast("double").alias("swn_d"),
        F.col("swwn").cast("double").alias("swwn_d"),
    )
    return cd.select(
        "n",
        "r",
        F.round(
            F.expr(
                "(swr_d - (r_d / n_d) * swn_d)"
                " / SQRT((r_d / n_d) * (1.0 - r_d / n_d)"
                "        * (swwn_d - swn_d * swn_d / n_d))"
            ),
            6,
        ).alias("ca_z"),
    )


# --------------------------------------------------------------------
# 373. simplified silhouette of the k-means clustering — the quality
# metric #80 ships without (simplified = distances to CENTROIDS, not
# pairwise points, which is the only silhouette that scales: O(n·k)
# not O(n²)): distances are the same exact integer grid distances the
# quantized-Lloyd machinery uses, b is the second-smallest centroid
# distance (list-sort semantics — equal-distance ties give s = 0
# exactly), s = (√b − √a)/√b is nano-quantized PER POINT before the
# per-cluster sign-aware half-up mean. The oracle replays all three
# Lloyd iterations and the silhouette tail in one chained-MATERIALIZED
# query.
_SIL_TAIL = """,
fin2 AS MATERIALIZED (
  SELECT id,
         list_sort(list(dist))[1] AS a,
         list_sort(list(dist))[2] AS b,
         CAST(MIN([dist, CAST(cl AS DOUBLE)])[2] AS BIGINT) AS cl
  FROM (SELECT v.id, c.cl, {dist} AS dist FROM v CROSS JOIN {cent} c) t
  GROUP BY id),
sil AS (
  SELECT cl,
         CAST(FLOOR(1000000000 * (CASE WHEN b = 0 THEN 0e0
               ELSE (SQRT(b) - SQRT(a)) / SQRT(b) END)) AS BIGINT)
           AS s_nano
  FROM fin2)
SELECT cl AS cluster, CAST(COUNT(*) AS BIGINT) AS n_points,
       CAST(CASE WHEN SUM(s_nano) >= 0
                 THEN (2 * SUM(s_nano) + COUNT(*)) // (2 * COUNT(*))
                 ELSE -((2 * (-SUM(s_nano)) + COUNT(*))
                        // (2 * COUNT(*)))
            END AS BIGINT) AS mean_sil_nano
FROM sil GROUP BY cl ORDER BY cl
"""


def _sil_oracle() -> str:
    from koalas_spark.queries.similarity import _kmeans_oracle_sql

    return _kmeans_oracle_sql(k=8, iters=3, dim=64, tail=_SIL_TAIL)


@query("silhouette_simplified", oracle=_sil_oracle())
def silhouette_simplified(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from koalas_spark.operators.clustering import kmeans_finish
    from koalas_spark.queries.similarity import kmeans_embeddings_core

    # session-shared training core (r13): identical (k=8, iters=3) EM
    # as #80 kmeans_clusters; the second-nearest final pass is ours
    base, centroids = kmeans_embeddings_core(spark, sf_dir)
    asn = kmeans_finish(base, centroids, second=True)
    sil = asn.select(
        F.col("cluster").alias("cl"),
        F.floor(
            1000000000
            * F.expr(
                "CASE WHEN qdist2 = 0 THEN 0e0"
                " ELSE (SQRT(CAST(qdist2 AS DOUBLE))"
                "       - SQRT(CAST(qdist AS DOUBLE)))"
                "      / SQRT(CAST(qdist2 AS DOUBLE)) END"
            )
        )
        .cast("bigint")
        .alias("s_nano"),
    )
    return (
        sil.groupBy("cl")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_points"),
            F.expr(
                "CAST(CASE WHEN SUM(s_nano) >= 0"
                " THEN (2 * SUM(s_nano) + COUNT(*)) div (2 * COUNT(*))"
                " ELSE -((2 * (-SUM(s_nano)) + COUNT(*))"
                "        div (2 * COUNT(*))) END AS BIGINT)"
            ).alias("mean_sil_nano"),
        )
        .select(
            F.col("cl").alias("cluster"), "n_points", "mean_sil_nano"
        )
        .orderBy("cluster")
    )
