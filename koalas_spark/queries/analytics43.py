"""Round-9 batch-21 additions (SURVEY.md §2 extensions): Kendall
tau-b rank correlation, partial autocorrelation via Durbin-Levinson,
and the local clustering coefficient on the co-purchase graph.

Reference parity note: not in the reference (its surface is the frame
ops in source/koalas/dataframe.d:73-311); these extend the
stats/time-series/graph shelves under the repo determinism rules
(queries/__init__.py docstring): sign-class integer counting instead
of product comparisons (the product wraps int64 at scale), day-domain
bounded quadratics (the theil_sen #254 justification), DEC38 lag
moments, and exact cross-multiplied ppm ratios.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from koalas_spark.queries import query
from koalas_spark.queries.analytics import _t, daily_revenue_table


# --------------------------------------------------------------------
# 358. Kendall tau-b of daily revenue vs daily order count — the
# concordance twin of #342's Spearman (tau-b is what ships when ties
# matter; #268's churn metric used it on top-k lists, this is the
# numeric-series version): the corpus collapses to the day domain
# FIRST, the pairwise sweep is the bounded days-squared quadratic
# (theil_sen's #254 justification — calendar-bounded at any corpus
# size), and each pair contributes a SIGN CLASS (cx*cy in {-1,0,1} via
# CASE, never the value product, which wraps int64 once cents-diff x
# count-diff crosses 9.2e18). Tie-aware denominator, one identical-
# shape double.
@query(
    "kendall_tau_daily",
    oracle="""
WITH daily AS MATERIALIZED (
  SELECT datediff('day', DATE '1995-01-01', o_orderdate) AS d,
         CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
              AS BIGINT) AS x,
         CAST(COUNT(*) AS BIGINT) AS y
  FROM orders GROUP BY 1),
pr AS (
  SELECT CASE WHEN b.x > a.x THEN 1 WHEN b.x < a.x THEN -1 ELSE 0 END
           AS cx,
         CASE WHEN b.y > a.y THEN 1 WHEN b.y < a.y THEN -1 ELSE 0 END
           AS cy
  FROM daily a JOIN daily b ON b.d > a.d),
s AS (
  SELECT CAST(SUM(CASE WHEN cx * cy = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS c,
         CAST(SUM(CASE WHEN cx * cy = -1 THEN 1 ELSE 0 END) AS BIGINT)
           AS dct,
         CAST(SUM(CASE WHEN cx = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         CAST(SUM(CASE WHEN cy = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
         CAST(COUNT(*) AS BIGINT) AS n0
  FROM pr),
nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM daily)
SELECT n AS n_days, c AS concordant, dct AS discordant,
       ROUND((CAST(c AS DOUBLE) - CAST(dct AS DOUBLE))
             / (SQRT(CAST(n0 AS DOUBLE) - CAST(n1 AS DOUBLE))
                * SQRT(CAST(n0 AS DOUBLE) - CAST(n2 AS DOUBLE))), 6)
         AS tau_b
FROM s, nd
""",
    # 1-row day-count frame cross-joined onto the 1-row sign counts;
    # the days^2 pair sweep is a non-equi range join (d2 > d1) over
    # the bounded day domain — the theil_sen shape
    allow={"BroadcastNestedLoopJoin"},
)
def kendall_tau_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.datediff(
            F.col("o_orderdate").cast("date"),
            F.lit("1995-01-01").cast("date"),
        ).alias("d")
    ).agg(
        F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint"))
        .cast("bigint")
        .alias("x"),
        F.count(F.lit(1)).cast("bigint").alias("y"),
    )
    a = daily.select(
        F.col("d").alias("da"), F.col("x").alias("xa"), F.col("y").alias("ya")
    )
    b = daily.select(
        F.col("d").alias("db"), F.col("x").alias("xb"), F.col("y").alias("yb")
    )
    pr = a.join(b, F.col("db") > F.col("da")).select(
        F.when(F.col("xb") > F.col("xa"), 1)
        .when(F.col("xb") < F.col("xa"), -1)
        .otherwise(0)
        .alias("cx"),
        F.when(F.col("yb") > F.col("ya"), 1)
        .when(F.col("yb") < F.col("ya"), -1)
        .otherwise(0)
        .alias("cy"),
    )
    s = pr.agg(
        F.sum(F.when(F.col("cx") * F.col("cy") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("c"),
        F.sum(F.when(F.col("cx") * F.col("cy") == -1, 1).otherwise(0))
        .cast("bigint")
        .alias("dct"),
        F.sum(F.when(F.col("cx") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n1"),
        F.sum(F.when(F.col("cy") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n2"),
        F.count(F.lit(1)).cast("bigint").alias("n0"),
    )
    nd = daily.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    return s.crossJoin(nd).select(
        F.col("n").alias("n_days"),
        F.col("c").alias("concordant"),
        F.col("dct").alias("discordant"),
        F.round(
            F.expr(
                "(CAST(c AS DOUBLE) - CAST(dct AS DOUBLE))"
                " / (SQRT(CAST(n0 AS DOUBLE) - CAST(n1 AS DOUBLE))"
                "    * SQRT(CAST(n0 AS DOUBLE) - CAST(n2 AS DOUBLE)))"
            ),
            6,
        ).alias("tau_b"),
    )


# --------------------------------------------------------------------
# 359. partial autocorrelation of daily revenue, lags 1-3 — the
# AR-order diagnostic #187's ACF cannot give (PACF removes the
# shorter-lag pass-through): sample autocorrelations from EXACT lag
# moments (DEC38 cross products over the bounded day domain, one
# global mean), then the Durbin-Levinson recursion UNROLLED as fixed
# scalar algebra on a one-row frame — identical expression text on
# both engines, no iteration state.
_PACF_R = (
    "(sxy{k}_d - m * (sx{k}_d + sy{k}_d) + n{k}_d * m * m)"
    " / (ss_d - n_d * m * m)"
)


def _pacf_lag_sql(k: int) -> str:
    return f"""
  SELECT CAST({k} AS BIGINT) AS k, CAST(COUNT(*) AS BIGINT) AS nk,
         CAST(SUM(a.x) AS BIGINT) AS sxk,
         CAST(SUM(b.x) AS BIGINT) AS syk,
         CAST(CAST(SUM(CAST(a.x AS DECIMAL(38,0)) * b.x) AS VARCHAR)
              AS DOUBLE) AS sxyk_d
  FROM daily a JOIN daily b ON b.d = a.d + {k}"""


@query(
    "pacf_daily",
    oracle=f"""
WITH daily AS MATERIALIZED (
  SELECT datediff('day', DATE '1995-01-01', o_orderdate) AS d,
         CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
              AS BIGINT) AS x
  FROM orders GROUP BY 1),
g AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS s1,
         CAST(CAST(SUM(CAST(x AS DECIMAL(38,0)) * x) AS VARCHAR)
              AS DOUBLE) AS ss_d
  FROM daily),
lags AS (
{_pacf_lag_sql(1)}
  UNION ALL
{_pacf_lag_sql(2)}
  UNION ALL
{_pacf_lag_sql(3)}),
pv AS (
  SELECT
    MAX(CASE WHEN k = 1 THEN CAST(nk AS DOUBLE) END) AS n1_d,
    MAX(CASE WHEN k = 1 THEN CAST(sxk AS DOUBLE) END) AS sx1_d,
    MAX(CASE WHEN k = 1 THEN CAST(syk AS DOUBLE) END) AS sy1_d,
    MAX(CASE WHEN k = 1 THEN sxyk_d END) AS sxy1_d,
    MAX(CASE WHEN k = 2 THEN CAST(nk AS DOUBLE) END) AS n2_d,
    MAX(CASE WHEN k = 2 THEN CAST(sxk AS DOUBLE) END) AS sx2_d,
    MAX(CASE WHEN k = 2 THEN CAST(syk AS DOUBLE) END) AS sy2_d,
    MAX(CASE WHEN k = 2 THEN sxyk_d END) AS sxy2_d,
    MAX(CASE WHEN k = 3 THEN CAST(nk AS DOUBLE) END) AS n3_d,
    MAX(CASE WHEN k = 3 THEN CAST(sxk AS DOUBLE) END) AS sx3_d,
    MAX(CASE WHEN k = 3 THEN CAST(syk AS DOUBLE) END) AS sy3_d,
    MAX(CASE WHEN k = 3 THEN sxyk_d END) AS sxy3_d
  FROM lags),
cd AS (
  SELECT n, CAST(n AS DOUBLE) AS n_d,
         CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS m, ss_d, pv.*
  FROM g, pv),
rr AS (
  SELECT n, {_PACF_R.format(k=1)} AS r1,
            {_PACF_R.format(k=2)} AS r2,
            {_PACF_R.format(k=3)} AS r3
  FROM cd),
dl AS (
  SELECT n, r1, r2, r3,
         (r2 - r1 * r1) / (1.0 - r1 * r1) AS p2
  FROM rr),
dl2 AS (
  SELECT n, r1, r2, r3, p2, r1 * (1.0 - p2) AS a21 FROM dl)
SELECT n AS n_days,
       ROUND(r1, 6) AS pacf1,
       ROUND(p2, 6) AS pacf2,
       ROUND((r3 - a21 * r2 - p2 * r1)
             / (1.0 - a21 * r1 - p2 * r2), 6) AS pacf3
FROM dl2
""",
    # 1-row lag-moment pivot cross-joined onto the 1-row global frame
    allow={"BroadcastNestedLoopJoin"},
)
def pacf_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = daily_revenue_table(spark, sf_dir)
    g = daily.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("s1"),
        F.sum(F.expr("CAST(x AS DECIMAL(38,0)) * x"))
        .cast("string")
        .cast("double")
        .alias("ss_d"),
    )
    parts = []
    for k in (1, 2, 3):
        a = daily.select(F.col("d"), F.col("x").alias("xa"))
        b = daily.select(
            (F.col("d") - k).alias("d"), F.col("x").alias("xb")
        )
        parts.append(
            a.join(b, "d").agg(
                F.lit(k).cast("bigint").alias("k"),
                F.count(F.lit(1)).cast("bigint").alias("nk"),
                F.sum("xa").cast("bigint").alias("sxk"),
                F.sum("xb").cast("bigint").alias("syk"),
                F.sum(F.expr("CAST(xa AS DECIMAL(38,0)) * xb"))
                .cast("string")
                .cast("double")
                .alias("sxyk_d"),
            )
        )
    lags = parts[0]
    for p in parts[1:]:
        lags = lags.unionByName(p)
    pv = lags.agg(
        *[
            c
            for k in (1, 2, 3)
            for c in (
                F.max(
                    F.when(F.col("k") == k, F.col("nk").cast("double"))
                ).alias(f"n{k}_d"),
                F.max(
                    F.when(F.col("k") == k, F.col("sxk").cast("double"))
                ).alias(f"sx{k}_d"),
                F.max(
                    F.when(F.col("k") == k, F.col("syk").cast("double"))
                ).alias(f"sy{k}_d"),
                F.max(F.when(F.col("k") == k, F.col("sxyk_d"))).alias(
                    f"sxy{k}_d"
                ),
            )
        ]
    )
    cd = g.crossJoin(pv).select(
        "n",
        F.col("n").cast("double").alias("n_d"),
        F.expr("CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)").alias("m"),
        "ss_d",
        *[
            F.col(f"{p}{k}_d")
            for k in (1, 2, 3)
            for p in ("n", "sx", "sy", "sxy")
        ],
    )
    rr = cd.select(
        "n",
        F.expr(_PACF_R.format(k=1)).alias("r1"),
        F.expr(_PACF_R.format(k=2)).alias("r2"),
        F.expr(_PACF_R.format(k=3)).alias("r3"),
    )
    dl = rr.select(
        "n",
        "r1",
        "r2",
        "r3",
        F.expr("(r2 - r1 * r1) / (1.0 - r1 * r1)").alias("p2"),
    )
    dl2 = dl.select(
        "n", "r1", "r2", "r3", "p2", F.expr("r1 * (1.0 - p2)").alias("a21")
    )
    return dl2.select(
        F.col("n").alias("n_days"),
        F.round(F.col("r1"), 6).alias("pacf1"),
        F.round(F.col("p2"), 6).alias("pacf2"),
        F.round(
            F.expr(
                "(r3 - a21 * r2 - p2 * r1)"
                " / (1.0 - a21 * r1 - p2 * r2)"
            ),
            6,
        ).alias("pacf3"),
    )


# --------------------------------------------------------------------
# 360. local clustering coefficient on the co-purchase graph — how
# clique-like is each probe item's neighborhood? (the per-node twin of
# #171's global triangle count, same #170 artifact): probes are the
# %97 sample with the standard 2 <= deg <= 256 hub cap, so wedge work
# is |probes| x cap^2 — bounded under any skew. Triangles close via
# one equi-join against the (u < v) edge set; the coefficient is an
# exact cross-multiplied ppm (2*tri*1e6 fits int64 under the cap).
# Probes with open neighborhoods report 0, not NULL.
@query(
    "local_clustering_copurchase",
    oracle="""
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
e AS MATERIALIZED (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
adj AS MATERIALIZED (
  SELECT u AS c, v AS x FROM e UNION ALL SELECT v, u FROM e),
deg AS MATERIALIZED (
  SELECT c, CAST(COUNT(*) AS BIGINT) AS dg FROM adj GROUP BY c),
probes AS MATERIALIZED (
  SELECT c AS u, dg FROM deg
  WHERE c % 97 = 0 AND dg >= 2 AND dg <= 256),
wedges AS (
  SELECT p.u, p.dg, a1.x AS c1, a2.x AS c2
  FROM probes p
  JOIN adj a1 ON a1.c = p.u
  JOIN adj a2 ON a2.c = p.u AND a2.x > a1.x),
tri AS (
  SELECT w.u, CAST(COUNT(*) AS BIGINT) AS t
  FROM wedges w JOIN e ON e.u = w.c1 AND e.v = w.c2
  GROUP BY w.u)
SELECT p.u, p.dg AS degree,
       CAST(COALESCE(tri.t, 0) AS BIGINT) AS triangles,
       CAST((2 * COALESCE(tri.t, 0) * 1000000)
            // (p.dg * (p.dg - 1)) AS BIGINT) AS lcc_ppm
FROM probes p LEFT JOIN tri ON tri.u = p.u
ORDER BY p.u
""",
)
def local_clustering_copurchase(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from koalas_spark.queries.mining import (
        _copurchase_edge_set,
        bcast_e,
        bcast_v,
        copurchase_degree_table,
        symmetric,
    )

    e = _copurchase_edge_set(spark, sf_dir)
    adj = symmetric(e).toDF("c", "x")
    # degrees from the materialized |V|-sized artifact (round 12)
    deg = copurchase_degree_table(spark, sf_dir).select(
        F.col("x").alias("c"), "dg"
    )
    probes = deg.filter(
        (F.col("c") % 97 == 0) & (F.col("dg") >= 2) & (F.col("dg") <= 256)
    ).select(F.col("c").alias("u"), "dg")
    a1 = adj.select(F.col("c").alias("u"), F.col("x").alias("c1"))
    a2 = adj.select(F.col("c").alias("u"), F.col("x").alias("c2"))
    # r14 (guide §3.1, the jaccard-family r13 treatment): the probe
    # set is a ≤|V|/97 slice of the degree table — broadcasting it
    # under the bcast_v gate lets the 2|E|-row adjacency STREAM
    # through both wedge joins (was: adj sort-merge-shuffled on u
    # twice just to keep ~200 probes). The closing edge lookup rides
    # the |E|-gate (bcast_e) like the wedge family's closing joins.
    # Above the gates the shuffle joins return unchanged.
    w1 = bcast_v(probes, sf_dir).join(a1, "u")
    # the half-open wedge frame is Σ_probe dg ≤ (|V|/97)·256 rows of
    # three longs — about 2.6 rows per node, ~4× what the |V| gate was
    # calibrated for — so it rides the |E| gate
    wedges = (
        bcast_e(w1, sf_dir)
        .join(a2, "u")
        .filter(F.col("c2") > F.col("c1"))
        .select("u", "dg", "c1", "c2")
    )
    tri = (
        wedges.join(
            bcast_e(
                e.select(F.col("u").alias("c1"), F.col("v").alias("c2")),
                sf_dir,
            ),
            ["c1", "c2"],
        )
        .groupBy("u")
        .agg(F.count(F.lit(1)).cast("bigint").alias("t"))
    )
    return (
        probes.join(tri, "u", "left")
        .select(
            "u",
            F.col("dg").alias("degree"),
            F.coalesce(F.col("t"), F.lit(0))
            .cast("bigint")
            .alias("triangles"),
            F.expr(
                "CAST((2 * COALESCE(t, 0) * 1000000)"
                " div (dg * (dg - 1)) AS BIGINT)"
            ).alias("lcc_ppm"),
        )
        .orderBy("u")
    )
