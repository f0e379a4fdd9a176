"""Round-9 batch-16 additions (SURVEY.md §2 extensions): classical
statistical tests the 288-op stats shelf still lacked — Jarque-Bera
normality, Spearman rank correlation, Kruskal-Wallis, and Cramér's V.

Reference parity note: not in the reference (its surface is the frame
ops in source/koalas/dataframe.d:73-311); these extend the stats shelf
under the repo determinism rules (queries/__init__.py docstring):
exact decimal power sums with the VARCHAR->DOUBLE hop, the one-row
pivot discipline for cross-group double arithmetic (no double SUM over
group rows), bounded-domain histogram ranks instead of corpus sorts,
and identical double expression shapes on both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from koalas_spark.queries import query
from koalas_spark.queries.analytics import _t


# --------------------------------------------------------------------
# 341. Jarque-Bera normality test on order value — the distribution-
# shape audit for the revenue column (pairs with #336's Poisson GoF on
# counts): raw power sums S1..S4 over o_totalprice cents are EXACT
# (S2 as DECIMAL(38) of int64 squares, S3/S4 via the precedent
# DEC38*BIGINT chain — c^4 sums stay under 1e38 through sf100), then
# ONE fixed double sequence for the central moments, skewness, excess
# kurtosis, and JB = n/6*(S^2 + (K-3)^2/4). The corpus is touched by
# exactly one map-side-combined aggregate; everything after is a
# 1-row select.
_JB_MOMENTS = (
    "q2 - m * m",
    "q3 - 3.0 * m * q2 + 2.0 * m * m * m",
    "q4 - 4.0 * m * q3 + 6.0 * m * m * q2 - 3.0 * m * m * m * m",
)


@query(
    "jarque_bera_ordervalue",
    oracle=f"""
WITH c AS (
  SELECT CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS c
  FROM orders),
s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(CAST(SUM(c) AS VARCHAR) AS DOUBLE) AS s1,
         CAST(CAST(SUM(CAST(c * c AS DECIMAL(38,0))) AS VARCHAR)
              AS DOUBLE) AS s2,
         CAST(CAST(SUM(CAST(c * c AS DECIMAL(38,0)) * c) AS VARCHAR)
              AS DOUBLE) AS s3,
         CAST(CAST(SUM(CAST(c * c AS DECIMAL(38,0)) * (c * c))
                   AS VARCHAR) AS DOUBLE) AS s4
  FROM c),
q AS (
  SELECT n, CAST(n AS DOUBLE) AS n_d,
         s1 / CAST(n AS DOUBLE) AS m,
         s2 / CAST(n AS DOUBLE) AS q2,
         s3 / CAST(n AS DOUBLE) AS q3,
         s4 / CAST(n AS DOUBLE) AS q4
  FROM s),
mm AS (
  SELECT n, n_d,
         {_JB_MOMENTS[0]} AS m2,
         {_JB_MOMENTS[1]} AS m3,
         {_JB_MOMENTS[2]} AS m4
  FROM q),
sk AS (
  SELECT n, n_d,
         m3 / (m2 * SQRT(m2)) AS skew,
         m4 / (m2 * m2) AS kurt
  FROM mm)
SELECT n, ROUND(skew, 6) AS skewness, ROUND(kurt, 6) AS kurtosis,
       ROUND((n_d / 6.0)
             * (skew * skew
                + 0.25 * (kurt - 3.0) * (kurt - 3.0)), 6) AS jb_stat
FROM sk
""",
)
def jarque_bera_ordervalue(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").select(
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint").alias("c")
    )
    s = o.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("c").cast("string").cast("double").alias("s1"),
        F.sum(F.expr("CAST(c * c AS DECIMAL(38,0))"))
        .cast("string")
        .cast("double")
        .alias("s2"),
        F.sum(F.expr("CAST(c * c AS DECIMAL(38,0)) * c"))
        .cast("string")
        .cast("double")
        .alias("s3"),
        F.sum(F.expr("CAST(c * c AS DECIMAL(38,0)) * (c * c)"))
        .cast("string")
        .cast("double")
        .alias("s4"),
    )
    q = s.select(
        "n",
        F.col("n").cast("double").alias("n_d"),
        F.expr("s1 / CAST(n AS DOUBLE)").alias("m"),
        F.expr("s2 / CAST(n AS DOUBLE)").alias("q2"),
        F.expr("s3 / CAST(n AS DOUBLE)").alias("q3"),
        F.expr("s4 / CAST(n AS DOUBLE)").alias("q4"),
    )
    mm = q.select(
        "n",
        "n_d",
        F.expr(_JB_MOMENTS[0]).alias("m2"),
        F.expr(_JB_MOMENTS[1]).alias("m3"),
        F.expr(_JB_MOMENTS[2]).alias("m4"),
    )
    sk = mm.select(
        "n",
        "n_d",
        F.expr("m3 / (m2 * SQRT(m2))").alias("skew"),
        F.expr("m4 / (m2 * m2)").alias("kurt"),
    )
    return sk.select(
        "n",
        F.round(F.col("skew"), 6).alias("skewness"),
        F.round(F.col("kurt"), 6).alias("kurtosis"),
        F.round(
            F.expr(
                "(n_d / 6.0)"
                " * (skew * skew"
                "    + 0.25 * (kurt - 3.0) * (kurt - 3.0))"
            ),
            6,
        ).alias("jb_stat"),
    )


# --------------------------------------------------------------------
# 342. Spearman rank correlation of daily revenue vs daily order count
# — the monotone-association twin of #70's Pearson: the corpus
# collapses to the bounded day domain FIRST (one map-side-combined
# groupBy), then average ranks with tie handling are computed as
# EXACT integers (2*avg_rank = 2*RANK + ties - 1, so half-ranks never
# become doubles) over the ~2400-day frame — the unpartitioned windows
# run on the DOMAIN, not the corpus, the same justification as
# theil_sen (#254). Rank moments are exact BIGINT sums (ranks <= 2n,
# squares * days stay far under 2^63 at any corpus size because the
# day domain is calendar-bounded); the final rho is one identical-
# shape double expression.
@query(
    "spearman_daily_rank_corr",
    oracle="""
WITH daily AS (
  SELECT datediff('day', DATE '1995-01-01', o_orderdate) AS d,
         CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
              AS BIGINT) AS x,
         CAST(COUNT(*) AS BIGINT) AS y
  FROM orders GROUP BY 1),
r AS (
  SELECT CAST(2 * RANK() OVER (ORDER BY x)
              + COUNT(*) OVER (PARTITION BY x) - 1 AS BIGINT) AS rx,
         CAST(2 * RANK() OVER (ORDER BY y)
              + COUNT(*) OVER (PARTITION BY y) - 1 AS BIGINT) AS ry
  FROM daily),
s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(rx) AS BIGINT) AS sx, CAST(SUM(ry) AS BIGINT) AS sy,
         CAST(SUM(rx * rx) AS BIGINT) AS sxx,
         CAST(SUM(ry * ry) AS BIGINT) AS syy,
         CAST(SUM(rx * ry) AS BIGINT) AS sxy
  FROM r)
SELECT n,
       ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / (SQRT(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                * SQRT(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                       - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
         AS spearman_rho
FROM s
""",
    allow={"GlobalWindow"},
)
def spearman_daily_rank_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("1995-01-01").cast("date")).alias("d")
    ).agg(
        F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint"))
        .cast("bigint")
        .alias("x"),
        F.count(F.lit(1)).cast("bigint").alias("y"),
    )
    # domain-bounded windows (~2400 day rows), not corpus-sized
    r = daily.select(
        (
            2 * F.rank().over(Window.orderBy("x"))
            + F.count(F.lit(1)).over(Window.partitionBy("x"))
            - 1
        )
        .cast("bigint")
        .alias("rx"),
        (
            2 * F.rank().over(Window.orderBy("y"))
            + F.count(F.lit(1)).over(Window.partitionBy("y"))
            - 1
        )
        .cast("bigint")
        .alias("ry"),
    )
    s = r.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("rx").cast("bigint").alias("sx"),
        F.sum("ry").cast("bigint").alias("sy"),
        F.sum(F.expr("rx * rx")).cast("bigint").alias("sxx"),
        F.sum(F.expr("ry * ry")).cast("bigint").alias("syy"),
        F.sum(F.expr("rx * ry")).cast("bigint").alias("sxy"),
    )
    return s.select(
        "n",
        F.round(
            F.expr(
                "(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)"
                " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
                " / (SQRT(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)"
                "         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
                "    * SQRT(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)"
                "           - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))"
            ),
            6,
        ).alias("spearman_rho"),
    )


# --------------------------------------------------------------------
# 343. Kruskal-Wallis H on quantity across return flags — the
# nonparametric ANOVA (rank twin of #319's F test, robust sibling of
# #302's Welch t): global ranks come from the BOUNDED value domain
# (l_quantity has ~50 distinct integers), so average ranks are
# histogram prefix sums (2*avg_rank = 2*cum_before + t + 1, exact
# integers — never a corpus sort). Per-group rank sums are exact
# (DEC38 cross products), pivoted to ONE row (A/N/R are TPC-H's full
# returnflag domain) so the H statistic and its tie correction
# evaluate in a fixed double order. One corpus groupBy total.
_KW_GROUPS = ("A", "N", "R")
_KW_PIVOT_SQL = ",\n         ".join(
    f"MAX(CASE WHEN grp = '{g}' THEN n_g END) AS n_{g.lower()},\n"
    f"         MAX(CASE WHEN grp = '{g}' THEN r2_g END) AS r2_{g.lower()}"
    for g in _KW_GROUPS
)
_KW_SQN = " + ".join(
    f"(r2_{g.lower()}_d / 2.0) * (r2_{g.lower()}_d / 2.0)"
    f" / n_{g.lower()}_d"
    for g in _KW_GROUPS
)
_KW_CAST_SQL = ",\n       ".join(
    f"CAST(n_{g.lower()} AS DOUBLE) AS n_{g.lower()}_d,\n"
    f"       CAST(CAST(r2_{g.lower()} AS VARCHAR) AS DOUBLE)"
    f" AS r2_{g.lower()}_d"
    for g in _KW_GROUPS
)


@query(
    "kruskal_wallis_quantity",
    oracle=f"""
WITH h AS (
  SELECT l_returnflag AS grp,
         CAST(FLOOR(l_quantity + 0.5) AS INT) AS v,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM lineitem GROUP BY 1, 2),
tot AS (
  SELECT v, CAST(SUM(c) AS BIGINT) AS t FROM h GROUP BY v),
rk AS (
  SELECT v, t,
         CAST(2 * (SUM(t) OVER (ORDER BY v) - t) + t + 1 AS BIGINT)
           AS r2
  FROM tot),
gs AS (
  SELECT grp, CAST(SUM(c) AS BIGINT) AS n_g,
         SUM(CAST(c AS DECIMAL(38,0)) * r2) AS r2_g
  FROM h JOIN rk USING (v) GROUP BY grp),
tie AS (
  SELECT CAST(CAST(SUM(CAST(t * t AS DECIMAL(38,0)) * t - t)
                   AS VARCHAR) AS DOUBLE) AS tie3
  FROM tot),
pv AS (
  SELECT {_KW_PIVOT_SQL},
         CAST(SUM(n_g) AS BIGINT) AS n
  FROM gs),
cd AS (
  SELECT n, CAST(n AS DOUBLE) AS n_d, tie3,
       {_KW_CAST_SQL}
  FROM pv, tie),
hh AS (
  SELECT n, n_d, tie3,
         12.0 / (n_d * (n_d + 1.0)) * ({_KW_SQN})
           - 3.0 * (n_d + 1.0) AS h_raw
  FROM cd)
SELECT n, ROUND(h_raw, 6) AS h_stat,
       ROUND(h_raw / (1.0 - tie3 / (n_d * n_d * n_d - n_d)), 6)
         AS h_tie_corrected
FROM hh
""",
    # 1-row tie-correction frame cross-joined onto the 1-row pivot
    allow={"BroadcastNestedLoopJoin", "GlobalWindow"},
)
def kruskal_wallis_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("grp"),
        F.floor(F.col("l_quantity") + 0.5).cast("int").alias("v"),
    )
    h = li.groupBy("grp", "v").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    tot = h.groupBy("v").agg(F.sum("c").cast("bigint").alias("t"))
    # domain-bounded window (~50 distinct quantities)
    rk = tot.select(
        "v",
        "t",
        (
            2 * (F.sum("t").over(Window.orderBy("v")) - F.col("t"))
            + F.col("t")
            + 1
        )
        .cast("bigint")
        .alias("r2"),
    )
    gs = (
        h.join(rk.select("v", "r2"), "v")
        .groupBy("grp")
        .agg(
            F.sum("c").cast("bigint").alias("n_g"),
            F.sum(F.expr("CAST(c AS DECIMAL(38,0)) * r2")).alias("r2_g"),
        )
    )
    tie = tot.agg(
        F.sum(F.expr("CAST(t * t AS DECIMAL(38,0)) * t - t"))
        .cast("string")
        .cast("double")
        .alias("tie3")
    )
    pv = gs.agg(
        *[
            c
            for g in _KW_GROUPS
            for c in (
                F.max(F.when(F.col("grp") == g, F.col("n_g"))).alias(
                    f"n_{g.lower()}"
                ),
                F.max(F.when(F.col("grp") == g, F.col("r2_g"))).alias(
                    f"r2_{g.lower()}"
                ),
            )
        ],
        F.sum("n_g").cast("bigint").alias("n"),
    )
    cd = pv.crossJoin(tie).select(
        "n",
        F.col("n").cast("double").alias("n_d"),
        "tie3",
        *[
            c
            for g in _KW_GROUPS
            for c in (
                F.col(f"n_{g.lower()}").cast("double").alias(
                    f"n_{g.lower()}_d"
                ),
                F.col(f"r2_{g.lower()}")
                .cast("string")
                .cast("double")
                .alias(f"r2_{g.lower()}_d"),
            )
        ],
    )
    hh = cd.select(
        "n",
        "n_d",
        "tie3",
        F.expr(
            f"12.0 / (n_d * (n_d + 1.0)) * ({_KW_SQN})"
            " - 3.0 * (n_d + 1.0)"
        ).alias("h_raw"),
    )
    return hh.select(
        "n",
        F.round(F.col("h_raw"), 6).alias("h_stat"),
        F.round(
            F.expr("h_raw / (1.0 - tie3 / (n_d * n_d * n_d - n_d))"),
            6,
        ).alias("h_tie_corrected"),
    )


# --------------------------------------------------------------------
# 344. Cramér's V between return flag and line status — the
# categorical-association audit (effect-size companion to the chi²
# machinery in #218's feature selection): the 3x2 contingency table is
# one map-side-combined groupBy; cells pivot to ONE row (COALESCE 0
# for the structurally-rare combinations), expected counts and the six
# chi² terms evaluate as ONE fixed-order double expression — no double
# SUM over cell rows. V = sqrt(chi2 / n) since min(r,c)-1 = 1.
_CV_CELLS = [
    (rf, ls) for rf in ("A", "N", "R") for ls in ("F", "O")
]
_CV_PIVOT_SQL = ",\n         ".join(
    f"COALESCE(MAX(CASE WHEN rf = '{rf}' AND ls = '{ls}'"
    f" THEN c END), 0) AS c_{rf.lower()}{ls.lower()}"
    for rf, ls in _CV_CELLS
)
_CV_ROWS_SQL = ",\n       ".join(
    f"CAST(c_{rf.lower()}f + c_{rf.lower()}o AS DOUBLE)"
    f" AS r_{rf.lower()}"
    for rf in ("A", "N", "R")
)
_CV_COLS_SQL = ",\n       ".join(
    f"CAST(c_a{ls.lower()} + c_n{ls.lower()} + c_r{ls.lower()}"
    f" AS DOUBLE) AS k_{ls.lower()}"
    for ls in ("F", "O")
)
_CV_CHI2 = " + ".join(
    f"(CAST(c_{rf.lower()}{ls.lower()} AS DOUBLE)"
    f" - r_{rf.lower()} * k_{ls.lower()} / n_d)"
    f" * (CAST(c_{rf.lower()}{ls.lower()} AS DOUBLE)"
    f" - r_{rf.lower()} * k_{ls.lower()} / n_d)"
    f" / (r_{rf.lower()} * k_{ls.lower()} / n_d)"
    for rf, ls in _CV_CELLS
)


@query(
    "cramers_v_flag_status",
    oracle=f"""
WITH cells AS (
  SELECT l_returnflag AS rf, l_linestatus AS ls,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM lineitem GROUP BY 1, 2),
pv AS (
  SELECT {_CV_PIVOT_SQL},
         CAST(SUM(c) AS BIGINT) AS n
  FROM cells),
cd AS (
  SELECT n, CAST(n AS DOUBLE) AS n_d,
       c_af, c_ao, c_nf, c_no, c_rf, c_ro,
       {_CV_ROWS_SQL},
       {_CV_COLS_SQL}
  FROM pv),
x2 AS (
  SELECT n, n_d, {_CV_CHI2} AS chi2_raw FROM cd)
SELECT n, ROUND(chi2_raw, 6) AS chi2,
       ROUND(SQRT(chi2_raw / n_d), 6) AS cramers_v
FROM x2
""",
)
def cramers_v_flag_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("rf"),
        F.col("l_linestatus").alias("ls"),
    )
    cells = li.groupBy("rf", "ls").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    pv = cells.agg(
        *[
            F.coalesce(
                F.max(
                    F.when(
                        (F.col("rf") == rf) & (F.col("ls") == ls),
                        F.col("c"),
                    )
                ),
                F.lit(0),
            ).alias(f"c_{rf.lower()}{ls.lower()}")
            for rf, ls in _CV_CELLS
        ],
        F.sum("c").cast("bigint").alias("n"),
    )
    cd = pv.select(
        "n",
        F.col("n").cast("double").alias("n_d"),
        "c_af",
        "c_ao",
        "c_nf",
        "c_no",
        "c_rf",
        "c_ro",
        *[
            F.expr(
                f"CAST(c_{rf.lower()}f + c_{rf.lower()}o AS DOUBLE)"
            ).alias(f"r_{rf.lower()}")
            for rf in ("A", "N", "R")
        ],
        *[
            F.expr(
                f"CAST(c_a{ls.lower()} + c_n{ls.lower()}"
                f" + c_r{ls.lower()} AS DOUBLE)"
            ).alias(f"k_{ls.lower()}")
            for ls in ("F", "O")
        ],
    )
    x2 = cd.select(
        "n", "n_d", F.expr(_CV_CHI2).alias("chi2_raw")
    )
    return x2.select(
        "n",
        F.round(F.col("chi2_raw"), 6).alias("chi2"),
        F.round(F.expr("SQRT(chi2_raw / n_d)"), 6).alias("cramers_v"),
    )
