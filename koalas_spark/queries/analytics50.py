"""Round-9 batch-28 additions (SURVEY.md §2 extensions): Atkinson
inequality, per-group distribution shape, and rank-biased overlap of
token rankings.

Reference parity note: not in the reference (its surface is the frame
ops in source/koalas/dataframe.d:73-311); determinism per the repo
rules (queries/__init__.py docstring): per-value nano-ln before sums,
exact DEC38 power-sum chains, per-depth nano quantization for the RBO
series, e-notation literals.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from koalas_spark.queries import query
from koalas_spark.queries.analytics import _t


# --------------------------------------------------------------------
# 383. Atkinson inequality index (epsilon = 1) of order values — the
# welfare-weighted inequality measure next to #90's Gini and #249's
# HHI: A1 = 1 - geomean/mean, with the geometric mean from per-value
# nano-ln integer sums (#282's discipline) and the arithmetic mean
# from the exact cents sum. One corpus aggregate; the final double is
# one identical shape.
@query(
    "atkinson_index_revenue",
    oracle="""
WITH c AS (
  SELECT CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS c
  FROM orders),
s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(c) AS BIGINT) AS s1,
         CAST(SUM(CAST(FLOOR(1000000000 * LN(CAST(c AS DOUBLE)))
                       AS BIGINT)) AS BIGINT) AS sln
  FROM c)
SELECT n,
       ROUND(1e0 - EXP(CAST(sln // n AS DOUBLE) / 1000000000e0)
                   / (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)), 6)
         AS atkinson_1
FROM s
""",
)
def atkinson_index_revenue(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    c = _t(spark, sf_dir, "orders").select(
        F.floor(F.col("o_totalprice") * 100 + 0.5)
        .cast("bigint")
        .alias("c")
    )
    s = c.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("c").cast("bigint").alias("s1"),
        F.sum(
            F.floor(
                1000000000 * F.log(F.col("c").cast("double"))
            ).cast("bigint")
        )
        .cast("bigint")
        .alias("sln"),
    )
    return s.select(
        "n",
        F.round(
            F.expr(
                "1e0 - EXP(CAST(sln div n AS DOUBLE) / 1000000000e0)"
                " / (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))"
            ),
            6,
        ).alias("atkinson_1"),
    )


# --------------------------------------------------------------------
# 384. per-priority value skewness/kurtosis — #341's Jarque-Bera
# moments, grouped: the DEC38 power-sum chain per priority (five group
# rows), with every double expression reading ONLY its own row — the
# cross-row pivot discipline is unnecessary when no double ever
# aggregates across groups. One corpus groupBy.
_PS_MOM = (
    "q2 - m * m",
    "q3 - 3.0 * m * q2 + 2.0 * m * m * m",
    "q4 - 4.0 * m * q3 + 6.0 * m * m * q2 - 3.0 * m * m * m * m",
)


@query(
    "priority_value_skewness",
    oracle=f"""
WITH s AS (
  SELECT o_orderpriority AS priority,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                   AS VARCHAR) AS DOUBLE) AS s1,
         CAST(CAST(SUM(CAST(CAST(FLOOR(o_totalprice * 100 + 0.5)
                                 AS BIGINT)
                            * CAST(FLOOR(o_totalprice * 100 + 0.5)
                                   AS BIGINT) AS DECIMAL(38,0)))
                   AS VARCHAR) AS DOUBLE) AS s2,
         CAST(CAST(SUM(CAST(CAST(FLOOR(o_totalprice * 100 + 0.5)
                                 AS BIGINT)
                            * CAST(FLOOR(o_totalprice * 100 + 0.5)
                                   AS BIGINT) AS DECIMAL(38,0))
                       * CAST(FLOOR(o_totalprice * 100 + 0.5)
                              AS BIGINT))
                   AS VARCHAR) AS DOUBLE) AS s3,
         CAST(CAST(SUM(CAST(CAST(FLOOR(o_totalprice * 100 + 0.5)
                                 AS BIGINT)
                            * CAST(FLOOR(o_totalprice * 100 + 0.5)
                                   AS BIGINT) AS DECIMAL(38,0))
                       * (CAST(FLOOR(o_totalprice * 100 + 0.5)
                               AS BIGINT)
                          * CAST(FLOOR(o_totalprice * 100 + 0.5)
                                 AS BIGINT)))
                   AS VARCHAR) AS DOUBLE) AS s4
  FROM orders GROUP BY 1),
q AS (
  SELECT priority, n,
         s1 / CAST(n AS DOUBLE) AS m,
         s2 / CAST(n AS DOUBLE) AS q2,
         s3 / CAST(n AS DOUBLE) AS q3,
         s4 / CAST(n AS DOUBLE) AS q4
  FROM s),
mm AS (
  SELECT priority, n,
         {_PS_MOM[0]} AS m2, {_PS_MOM[1]} AS m3, {_PS_MOM[2]} AS m4
  FROM q)
SELECT priority, n,
       ROUND(m3 / (m2 * SQRT(m2)), 6) AS skewness,
       ROUND(m4 / (m2 * m2), 6) AS kurtosis
FROM mm ORDER BY priority
""",
)
def priority_value_skewness(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    o = _t(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("priority"),
        F.floor(F.col("o_totalprice") * 100 + 0.5)
        .cast("bigint")
        .alias("c"),
    )
    s = o.groupBy("priority").agg(
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
        "priority",
        "n",
        F.expr("s1 / CAST(n AS DOUBLE)").alias("m"),
        F.expr("s2 / CAST(n AS DOUBLE)").alias("q2"),
        F.expr("s3 / CAST(n AS DOUBLE)").alias("q3"),
        F.expr("s4 / CAST(n AS DOUBLE)").alias("q4"),
    )
    mm = q.select(
        "priority",
        "n",
        F.expr(_PS_MOM[0]).alias("m2"),
        F.expr(_PS_MOM[1]).alias("m3"),
        F.expr(_PS_MOM[2]).alias("m4"),
    )
    return mm.select(
        "priority",
        "n",
        F.round(F.expr("m3 / (m2 * SQRT(m2))"), 6).alias("skewness"),
        F.round(F.expr("m4 / (m2 * m2)"), 6).alias("kurtosis"),
    ).orderBy("priority")


# --------------------------------------------------------------------
# 385. rank-biased overlap of the two corpus halves' token rankings —
# the modern top-weighted list similarity (what #268's Kendall-on-
# top-k underweights: RBO cares most about the head): top-50 token
# lists of even-id vs odd-id documents, overlap-at-depth from the
# max-rank histogram of shared tokens (never a per-depth set
# intersection), each depth's (1-p)p^(d-1)/d weight is a PRECOMPUTED
# LITERAL shipped to both engines (POWER is libm — JVM and DuckDB
# pow() disagree by 1 ulp, which flipped a FLOOR boundary in the
# first cut), so the per-depth nano term is one multiply of identical
# doubles. Truncated at depth 50 (documented; the p^50 tail bound is
# < 0.006 of the mass at p = 0.9).
_RBO_D = 50
_RBO_W = [
    (d, (1.0 - 0.9) * (0.9 ** (d - 1)) / d)
    for d in range(1, _RBO_D + 1)
]
_RBO_W_SQL = ", ".join(f"({d}, {w:.17e})" for d, w in _RBO_W)


@query(
    "rbo_token_halves",
    oracle=f"""
WITH tok AS (
  SELECT doc_id % 2 AS half,
         unnest(string_split_regex(TRIM(text), '\\s+')) AS token
  FROM documents),
cnt AS MATERIALIZED (
  SELECT half, token, CAST(COUNT(*) AS BIGINT) AS c
  FROM tok GROUP BY 1, 2),
ra AS MATERIALIZED (
  SELECT token, rk FROM (
    SELECT token, ROW_NUMBER() OVER (ORDER BY c DESC, token ASC) AS rk
    FROM cnt WHERE half = 0) t WHERE rk <= {_RBO_D}),
rb AS MATERIALIZED (
  SELECT token, rk FROM (
    SELECT token, ROW_NUMBER() OVER (ORDER BY c DESC, token ASC) AS rk
    FROM cnt WHERE half = 1) t WHERE rk <= {_RBO_D}),
shared AS (
  SELECT CASE WHEN ra.rk > rb.rk THEN ra.rk ELSE rb.rk END AS m
  FROM ra JOIN rb ON ra.token = rb.token),
depths AS (SELECT CAST(d AS BIGINT) AS d, w
           FROM (VALUES {_RBO_W_SQL}) AS t(d, w)),
ov AS (
  SELECT depths.d, depths.w,
         CAST((SELECT COUNT(*) FROM shared WHERE shared.m <= depths.d)
              AS BIGINT) AS o
  FROM depths),
terms AS (
  SELECT CAST(FLOOR(1000000000 * (w * CAST(o AS DOUBLE))) AS BIGINT)
           AS t_nano,
         o, d
  FROM ov)
SELECT CAST((SELECT COUNT(*) FROM shared) AS BIGINT) AS n_shared,
       CAST((SELECT o FROM terms WHERE d = {_RBO_D}) AS BIGINT)
         AS overlap_at_50,
       CAST(SUM(t_nano) AS BIGINT) AS rbo_nano
FROM terms
""",
    # 50-row depth-weight table range-joined onto the shared ranks
    allow={"BroadcastNestedLoopJoin", "GlobalWindow"},
)
def rbo_token_halves(spark: SparkSession, sf_dir: str) -> DataFrame:
    from koalas_spark.functions.textfn import tokens

    d = _t(spark, sf_dir, "documents")
    cnt = (
        d.select(
            (F.col("doc_id") % 2).alias("half"),
            F.explode(tokens(F.col("text"))).alias("token"),
        )
        .groupBy("half", "token")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .localCheckpoint()
    )

    def _top(half: int) -> DataFrame:
        # TakeOrdered head then a 50-row rank window
        h = (
            cnt.filter(F.col("half") == half)
            .orderBy(F.col("c").desc(), F.col("token").asc())
            .limit(_RBO_D)
        )
        return h.select(
            "token",
            F.row_number()
            .over(Window.orderBy(F.col("c").desc(), F.col("token").asc()))
            .cast("bigint")
            .alias("rk"),
        )

    ra = _top(0).select("token", F.col("rk").alias("rka"))
    rb = _top(1).select("token", F.col("rk").alias("rkb"))
    shared = ra.join(rb, "token").select(
        F.greatest(F.col("rka"), F.col("rkb")).alias("m")
    )
    depths = spark.createDataFrame(_RBO_W, "d long, w double")
    ov = (
        F.broadcast(depths)
        .join(shared, F.col("m") <= F.col("d"), "left")
        .groupBy("d", "w")
        .agg(
            F.count(F.col("m")).cast("bigint").alias("o")
        )
    )
    terms = ov.select(
        "d",
        "o",
        F.floor(
            F.lit(1000000000)
            * (F.col("w") * F.col("o").cast("double"))
        )
        .cast("bigint")
        .alias("t_nano"),
    )
    nsh = shared.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_shared")
    )
    agg = terms.agg(
        F.max(F.when(F.col("d") == _RBO_D, F.col("o")))
        .cast("bigint")
        .alias("overlap_at_50"),
        F.sum("t_nano").cast("bigint").alias("rbo_nano"),
    )
    return nsh.crossJoin(agg).select("n_shared", "overlap_at_50", "rbo_nano")
