"""Round-9 batch-8 additions (SURVEY.md §2 extensions): t-closeness
audit (completing the k-anonymity / l-diversity / t-closeness privacy
triple), annual Fourier seasonality fit, co-purchase degree
assortativity.

Reference parity note: none of these exist in the reference (its
surface is the frame ops in source/koalas/dataframe.d:73-311); they
extend the governance / time-series / graph shelves under the repo
determinism rules (queries/__init__.py docstring): exact integer ppm
via cross-multiplication, per-value nano/micro-quantized
transcendentals (#221), DECIMAL(38) product sums (the acf idiom),
fixed-order double sequences.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from koalas_spark.queries import query
from koalas_spark.queries.analytics import _t


# --------------------------------------------------------------------
# 320. t-closeness audit — the third rung of the release-privacy
# ladder (k-anonymity #203 bounds group SIZE, l-diversity #248 bounds
# sensitive-value VARIETY, t-closeness bounds sensitive-value
# DISTRIBUTION SKEW): per quasi-identifier group (nation ×
# mktsegment), the variational distance ½Σ|p_g(v) − p(v)| between the
# group's account-balance-band distribution and the global one, in
# exact ppm via cross-multiplication (|cnt_gv·N − cnt_v·n_g| sums —
# no doubles anywhere). One corpus groupBy to the bounded
# (QI × band) cell table; the global marginals come from windows over
# that bounded table.
@query(
    "t_closeness_audit",
    oracle="""
WITH cells AS (
  SELECT c_nationkey AS nat, c_mktsegment AS seg,
         CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT) // 100000 AS band,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM customer GROUP BY 1, 2, 3),
m AS (
  SELECT nat, seg, band, c,
         CAST(SUM(c) OVER (PARTITION BY nat, seg) AS BIGINT) AS n_g,
         CAST(SUM(c) OVER (PARTITION BY band) AS BIGINT) AS c_v,
         CAST(SUM(c) OVER () AS BIGINT) AS n
  FROM cells),
present AS (
  SELECT nat, seg, n_g, n,
         CAST(SUM(ABS(c * n - c_v * n_g)) AS BIGINT) AS num_present,
         CAST(SUM(c_v) AS BIGINT) AS cv_present
  FROM m GROUP BY 1, 2, 3, 4)
SELECT nat, seg, n_g,
       CAST((num_present + (n - cv_present) * n_g) * 500000
            // (n_g * n) AS BIGINT) AS t_closeness_ppm
FROM present
""",
    # variational-distance ranks over the bounded QI x band domain
    allow={"GlobalWindow"},
)
def t_closeness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    cu = _t(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nat"),
        F.col("c_mktsegment").alias("seg"),
        F.expr(
            "CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT) div 100000"
        ).alias("band"),
    )
    cells = cu.groupBy("nat", "seg", "band").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    # windows over the bounded (QI x band) cell domain
    wg = Window.partitionBy("nat", "seg")
    wv = Window.partitionBy("band")
    wall = Window.partitionBy()
    m = cells.select(
        "nat",
        "seg",
        "band",
        "c",
        F.sum("c").over(wg).cast("bigint").alias("n_g"),
        F.sum("c").over(wv).cast("bigint").alias("c_v"),
        F.sum("c").over(wall).cast("bigint").alias("n"),
    )
    present = m.groupBy("nat", "seg", "n_g", "n").agg(
        F.sum(F.abs(F.col("c") * F.col("n") - F.col("c_v") * F.col("n_g")))
        .cast("bigint")
        .alias("num_present"),
        F.sum("c_v").cast("bigint").alias("cv_present"),
    )
    return present.select(
        "nat",
        "seg",
        "n_g",
        F.expr(
            "CAST((num_present + (n - cv_present) * n_g) * 500000"
            " div (n_g * n) AS BIGINT)"
        ).alias("t_closeness_ppm"),
    )


# --------------------------------------------------------------------
# 321. annual Fourier seasonality fit — the first harmonic (365-day
# cycle) of daily revenue: a = Σ x·cos(2πd/365), b = Σ x·sin(2πd/365)
# over the day domain, amplitude and phase from one fixed double
# sequence. cos/sin are quantized to micro PER DAY (#221 — libm vs
# JVM trig can differ by an ulp, the quantization absorbs it) and the
# products run as DECIMAL(38) sums (x·cos_micro overflows int64 at
# sf10 — the acf idiom). One map-side-combined corpus groupBy; the
# Fourier pass runs on the bounded day table.
@query(
    "annual_fourier_fit",
    oracle="""
WITH daily AS (
  SELECT datediff('day', DATE '1995-01-01', o_orderdate) AS d,
         CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
              AS BIGINT) AS x
  FROM orders GROUP BY 1),
q AS (
  SELECT d, x,
         CAST(FLOOR(COS(2 * PI() * CAST(d AS DOUBLE) / 365.0) * 1000000
                    + 0.5) AS BIGINT) AS cq,
         CAST(FLOOR(SIN(2 * PI() * CAST(d AS DOUBLE) / 365.0) * 1000000
                    + 0.5) AS BIGINT) AS sq
  FROM daily),
s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
         CAST(CAST(SUM(CAST(x AS DECIMAL(38,0)) * cq) AS VARCHAR)
              AS DOUBLE) AS a_raw,
         CAST(CAST(SUM(CAST(x AS DECIMAL(38,0)) * sq) AS VARCHAR)
              AS DOUBLE) AS b_raw
  FROM q)
SELECT n_days,
       ROUND(2.0 * a_raw / (CAST(n_days AS DOUBLE) * 1000000.0), 6) AS a_coef,
       ROUND(2.0 * b_raw / (CAST(n_days AS DOUBLE) * 1000000.0), 6) AS b_coef,
       ROUND(SQRT((2.0 * a_raw / (CAST(n_days AS DOUBLE) * 1000000.0))
                  * (2.0 * a_raw / (CAST(n_days AS DOUBLE) * 1000000.0))
                  + (2.0 * b_raw / (CAST(n_days AS DOUBLE) * 1000000.0))
                    * (2.0 * b_raw / (CAST(n_days AS DOUBLE) * 1000000.0))),
             6) AS amplitude
FROM s
""",
)
def annual_fourier_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from koalas_spark.queries.analytics import daily_revenue_table

    daily = daily_revenue_table(spark, sf_dir)
    q = daily.select(
        "d",
        "x",
        F.floor(
            F.cos(2 * F.lit(3.141592653589793) * F.col("d").cast("double") / 365.0)
            * 1000000
            + 0.5
        )
        .cast("bigint")
        .alias("cq"),
        F.floor(
            F.sin(2 * F.lit(3.141592653589793) * F.col("d").cast("double") / 365.0)
            * 1000000
            + 0.5
        )
        .cast("bigint")
        .alias("sq"),
    )
    s = q.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.sum(F.expr("CAST(x AS DECIMAL(38,0)) * cq"))
        .cast("string")
        .cast("double")
        .alias("a_raw"),
        F.sum(F.expr("CAST(x AS DECIMAL(38,0)) * sq"))
        .cast("string")
        .cast("double")
        .alias("b_raw"),
    )
    return s.select(
        "n_days",
        F.round(
            F.expr("2.0 * a_raw / (CAST(n_days AS DOUBLE) * 1000000.0)"), 6
        ).alias("a_coef"),
        F.round(
            F.expr("2.0 * b_raw / (CAST(n_days AS DOUBLE) * 1000000.0)"), 6
        ).alias("b_coef"),
        F.round(
            F.expr(
                "SQRT((2.0 * a_raw / (CAST(n_days AS DOUBLE) * 1000000.0))"
                "      * (2.0 * a_raw / (CAST(n_days AS DOUBLE) * 1000000.0))"
                "      + (2.0 * b_raw / (CAST(n_days AS DOUBLE) * 1000000.0))"
                "        * (2.0 * b_raw / (CAST(n_days AS DOUBLE) * 1000000.0)))"
            ),
            6,
        ).alias("amplitude"),
    )


# --------------------------------------------------------------------
# 322. co-purchase degree assortativity — do popular items co-sell
# with popular items? Pearson correlation of endpoint degrees over
# the symmetrized edge list (#170 artifact): two deg-table equi-joins
# onto the edges, exact integer/DECIMAL(38) moment sums (du·dv can
# pass int64 at sf10 hub degrees — one factor pre-cast, the acf
# idiom), then ONE fixed double sequence for r. Negative r = hubs
# attach to the long tail (the usual retail shape).
@query(
    "copurchase_assortativity",
    oracle="""
WITH li AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
e0 AS MATERIALIZED (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
e AS MATERIALIZED (SELECT u, v FROM e0 UNION ALL SELECT v, u FROM e0),
dg AS MATERIALIZED (
  SELECT u AS node, CAST(COUNT(*) AS BIGINT) AS dg FROM e GROUP BY 1),
j AS (
  SELECT du.dg AS x, dv.dg AS y
  FROM e JOIN dg du ON du.node = e.u JOIN dg dv ON dv.node = e.v),
m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(CAST(SUM(x) AS VARCHAR) AS DOUBLE) AS sx,
         CAST(CAST(SUM(y) AS VARCHAR) AS DOUBLE) AS sy,
         CAST(CAST(SUM(CAST(x AS DECIMAL(38,0)) * y) AS VARCHAR) AS DOUBLE)
           AS sxy,
         CAST(CAST(SUM(CAST(x AS DECIMAL(38,0)) * x) AS VARCHAR) AS DOUBLE)
           AS sxx,
         CAST(CAST(SUM(CAST(y AS DECIMAL(38,0)) * y) AS VARCHAR) AS DOUBLE)
           AS syy
  FROM j)
SELECT n,
       ROUND((CAST(n AS DOUBLE) * sxy - sx * sy)
             / SQRT((CAST(n AS DOUBLE) * sxx - sx * sx)
                    * (CAST(n AS DOUBLE) * syy - sy * sy)), 6)
         AS assortativity
FROM m
""",
)
def copurchase_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from koalas_spark.queries.mining import (
        copurchase_adjacency,
        copurchase_degree_table,
    )

    e = copurchase_adjacency(spark, sf_dir)
    # degrees from the materialized |V|-sized artifact (round 12) —
    # drops the per-call 2|E|-row degree shuffle
    dg = copurchase_degree_table(spark, sf_dir).select(
        F.col("x").alias("node"), "dg"
    )
    du = dg.select(F.col("node").alias("u"), F.col("dg").alias("x"))
    dv = dg.select(F.col("node").alias("v"), F.col("dg").alias("y"))
    j = e.join(du, "u").join(dv, "v")
    m = j.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("string").cast("double").alias("sx"),
        F.sum("y").cast("string").cast("double").alias("sy"),
        F.sum(F.expr("CAST(x AS DECIMAL(38,0)) * y"))
        .cast("string")
        .cast("double")
        .alias("sxy"),
        F.sum(F.expr("CAST(x AS DECIMAL(38,0)) * x"))
        .cast("string")
        .cast("double")
        .alias("sxx"),
        F.sum(F.expr("CAST(y AS DECIMAL(38,0)) * y"))
        .cast("string")
        .cast("double")
        .alias("syy"),
    )
    return m.select(
        "n",
        F.round(
            F.expr(
                "(CAST(n AS DOUBLE) * sxy - sx * sy)"
                " / SQRT((CAST(n AS DOUBLE) * sxx - sx * sx)"
                "        * (CAST(n AS DOUBLE) * syy - sy * sy))"
            ),
            6,
        ).alias("assortativity"),
    )
