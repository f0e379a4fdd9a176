"""Round-10 batch-7 additions (SURVEY.md §2 extensions): Ljung-Box
portmanteau test, Theil between-group inequality decomposition, and
Laspeyres/Paasche price indices.

Reference parity note: not in the reference (its surface is the frame
ops in source/koalas/dataframe.d:73-311); determinism per the repo
rules (queries/__init__.py docstring): day-domain collapse first,
DECIMAL(38) products, per-value nano-quantization before any float
sum, FLOOR-double division only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from koalas_spark.queries import query
from koalas_spark.queries.analytics import _t


# --------------------------------------------------------------------
# 421. Ljung-Box portmanteau test on daily revenue — "is there ANY
# autocorrelation in the first 7 lags" as one statistic (the test
# every forecast-residual check runs; #254 reports the per-lag r_k,
# this composes them): Q = n(n+2) * sum_k r_k^2/(n-k) over #254's
# lag-pair Pearson r_k (same day-domain collapse, same lag-frame
# fan-out, same DECIMAL(38) moment sums). Float discipline: r_k^2 is
# an identical-shape double both engines, but the SUM over k is
# order-sensitive — so each term quantizes to integer 1e12ths FIRST
# (the #221 rule) and the cumulative statistic is an exact integer
# cumsum over the bounded 7-row lag domain. Output per lag: r_k and
# the cumulative Q through that lag.
@query(
    "ljung_box_daily",
    oracle="""
WITH daily AS (
  SELECT date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))
           AS d,
         CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
           AS BIGINT) AS x
  FROM orders GROUP BY 1),
nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM daily),
ks AS (SELECT CAST(k AS BIGINT) AS k FROM range(1, 8) t(k)),
pairs AS (
  SELECT ks.k, a.x AS x, b.x AS y
  FROM daily a CROSS JOIN ks
  JOIN daily b ON b.d = a.d + ks.k),
m AS (
  SELECT k, CAST(COUNT(*) AS BIGINT) AS np,
         CAST(SUM(CAST(x AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sx,
         CAST(SUM(CAST(y AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sy,
         CAST(SUM(CAST(x AS DECIMAL(38,0)) * y) AS DECIMAL(38,0)) AS sxy,
         CAST(SUM(CAST(x AS DECIMAL(38,0)) * x) AS DECIMAL(38,0)) AS sxx,
         CAST(SUM(CAST(y AS DECIMAL(38,0)) * y) AS DECIMAL(38,0)) AS syy
  FROM pairs GROUP BY k),
r AS (
  SELECT k, np,
         (CAST(np AS DOUBLE) * CAST(CAST(sxy AS VARCHAR) AS DOUBLE)
          - CAST(CAST(sx AS VARCHAR) AS DOUBLE)
            * CAST(CAST(sy AS VARCHAR) AS DOUBLE))
         / SQRT(
             (CAST(np AS DOUBLE) * CAST(CAST(sxx AS VARCHAR) AS DOUBLE)
              - CAST(CAST(sx AS VARCHAR) AS DOUBLE)
                * CAST(CAST(sx AS VARCHAR) AS DOUBLE))
             * (CAST(np AS DOUBLE) * CAST(CAST(syy AS VARCHAR) AS DOUBLE)
                - CAST(CAST(sy AS VARCHAR) AS DOUBLE)
                  * CAST(CAST(sy AS VARCHAR) AS DOUBLE))) AS rk
  FROM m),
t AS (
  SELECT r.k, ROUND(r.rk, 6) AS r_k,
         CAST(FLOOR(1000000000000 * r.rk * r.rk
                    / CAST(nn.n - r.k AS DOUBLE)) AS BIGINT) AS term_p12,
         nn.n
  FROM r, nn)
SELECT k, r_k,
       CAST(n * (n + 2) AS BIGINT) AS n_scale,
       CAST(SUM(term_p12) OVER (ORDER BY k ROWS UNBOUNDED PRECEDING)
         AS BIGINT) AS lb_cum_p12
FROM t ORDER BY k
""",
    # 7-row lag frame fanned over the bounded day table + 1-row n frame
    # (the #254 acf shape)
    allow={"BroadcastNestedLoopJoin", "GlobalWindow"},
)
def ljung_box_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (
        _t(spark, sf_dir, "orders")
        .groupBy(
            F.datediff(
                F.col("o_orderdate").cast("date"),
                F.lit("1995-01-01").cast("date"),
            )
            .cast("bigint")
            .alias("d")
        )
        .agg(
            F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint"))
            .cast("bigint")
            .alias("x")
        )
    )
    nn = daily.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    ks = spark.range(1, 8).select(F.col("id").cast("bigint").alias("k"))
    a = daily.select(F.col("d").alias("da"), F.col("x").alias("x"))
    b = daily.select(F.col("d").alias("db"), F.col("x").alias("y"))
    pairs = (
        a.crossJoin(ks)
        .join(b, F.col("db") == F.col("da") + F.col("k"))
        .select("k", "x", "y")
    )
    m = pairs.groupBy("k").agg(
        F.count(F.lit(1)).cast("bigint").alias("np"),
        F.expr("CAST(SUM(CAST(x AS DECIMAL(38,0))) AS DECIMAL(38,0))").alias(
            "sx"
        ),
        F.expr("CAST(SUM(CAST(y AS DECIMAL(38,0))) AS DECIMAL(38,0))").alias(
            "sy"
        ),
        F.expr(
            "CAST(SUM(CAST(x AS DECIMAL(38,0)) * y) AS DECIMAL(38,0))"
        ).alias("sxy"),
        F.expr(
            "CAST(SUM(CAST(x AS DECIMAL(38,0)) * x) AS DECIMAL(38,0))"
        ).alias("sxx"),
        F.expr(
            "CAST(SUM(CAST(y AS DECIMAL(38,0)) * y) AS DECIMAL(38,0))"
        ).alias("syy"),
    )
    r = m.select(
        "k",
        "np",
        F.expr(
            "(CAST(np AS DOUBLE) * CAST(CAST(sxy AS STRING) AS DOUBLE)"
            " - CAST(CAST(sx AS STRING) AS DOUBLE)"
            " * CAST(CAST(sy AS STRING) AS DOUBLE))"
            " / SQRT("
            " (CAST(np AS DOUBLE) * CAST(CAST(sxx AS STRING) AS DOUBLE)"
            " - CAST(CAST(sx AS STRING) AS DOUBLE)"
            " * CAST(CAST(sx AS STRING) AS DOUBLE))"
            " * (CAST(np AS DOUBLE) * CAST(CAST(syy AS STRING) AS DOUBLE)"
            " - CAST(CAST(sy AS STRING) AS DOUBLE)"
            " * CAST(CAST(sy AS STRING) AS DOUBLE)))"
        ).alias("rk"),
    )
    t = r.crossJoin(nn).select(
        "k",
        F.round("rk", 6).alias("r_k"),
        F.expr(
            "CAST(FLOOR(1000000000000 * rk * rk"
            " / CAST(n - k AS DOUBLE)) AS BIGINT)"
        ).alias("term_p12"),
        "n",
    )
    w = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, 0)
    return t.select(
        "k",
        "r_k",
        (F.col("n") * (F.col("n") + 2)).cast("bigint").alias("n_scale"),
        F.sum("term_p12").over(w).cast("bigint").alias("lb_cum_p12"),
    ).orderBy("k")


# --------------------------------------------------------------------
# 422. Theil between-group inequality decomposition — which NATIONS
# drive revenue inequality (the group-decomposable complement to
# #252's Gini and #383's Atkinson, which only give scalars):
# T_between = sum_g (X_g/X) * ln( (X_g/n_g) / (X/n) ) over customer
# lifetime spend grouped by nation. Each group's term is ln of a
# ratio of exact integers — computed ONCE as an identical-shape
# double, quantized to integer nanos per value (#221), with the
# share factor cross-multiplied in DECIMAL(38). Per-nation terms +
# the exact integer total; one bounded 25-row domain collapse after
# the customer rollup.
@query(
    "theil_between_nations",
    oracle="""
WITH sp AS (
  SELECT c.c_nationkey AS nk,
         CAST(SUM(CAST(FLOOR(o.o_totalprice * 100 + 0.5) AS BIGINT))
           AS BIGINT) AS cents
  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
  GROUP BY o.o_custkey, c.c_nationkey),
g AS (
  SELECT nk, CAST(COUNT(*) AS BIGINT) AS n_g,
         CAST(SUM(cents) AS BIGINT) AS x_g
  FROM sp GROUP BY nk),
tot AS (
  SELECT CAST(SUM(n_g) AS BIGINT) AS n, CAST(SUM(x_g) AS BIGINT) AS x
  FROM g)
SELECT n.n_name AS nation, g.n_g, g.x_g,
       CAST(FLOOR(
           1000000000.0
           * (CAST(CAST(CAST(g.x_g AS DECIMAL(38,0)) * tot.n AS VARCHAR)
                   AS DOUBLE)
              / CAST(CAST(CAST(tot.x AS DECIMAL(38,0)) * g.n_g AS VARCHAR)
                     AS DOUBLE))) AS BIGINT) AS mean_ratio_nano,
       CAST(FLOOR(
           1000000000.0
           * (CAST(CAST(CAST(g.x_g AS DECIMAL(38,0)) * 1000000 AS VARCHAR)
                   AS DOUBLE)
              / CAST(tot.x AS DOUBLE)) / 1000000.0
           * LN(CAST(CAST(CAST(g.x_g AS DECIMAL(38,0)) * tot.n AS VARCHAR)
                     AS DOUBLE)
                / CAST(CAST(CAST(tot.x AS DECIMAL(38,0)) * g.n_g
                            AS VARCHAR) AS DOUBLE))) AS BIGINT)
         AS term_nano
FROM g, tot
JOIN nation n ON n.n_nationkey = g.nk
ORDER BY nation
""",
    # 1-row corpus-total frame cross-joined onto the 25-row group table
    allow={"BroadcastNestedLoopJoin"},
)
def theil_between_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    sp = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("o_custkey", "c_nationkey")
        .agg(
            F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint"))
            .cast("bigint")
            .alias("cents")
        )
    )
    g = sp.groupBy(F.col("c_nationkey").alias("nk")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_g"),
        F.sum("cents").cast("bigint").alias("x_g"),
    )
    tot = g.agg(
        F.sum("n_g").cast("bigint").alias("n"),
        F.sum("x_g").cast("bigint").alias("x"),
    )
    nat = _t(spark, sf_dir, "nation").select(
        "n_nationkey", F.col("n_name").alias("nation")
    )
    return (
        g.crossJoin(tot)
        .join(nat, F.col("nk") == F.col("n_nationkey"))
        .select(
            "nation",
            "n_g",
            "x_g",
            F.expr(
                "CAST(FLOOR(1000000000.0"
                " * (CAST(CAST(CAST(x_g AS DECIMAL(38,0)) * n AS STRING)"
                " AS DOUBLE)"
                " / CAST(CAST(CAST(x AS DECIMAL(38,0)) * n_g AS STRING)"
                " AS DOUBLE))) AS BIGINT)"
            ).alias("mean_ratio_nano"),
            F.expr(
                "CAST(FLOOR(1000000000.0"
                " * (CAST(CAST(CAST(x_g AS DECIMAL(38,0)) * 1000000"
                " AS STRING) AS DOUBLE) / CAST(x AS DOUBLE)) / 1000000.0"
                " * LN(CAST(CAST(CAST(x_g AS DECIMAL(38,0)) * n AS STRING)"
                " AS DOUBLE)"
                " / CAST(CAST(CAST(x AS DECIMAL(38,0)) * n_g AS STRING)"
                " AS DOUBLE))) AS BIGINT)"
            ).alias("term_nano"),
        )
        .orderBy("nation")
    )


# --------------------------------------------------------------------
# 423. Laspeyres & Paasche price indices 1997->1998 — did prices or
# volumes move (the retail-economics pair behind every "revenue is
# up, but is that price or quantity" question)? Items are parts;
# per-part unit value p_y = cents_y / qty_y is a rational, so each
# cross term p1*q0 = cents1*qty0/qty1 is computed as ONE
# FLOOR-double per part (DECIMAL(38) product, VARCHAR hop — the
# never-integer-divide-DECIMALs rule) and summed exactly as integers.
# Only parts traded in BOTH years enter (the standard matched-item
# basket). Output: the two index numbers in ppm + basket size.
@query(
    "laspeyres_paasche_index",
    oracle="""
WITH y AS (
  SELECT l_partkey AS pk,
         CAST(EXTRACT(year FROM l_shipdate) AS INT) AS yr,
         CAST(SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT))
           AS BIGINT) AS cents,
         CAST(SUM(CAST(FLOOR(l_quantity + 0.5) AS BIGINT)) AS BIGINT)
           AS qty
  FROM lineitem
  WHERE EXTRACT(year FROM l_shipdate) IN (1997, 1998)
  GROUP BY 1, 2),
b AS (
  SELECT a.pk,
         a.cents AS c0, a.qty AS q0,
         z.cents AS c1, z.qty AS q1
  FROM y a JOIN y z ON z.pk = a.pk AND a.yr = 1997 AND z.yr = 1998
  WHERE a.qty > 0 AND z.qty > 0),
t AS (
  SELECT pk, c0, q0, c1, q1,
         CAST(FLOOR(
             CAST(CAST(CAST(c1 AS DECIMAL(38,0)) * q0 AS VARCHAR) AS DOUBLE)
             / CAST(q1 AS DOUBLE)) AS BIGINT) AS p1q0,
         CAST(FLOOR(
             CAST(CAST(CAST(c0 AS DECIMAL(38,0)) * q1 AS VARCHAR) AS DOUBLE)
             / CAST(q0 AS DOUBLE)) AS BIGINT) AS p0q1
  FROM b)
SELECT CAST(COUNT(*) AS BIGINT) AS n_parts,
       CAST(FLOOR(
           CAST(CAST(CAST(SUM(p1q0) AS DECIMAL(38,0)) * 1000000 AS VARCHAR)
                AS DOUBLE)
           / CAST(SUM(c0) AS DOUBLE)) AS BIGINT) AS laspeyres_ppm,
       CAST(FLOOR(
           CAST(CAST(CAST(SUM(c1) AS DECIMAL(38,0)) * 1000000 AS VARCHAR)
                AS DOUBLE)
           / CAST(SUM(p0q1) AS DOUBLE)) AS BIGINT) AS paasche_ppm
FROM t
""",
)
def laspeyres_paasche_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    y = (
        _t(spark, sf_dir, "lineitem")
        .select(
            F.col("l_partkey").alias("pk"),
            F.year("l_shipdate").cast("int").alias("yr"),
            F.floor(F.col("l_extendedprice") * 100 + 0.5)
            .cast("bigint")
            .alias("lc"),
            F.floor(F.col("l_quantity") + 0.5).cast("bigint").alias("lq"),
        )
        .filter(F.col("yr").isin(1997, 1998))
        .groupBy("pk", "yr")
        .agg(
            F.sum("lc").cast("bigint").alias("cents"),
            F.sum("lq").cast("bigint").alias("qty"),
        )
    )
    a = y.filter((F.col("yr") == 1997) & (F.col("qty") > 0)).select(
        "pk", F.col("cents").alias("c0"), F.col("qty").alias("q0")
    )
    z = y.filter((F.col("yr") == 1998) & (F.col("qty") > 0)).select(
        "pk", F.col("cents").alias("c1"), F.col("qty").alias("q1")
    )
    b = a.join(z, "pk")
    t = b.select(
        "pk",
        "c0",
        "q0",
        "c1",
        "q1",
        F.expr(
            "CAST(FLOOR("
            "CAST(CAST(CAST(c1 AS DECIMAL(38,0)) * q0 AS STRING) AS DOUBLE)"
            " / CAST(q1 AS DOUBLE)) AS BIGINT)"
        ).alias("p1q0"),
        F.expr(
            "CAST(FLOOR("
            "CAST(CAST(CAST(c0 AS DECIMAL(38,0)) * q1 AS STRING) AS DOUBLE)"
            " / CAST(q0 AS DOUBLE)) AS BIGINT)"
        ).alias("p0q1"),
    )
    return t.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_parts"),
        F.expr(
            "CAST(FLOOR("
            "CAST(CAST(CAST(SUM(p1q0) AS DECIMAL(38,0)) * 1000000 AS STRING)"
            " AS DOUBLE) / CAST(SUM(c0) AS DOUBLE)) AS BIGINT)"
        ).alias("laspeyres_ppm"),
        F.expr(
            "CAST(FLOOR("
            "CAST(CAST(CAST(SUM(c1) AS DECIMAL(38,0)) * 1000000 AS STRING)"
            " AS DOUBLE) / CAST(SUM(p0q1) AS DOUBLE)) AS BIGINT)"
        ).alias("paasche_ppm"),
    )
