"""Round-9 batch-30 additions (SURVEY.md §2 extensions): retail markup
stats, a capture-recapture universe estimate, and a degree power-law
fit on the co-purchase graph.

Reference parity note: not in the reference (its surface is the frame
ops in source/koalas/dataframe.d:73-311); determinism per the repo
rules (queries/__init__.py docstring): exact integer cents and
cross-multiplied ppm, per-value nano-ln before sums, exact //.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from koalas_spark.queries import query
from koalas_spark.queries.analytics import _t


# --------------------------------------------------------------------
# 388. brand markup stats — realized sale price vs catalog retail
# price per brand (the pricing-power readout): one lineitem⋈part
# equi-join (part side broadcastable at bench SFs), exact cents sums,
# markup as a cross-multiplied ppm of discounted sale over retail.
@query(
    "brand_markup_stats",
    oracle="""
SELECT p.p_brand AS brand, CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(SUM(CAST(FLOOR(l.l_extendedprice * (1 - l.l_discount) * 100
                           + 0.5) AS BIGINT)) AS BIGINT) AS sale_cents,
       CAST(SUM(CAST(FLOOR(p.p_retailprice * CAST(FLOOR(l.l_quantity
                                                        + 0.5) AS BIGINT)
                           * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS retail_cents,
       CAST((SUM(CAST(FLOOR(l.l_extendedprice * (1 - l.l_discount) * 100
                            + 0.5) AS BIGINT)) * 1000000)
            // SUM(CAST(FLOOR(p.p_retailprice * CAST(FLOOR(l.l_quantity
                                                           + 0.5)
                                                     AS BIGINT)
                              * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS sale_over_retail_ppm
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
GROUP BY 1 ORDER BY 1
""",
)
def brand_markup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.floor(
            F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
            + 0.5
        )
        .cast("bigint")
        .alias("sale_c"),
        F.floor(F.col("l_quantity") + 0.5).cast("bigint").alias("qty"),
    )
    pt = _t(spark, sf_dir, "part").select(
        "p_partkey", "p_brand", "p_retailprice"
    )
    j = li.join(pt, li["l_partkey"] == pt["p_partkey"]).select(
        F.col("p_brand").alias("brand"),
        "sale_c",
        F.floor(F.col("p_retailprice") * F.col("qty") * 100 + 0.5)
        .cast("bigint")
        .alias("retail_c"),
    )
    return (
        j.groupBy("brand")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
            F.sum("sale_c").cast("bigint").alias("sale_cents"),
            F.sum("retail_c").cast("bigint").alias("retail_cents"),
            F.expr(
                "CAST((SUM(sale_c) * 1000000) div SUM(retail_c)"
                " AS BIGINT)"
            ).alias("sale_over_retail_ppm"),
        )
        .orderBy("brand")
    )


# --------------------------------------------------------------------
# 389. capture-recapture universe estimate — the mark-recapture trick
# data teams use to size an unseen population (how many customers
# exist if 1997 and 1998 each "capture" a sample?): Chapman's
# bias-corrected estimator N = (n1+1)(n2+1)/(m+1) - 1 from three
# exact distinct counts, FLOOR-quantized once. The two capture sets
# are one orders scan each (distinct custkeys); the overlap is a
# co-partitioned semi join.
@query(
    "capture_recapture_customers",
    oracle="""
WITH y97 AS (
  SELECT DISTINCT o_custkey FROM orders
  WHERE o_orderdate >= DATE '1997-01-01'
    AND o_orderdate < DATE '1998-01-01'),
y98 AS (
  SELECT DISTINCT o_custkey FROM orders
  WHERE o_orderdate >= DATE '1998-01-01'
    AND o_orderdate < DATE '1999-01-01'),
s AS (
  SELECT CAST((SELECT COUNT(*) FROM y97) AS BIGINT) AS n1,
         CAST((SELECT COUNT(*) FROM y98) AS BIGINT) AS n2,
         CAST((SELECT COUNT(*) FROM y97 JOIN y98 USING (o_custkey))
              AS BIGINT) AS m)
SELECT n1, n2, m,
       CAST(FLOOR(CAST((n1 + 1) * (n2 + 1) AS DOUBLE)
                  / CAST(m + 1 AS DOUBLE)) - 1 AS BIGINT)
         AS chapman_estimate,
       CAST((SELECT COUNT(*) FROM customer) AS BIGINT) AS true_n
FROM s
""",
    # four 1-row capture-count frames cross-joined into the estimate
    allow={"BroadcastNestedLoopJoin"},
)
def capture_recapture_customers(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    y97 = (
        o.filter(
            (F.col("o_orderdate") >= F.lit("1997-01-01").cast("date"))
            & (F.col("o_orderdate") < F.lit("1998-01-01").cast("date"))
        )
        .select("o_custkey")
        .distinct()
    )
    y98 = (
        o.filter(
            (F.col("o_orderdate") >= F.lit("1998-01-01").cast("date"))
            & (F.col("o_orderdate") < F.lit("1999-01-01").cast("date"))
        )
        .select("o_custkey")
        .distinct()
    )
    n1 = y97.agg(F.count(F.lit(1)).cast("bigint").alias("n1"))
    n2 = y98.agg(F.count(F.lit(1)).cast("bigint").alias("n2"))
    m = (
        y97.join(y98, "o_custkey")
        .agg(F.count(F.lit(1)).cast("bigint").alias("m"))
    )
    tn = _t(spark, sf_dir, "customer").agg(
        F.count(F.lit(1)).cast("bigint").alias("true_n")
    )
    s = (
        n1.crossJoin(n2)
        .crossJoin(m)
        .crossJoin(tn)
    )
    return s.select(
        "n1",
        "n2",
        "m",
        (
            F.floor(
                F.expr(
                    "CAST((n1 + 1) * (n2 + 1) AS DOUBLE)"
                    " / CAST(m + 1 AS DOUBLE)"
                )
            )
            - 1
        )
        .cast("bigint")
        .alias("chapman_estimate"),
        "true_n",
    )


# --------------------------------------------------------------------
# 390. degree power-law fit on the co-purchase graph — does the item
# graph have a scale-free tail? (the graph-shelf twin of #374's Hill
# on revenue): Hill estimator over degrees >= kmin = 8, per-value
# nano-ln of deg/kmin quantized before the exact // mean — degrees
# come from the shared |V|-sized degree artifact.
@query(
    "degree_powerlaw_fit",
    oracle="""
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
e AS MATERIALIZED (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
adj AS (
  SELECT u AS c FROM e UNION ALL SELECT v FROM e),
deg AS (
  SELECT c, CAST(COUNT(*) AS BIGINT) AS dg FROM adj GROUP BY c),
tail AS (
  SELECT CAST(FLOOR(1000000000 * LN(CAST(dg AS DOUBLE) / 8e0))
              AS BIGINT) AS ln_nano
  FROM deg WHERE dg >= 8),
s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS k,
         CAST(SUM(ln_nano) AS BIGINT) AS t
  FROM tail)
SELECT k AS n_tail_nodes,
       CAST(t // k AS BIGINT) AS mean_ln_nano,
       ROUND(1e0 + 1000000000e0 / CAST(t // k AS DOUBLE), 6)
         AS powerlaw_alpha
FROM s
""",
)
def degree_powerlaw_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from koalas_spark.queries.mining import copurchase_degree_table

    deg = copurchase_degree_table(spark, sf_dir)
    tail = deg.filter(F.col("dg") >= 8).select(
        F.floor(
            1000000000
            * F.log(F.expr("CAST(dg AS DOUBLE) / 8e0"))
        )
        .cast("bigint")
        .alias("ln_nano")
    )
    s = tail.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("ln_nano").cast("bigint").alias("t"),
    )
    return s.select(
        F.col("k").alias("n_tail_nodes"),
        F.expr("CAST(t div k AS BIGINT)").alias("mean_ln_nano"),
        F.round(
            F.expr("1e0 + 1000000000e0 / CAST(t div k AS DOUBLE)"), 6
        ).alias("powerlaw_alpha"),
    )
