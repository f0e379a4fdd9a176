"""Round-9 batch-13 additions (SURVEY.md §2 extensions): Poisson
goodness-of-fit on lineitems-per-order (the append-mode streaming op
of this batch lives in queries/streaming.py #335).

Reference parity note: not in the reference (its surface is the frame
ops in source/koalas/dataframe.d:73-311); extends the statistics
shelf under the repo determinism rules (queries/__init__.py
docstring): bounded-domain collapse, identical double expression
shapes (EXP/POWER appear once, same shape both engines), exact
integer counts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from koalas_spark.queries import query
from koalas_spark.queries.analytics import _t


# --------------------------------------------------------------------
# 336. Poisson goodness-of-fit — does order size (lineitems per
# order) follow a Poisson law? The generator-validation / capacity-
# model question. One orderkey groupBy collapses the corpus to the
# bounded count domain (k ≤ ~7); λ is the exact-count MLE; expected
# cells n·e^(−λ)·λ^k/k! and the per-cell chi² contribution are ONE
# identical-shape double each (EXP/POWER/factorial exist in both
# engines; a shared 1-ulp libm wobble disappears in the 6 dp round).
# Output: one row per observed k.
@query(
    "lineitems_poisson_gof",
    oracle="""
WITH per_order AS (
  SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS k
  FROM lineitem GROUP BY 1),
h AS (
  SELECT k, CAST(COUNT(*) AS BIGINT) AS obs FROM per_order GROUP BY 1),
t AS (
  SELECT CAST(SUM(k * obs) AS BIGINT) AS total_lines,
         CAST(SUM(obs) AS BIGINT) AS n_orders
  FROM h)
SELECT h.k, h.obs,
       ROUND(CAST(t.n_orders AS DOUBLE)
             * EXP(-(CAST(t.total_lines AS DOUBLE)
                     / CAST(t.n_orders AS DOUBLE)))
             * POWER(CAST(t.total_lines AS DOUBLE)
                     / CAST(t.n_orders AS DOUBLE), CAST(h.k AS DOUBLE))
             / CAST(factorial(CAST(h.k AS INT)) AS DOUBLE), 6) AS expected,
       ROUND((CAST(h.obs AS DOUBLE)
              - CAST(t.n_orders AS DOUBLE)
                * EXP(-(CAST(t.total_lines AS DOUBLE)
                        / CAST(t.n_orders AS DOUBLE)))
                * POWER(CAST(t.total_lines AS DOUBLE)
                        / CAST(t.n_orders AS DOUBLE), CAST(h.k AS DOUBLE))
                / CAST(factorial(CAST(h.k AS INT)) AS DOUBLE))
             * (CAST(h.obs AS DOUBLE)
                - CAST(t.n_orders AS DOUBLE)
                  * EXP(-(CAST(t.total_lines AS DOUBLE)
                          / CAST(t.n_orders AS DOUBLE)))
                  * POWER(CAST(t.total_lines AS DOUBLE)
                          / CAST(t.n_orders AS DOUBLE), CAST(h.k AS DOUBLE))
                  / CAST(factorial(CAST(h.k AS INT)) AS DOUBLE))
             / (CAST(t.n_orders AS DOUBLE)
                * EXP(-(CAST(t.total_lines AS DOUBLE)
                        / CAST(t.n_orders AS DOUBLE)))
                * POWER(CAST(t.total_lines AS DOUBLE)
                        / CAST(t.n_orders AS DOUBLE), CAST(h.k AS DOUBLE))
                / CAST(factorial(CAST(h.k AS INT)) AS DOUBLE)), 6)
         AS chi2_cell
FROM h, t
""",
    # 1-row lambda-moments frame cross-joined onto the <=10 count cells
    allow={"BroadcastNestedLoopJoin"},
)
def lineitems_poisson_gof(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey")
    per_order = li.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("k")
    )
    h = per_order.groupBy("k").agg(
        F.count(F.lit(1)).cast("bigint").alias("obs")
    )
    t = h.agg(
        F.sum(F.col("k") * F.col("obs")).cast("bigint").alias("total_lines"),
        F.sum("obs").cast("bigint").alias("n_orders"),
    )
    exp_expr = (
        "CAST(n_orders AS DOUBLE)"
        " * EXP(-(CAST(total_lines AS DOUBLE) / CAST(n_orders AS DOUBLE)))"
        " * POWER(CAST(total_lines AS DOUBLE) / CAST(n_orders AS DOUBLE),"
        "         CAST(k AS DOUBLE))"
        " / CAST(factorial(CAST(k AS INT)) AS DOUBLE)"
    )
    return h.crossJoin(t).select(
        "k",
        "obs",
        F.round(F.expr(exp_expr), 6).alias("expected"),
        F.round(
            F.expr(
                f"(CAST(obs AS DOUBLE) - {exp_expr})"
                f" * (CAST(obs AS DOUBLE) - {exp_expr}) / ({exp_expr})"
            ),
            6,
        ).alias("chi2_cell"),
    )
