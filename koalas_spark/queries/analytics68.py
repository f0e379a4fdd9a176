"""Round-11 batch-3 additions (SURVEY.md §2 extensions): contrastive
hard-negative mining over embeddings, PR-AUC from bucketed scores,
Brier-score decomposition, and additive Holt-Winters day-of-week
smoothing (ring-buffer recursive-CTE oracle).

Reference parity note: none of these exist in the reference (its
surface is the frame ops in source/koalas/dataframe.d:73-311); they
extend the retrieval / ML-eval / time-series shelves under the repo
determinism rules (queries/__init__.py docstring): exact integer /
DECIMAL(38) reductions, value-DOMAIN collapses before windows, #220
md5 coins, truncating integer recurrences matched to DuckDB's `//`,
and per-term FLOOR-double quantization before any float sum (float
sums are order-sensitive; integer sums are not).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from koalas_spark.frame import local_rows
from koalas_spark.queries import query
from koalas_spark.queries.analytics import _t


# --------------------------------------------------------------------
# 452. contrastive hard-negative mining — the retrieval-training data
# step (DPR/contriever shape): for each probe vector, the top-5 most
# similar corpus vectors with a DIFFERENT label — maximally confusing
# negatives are what make contrastive training work. Same plan as the
# #42 exact baseline (probes broadcast, corpus never self-joins, one
# per-probe window) plus the label-mismatch filter; at 100 TB the
# probe set is the training batch and this is one broadcast pass.
@query(
    "hard_negative_mining_embeddings",
    oracle="""
SELECT probe_id, neighbor_id, neg_label, cos_sim, rk FROM (
  SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
         CAST(c.label AS INT) AS neg_label,
         ROUND(list_dot_product(CAST(p.embedding AS DOUBLE[]),
                                CAST(c.embedding AS DOUBLE[]))
               / SQRT(list_dot_product(CAST(p.embedding AS DOUBLE[]),
                                       CAST(p.embedding AS DOUBLE[]))
                      * list_dot_product(CAST(c.embedding AS DOUBLE[]),
                                         CAST(c.embedding AS DOUBLE[]))), 6)
           AS cos_sim,
         ROW_NUMBER() OVER (PARTITION BY p.vec_id ORDER BY
           ROUND(list_dot_product(CAST(p.embedding AS DOUBLE[]),
                                  CAST(c.embedding AS DOUBLE[]))
               / SQRT(list_dot_product(CAST(p.embedding AS DOUBLE[]),
                                       CAST(p.embedding AS DOUBLE[]))
                      * list_dot_product(CAST(c.embedding AS DOUBLE[]),
                                         CAST(c.embedding AS DOUBLE[]))), 6)
           DESC, c.vec_id ASC) AS rk
  FROM embeddings p JOIN embeddings c
    ON c.label != p.label
  WHERE p.vec_id < 5) t
WHERE rk <= 5
""",
    # 5-probe frame broadcast onto the corpus without an equi key
    allow={"BroadcastNestedLoopJoin"},
)
def hard_negative_mining_embeddings(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from koalas_spark.functions.vectorfn import as_double, norm_sq, rounded_cosine
    from koalas_spark.operators.similarity import per_probe_topk

    emb = _t(spark, sf_dir, "embeddings")
    vec = as_double(F.col("embedding"))
    p = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("probe_id"),
        vec.alias("_p_vec"),
        norm_sq(vec).alias("_p_n"),
        F.col("label").alias("_p_label"),
    )
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        vec.alias("_c_vec"),
        norm_sq(vec).alias("_c_n"),
        F.col("label").cast("int").alias("neg_label"),
    )
    scored = (
        c.crossJoin(F.broadcast(p))
        .filter(F.col("neg_label") != F.col("_p_label"))
        .select(
            "probe_id",
            "neighbor_id",
            "neg_label",
            rounded_cosine(
                F.col("_p_vec"), F.col("_c_vec"), F.col("_p_n"), F.col("_c_n")
            ).alias("cos_sim"),
        )
    )
    return per_probe_topk(
        scored, "cos_sim", 5, "probe_id", "neighbor_id", "neg_label", "cos_sim", "rk"
    )


# --------------------------------------------------------------------
# 453. PR-AUC from bucketed scores — the imbalanced-class companion
# to ROC-AUC #241 (ROC flatters rare-positive problems; PR does not).
# Same $100 score-bucket DOMAIN collapse: descending-score prefix
# counts give (TP, FP) at every threshold; AUC_PR by the step rule
# sum_i dTP_i * P_i / P_total. Each term is quantized to integer
# nanos BEFORE the sum (DECIMAL(38) cross-product, VARCHAR-hop
# FLOOR-double per term — a float sum over 6e3 buckets would be
# accumulation-order-sensitive), so the result is partition-invariant
# and engine-exact.
@query(
    "pr_auc_priority_value",
    oracle="""
WITH s AS (
  SELECT CAST(FLOOR(o_totalprice / 100) AS BIGINT) AS b,
         CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
              THEN 1 ELSE 0 END AS pos
  FROM orders),
h AS (
  SELECT b, CAST(SUM(pos) AS BIGINT) AS np,
         CAST(SUM(1 - pos) AS BIGINT) AS nn
  FROM s GROUP BY b),
c AS (
  SELECT b, np,
         CAST(SUM(np) OVER (ORDER BY b DESC) AS BIGINT) AS tp,
         CAST(SUM(nn) OVER (ORDER BY b DESC) AS BIGINT) AS fp,
         CAST(SUM(np) OVER () AS BIGINT) AS p,
         CAST(SUM(nn) OVER () AS BIGINT) AS n
  FROM h),
terms AS (
  SELECT p, n,
         CASE WHEN np > 0 THEN
           CAST(FLOOR(CAST(CAST(CAST(np AS DECIMAL(38,0)) * tp * 1000000000
                           AS VARCHAR) AS DOUBLE)
                      / (CAST(p AS DOUBLE) * (tp + fp))) AS BIGINT)
         ELSE 0 END AS t_nano
  FROM c)
SELECT MAX(p) AS n_pos, MAX(n) AS n_neg,
       CAST(SUM(t_nano) AS BIGINT) AS auc_pr_nano
FROM terms
""",
    # prefix sums over the bounded $100 score-bucket domain
    allow={"GlobalWindow"},
)
def pr_auc_priority_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    s = o.select(
        F.floor(F.col("o_totalprice") / 100).cast("bigint").alias("b"),
        F.when(
            F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1
        )
        .otherwise(0)
        .alias("pos"),
    )
    h = s.groupBy("b").agg(
        F.sum("pos").cast("bigint").alias("np"),
        F.sum(1 - F.col("pos")).cast("bigint").alias("nn"),
    )
    wd = Window.orderBy(F.col("b").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    wall = Window.partitionBy()
    c = h.select(
        "np",
        F.sum("np").over(wd).cast("bigint").alias("tp"),
        F.sum("nn").over(wd).cast("bigint").alias("fp"),
        F.sum("np").over(wall).cast("bigint").alias("p"),
        F.sum("nn").over(wall).cast("bigint").alias("n"),
    )
    terms = c.select(
        "p",
        "n",
        F.when(
            F.col("np") > 0,
            F.floor(
                (F.col("np").cast("decimal(38,0)") * F.col("tp") * 1000000000)
                .cast("string")
                .cast("double")
                / (F.col("p").cast("double") * (F.col("tp") + F.col("fp")))
            ).cast("bigint"),
        )
        .otherwise(F.lit(0).cast("bigint"))
        .alias("t_nano"),
    )
    return terms.agg(
        F.max("p").alias("n_pos"),
        F.max("n").alias("n_neg"),
        F.sum("t_nano").cast("bigint").alias("auc_pr_nano"),
    )


# --------------------------------------------------------------------
# 454. Brier-score decomposition — the forecast-quality triptych
# (Murphy 1973): brier = reliability - resolution + uncertainty.
# Forecast: per-discount-bin return rate learned on an md5-coin TRAIN
# split (integer ppm — a real fitted forecaster, not a tautology);
# evaluated on the held-out split. Every term is quantized to integer
# NANOS per bin before summing (DECIMAL(38) numerators, VARCHAR-hop
# FLOOR-double per term — never a DECIMAL integer-division, the r9
# rounding hazard), so the decomposition identity is auditable to the
# quantization floor and partition-invariant.
@query(
    "brier_decomposition_quality",
    oracle="""
WITH l AS (
  SELECT CAST(FLOOR(l_discount * 100 + 0.5) AS BIGINT) AS bin,
         CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y,
         substr(md5('brier:' || CAST(l_orderkey AS VARCHAR) || ':'
                    || CAST(l_linenumber AS VARCHAR)), 1, 1) < '8'
           AS is_train
  FROM lineitem),
f AS (
  SELECT bin, CAST(SUM(y) * 1000000 // COUNT(*) AS BIGINT) AS fc_ppm
  FROM l WHERE is_train GROUP BY bin),
t AS (
  SELECT l.bin, l.y, f.fc_ppm FROM l JOIN f ON f.bin = l.bin
  WHERE NOT l.is_train),
g AS (
  SELECT bin, fc_ppm, CAST(COUNT(*) AS BIGINT) AS nb,
         CAST(SUM(y) AS BIGINT) AS yb
  FROM t GROUP BY bin, fc_ppm),
m AS (
  SELECT CAST(SUM(nb) AS BIGINT) AS n, CAST(SUM(yb) AS BIGINT) AS ybar_num
  FROM g),
terms AS (
  SELECT m.n, m.ybar_num,
         CAST(FLOOR(CAST(CAST(
             (CAST(g.fc_ppm AS DECIMAL(38,0)) * g.nb - g.yb * 1000000)
           * (CAST(g.fc_ppm AS DECIMAL(38,0)) * g.nb - g.yb * 1000000)
           AS VARCHAR) AS DOUBLE)
           / (CAST(g.nb AS DOUBLE) * m.n * 1000.0)) AS BIGINT) AS rel_nano,
         CAST(FLOOR(CAST(CAST(
             (CAST(g.yb AS DECIMAL(38,0)) * m.n - CAST(m.ybar_num AS DECIMAL(38,0)) * g.nb)
           * (CAST(g.yb AS DECIMAL(38,0)) * m.n - CAST(m.ybar_num AS DECIMAL(38,0)) * g.nb)
           * 1000000000 AS VARCHAR) AS DOUBLE)
           / (CAST(g.nb AS DOUBLE) * m.n * m.n * m.n)) AS BIGINT) AS res_nano,
         CAST(g.nb * CAST(g.fc_ppm AS DECIMAL(38,0)) * g.fc_ppm
            - 2 * g.yb * CAST(g.fc_ppm AS DECIMAL(38,0)) * 1000000
            + g.yb * CAST(1000000 AS DECIMAL(38,0)) * 1000000
           AS DECIMAL(38,0)) AS brier_num
  FROM g, m),
agg AS (
  SELECT MAX(n) AS n, MAX(ybar_num) AS ybar_num,
         CAST(SUM(rel_nano) AS BIGINT) AS rel_nano,
         CAST(SUM(res_nano) AS BIGINT) AS res_nano,
         CAST(SUM(brier_num) AS DECIMAL(38,0)) AS brier_num
  FROM terms)
SELECT n AS n_test,
       CAST(FLOOR(CAST(CAST(brier_num AS VARCHAR) AS DOUBLE)
             / (CAST(n AS DOUBLE) * 1000.0)) AS BIGINT) AS brier_nano,
       rel_nano, res_nano,
       CAST(FLOOR(CAST(CAST(CAST(ybar_num AS DECIMAL(38,0))
                            * (n - ybar_num) * 1000000000 AS VARCHAR)
                       AS DOUBLE)
             / (CAST(n AS DOUBLE) * n)) AS BIGINT) AS unc_nano
FROM agg
""",
    # 1-row (n, ybar) frame crossed onto the 11-bin domain table
    allow={"BroadcastNestedLoopJoin"},
)
def brier_decomposition_quality(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select(
        F.floor(F.col("l_discount") * 100 + 0.5).cast("bigint").alias("bin"),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("y"),
        (
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("brier:"),
                        F.col("l_orderkey").cast("string"),
                        F.lit(":"),
                        F.col("l_linenumber").cast("string"),
                    )
                ),
                1,
                1,
            )
            < "8"
        ).alias("is_train"),
    )
    f = (
        li.filter("is_train")
        .groupBy("bin")
        .agg(
            F.expr(
                "CAST(SUM(y) * 1000000 div COUNT(*) AS BIGINT)"
            ).alias("fc_ppm")
        )
    )
    t = li.filter(~F.col("is_train")).join(F.broadcast(f), "bin")
    g = t.groupBy("bin", "fc_ppm").agg(
        F.count(F.lit(1)).cast("bigint").alias("nb"),
        F.sum("y").cast("bigint").alias("yb"),
    )
    m = g.agg(
        F.sum("nb").cast("bigint").alias("n"),
        F.sum("yb").cast("bigint").alias("ybar_num"),
    )
    gm = g.crossJoin(m)
    terms = gm.select(
        "n",
        "ybar_num",
        F.floor(
            F.expr(
                "CAST(CAST((CAST(fc_ppm AS DECIMAL(38,0)) * nb - yb * 1000000)"
                " * (CAST(fc_ppm AS DECIMAL(38,0)) * nb - yb * 1000000)"
                " AS STRING) AS DOUBLE)"
            )
            / (F.col("nb").cast("double") * F.col("n") * F.lit(1000.0))
        )
        .cast("bigint")
        .alias("rel_nano"),
        F.floor(
            F.expr(
                "CAST(CAST((CAST(yb AS DECIMAL(38,0)) * n"
                " - CAST(ybar_num AS DECIMAL(38,0)) * nb)"
                " * (CAST(yb AS DECIMAL(38,0)) * n"
                " - CAST(ybar_num AS DECIMAL(38,0)) * nb)"
                " * 1000000000 AS STRING) AS DOUBLE)"
            )
            / (
                F.col("nb").cast("double")
                * F.col("n")
                * F.col("n")
                * F.col("n")
            )
        )
        .cast("bigint")
        .alias("res_nano"),
        F.expr(
            "CAST(nb * CAST(fc_ppm AS DECIMAL(38,0)) * fc_ppm"
            " - 2 * yb * CAST(fc_ppm AS DECIMAL(38,0)) * 1000000"
            " + yb * CAST(1000000 AS DECIMAL(38,0)) * 1000000"
            " AS DECIMAL(38,0))"
        ).alias("brier_num"),
    )
    agg = terms.groupBy().agg(
        F.max("n").alias("n"),
        F.max("ybar_num").alias("ybar_num"),
        F.sum("rel_nano").cast("bigint").alias("rel_nano"),
        F.sum("res_nano").cast("bigint").alias("res_nano"),
        F.sum("brier_num").cast("decimal(38,0)").alias("brier_num"),
    )
    return agg.select(
        F.col("n").alias("n_test"),
        F.floor(
            F.col("brier_num").cast("string").cast("double")
            / (F.col("n").cast("double") * F.lit(1000.0))
        )
        .cast("bigint")
        .alias("brier_nano"),
        "rel_nano",
        "res_nano",
        F.floor(
            F.expr(
                "CAST(CAST(CAST(ybar_num AS DECIMAL(38,0))"
                " * (n - ybar_num) * 1000000000 AS STRING) AS DOUBLE)"
            )
            / (F.col("n").cast("double") * F.col("n"))
        )
        .cast("bigint")
        .alias("unc_nano"),
    )


# --------------------------------------------------------------------
# 455. additive Holt-Winters with a day-of-week season (m=7) — the
# seasonal completion of Holt #439 (level+trend+seasonality, the
# workhorse short-horizon ops forecaster). alpha=beta=gamma=1/2 keeps
# every step exact integer cents under the truncating halving (#439's
# engine-matched trunc2); init: level = 7-day mean (truncated), trend
# = 0, seasonals = first-week deviations. The corpus collapses to the
# day DOMAIN; the recurrence runs driver-side over that bounded table
# while the oracle replays it as a recursive CTE carrying the 7-slot
# seasonal RING as columns (most-recent-first, s7 = the lag-7 slot).
@query(
    "holt_winters_dow_daily",
    oracle="""
WITH RECURSIVE days AS MATERIALIZED (
  SELECT ROW_NUMBER() OVER (ORDER BY d) AS i, x FROM (
    SELECT CAST(datediff('day', DATE '1995-01-01',
                         CAST(o_orderdate AS DATE)) AS BIGINT) AS d,
           CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
             AS BIGINT) AS x
    FROM orders GROUP BY 1)),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM days),
l0 AS (SELECT CAST(SUM(x) // 7 AS BIGINT) AS l FROM days WHERE i <= 7),
r(i, l, b, s1, s2, s3, s4, s5, s6, s7) AS (
  SELECT CAST(7 AS BIGINT), l0.l, CAST(0 AS BIGINT),
         (SELECT x FROM days WHERE i = 7) - l0.l,
         (SELECT x FROM days WHERE i = 6) - l0.l,
         (SELECT x FROM days WHERE i = 5) - l0.l,
         (SELECT x FROM days WHERE i = 4) - l0.l,
         (SELECT x FROM days WHERE i = 3) - l0.l,
         (SELECT x FROM days WHERE i = 2) - l0.l,
         (SELECT x FROM days WHERE i = 1) - l0.l
  FROM l0
  UNION ALL
  SELECT d.i,
         (d.x - r.s7 + r.l + r.b) // 2,
         (((d.x - r.s7 + r.l + r.b) // 2) - r.l + r.b) // 2,
         (d.x - ((d.x - r.s7 + r.l + r.b) // 2) + r.s7) // 2,
         r.s1, r.s2, r.s3, r.s4, r.s5, r.s6
  FROM r JOIN days d ON d.i = r.i + 1)
SELECT n.n AS n_days,
       CAST(r.l AS BIGINT) AS level_cents,
       CAST(r.b AS BIGINT) AS trend_cents,
       CAST(r.l + r.b + r.s7 AS BIGINT) AS forecast_1d_cents
FROM r, n WHERE r.i = n.n
""",
)
def holt_winters_dow_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    from koalas_spark.queries.analytics import daily_revenue_table

    days = daily_revenue_table(spark, sf_dir)
    rows = sorted(
        ((r["d"], r["x"]) for r in days.collect()), key=lambda t: t[0]
    )
    xs = [int(x) for _, x in rows]
    n = len(xs)

    def trunc2(v: int) -> int:
        # DuckDB's integer // truncates toward zero (#439)
        return -((-v) // 2) if v < 0 else v // 2

    lvl = sum(xs[:7]) // 7  # non-negative: plain // == trunc
    trend = 0
    # ring most-recent-first: ring[0] = s_t, ring[6] = s_{t-6};
    # the lag-7 slot consumed at step t+1 is ring[6]
    ring = [xs[i] - lvl for i in range(6, -1, -1)]
    for t in range(7, n):
        s_lag7 = ring[6]
        new_lvl = trunc2(xs[t] - s_lag7 + lvl + trend)
        trend = trunc2(new_lvl - lvl + trend)
        new_s = trunc2(xs[t] - new_lvl + s_lag7)
        lvl = new_lvl
        ring = [new_s] + ring[:6]
    return local_rows(
        spark,
        [(n, lvl, trend, lvl + trend + ring[6])],
        "n_days bigint, level_cents bigint, trend_cents bigint,"
        " forecast_1d_cents bigint",
    )
