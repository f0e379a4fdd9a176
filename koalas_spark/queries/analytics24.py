"""Round-9 batch-2 additions (SURVEY.md §2 extensions): K-fold target
encoding, WOE/IV feature binning, Wilson lower-bound ranking, and
capped Adamic-Adar link prediction.

Reference parity note: none of these exist in the reference (its
surface is the frame ops in source/koalas/dataframe.d:73-311); they
extend the ML-feature-engineering and graph shelves under the repo
determinism rules (queries/__init__.py docstring): exact integer
ppm/nano quantization before any SUM, md5 portable hashing,
non-negative integer division, per-value transcendental quantization
(the #221 discipline), identical double expression shapes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from koalas_spark.queries import query
from koalas_spark.queries.analytics import _t


# --------------------------------------------------------------------
# 296. K-fold target encoding — the leakage-safe categorical encoder
# every tabular-ML pipeline ships: each (category, fold) cell gets the
# label mean computed from the OTHER folds only (out-of-fold), so a
# row never sees its own label. Fold is a portable md5 hash of the
# order key (ascii of the first hex char mod 5); the encoding is
# (total_sum - fold_sum) / (total_n - fold_n) in exact integer ppm
# (non-negative operands, so // agrees across engines). ONE map-side-
# combined groupBy on (category, fold); the per-category totals come
# from a window over the 25-cell domain table — corpus touched once.
@query(
    "target_encoding_kfold",
    oracle="""
WITH s AS (
  SELECT o_orderpriority AS cat,
         ascii(substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1)) % 5 AS fold,
         CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
  FROM orders),
cf AS (
  SELECT cat, fold, CAST(COUNT(*) AS BIGINT) AS n_cf,
         CAST(SUM(y) AS BIGINT) AS s_cf
  FROM s GROUP BY cat, fold),
t AS (
  SELECT cat, fold, n_cf, s_cf,
         SUM(n_cf) OVER (PARTITION BY cat) AS n_c,
         SUM(s_cf) OVER (PARTITION BY cat) AS s_c
  FROM cf)
SELECT cat, fold, n_cf AS n_fold,
       CASE WHEN n_c - n_cf > 0
            THEN CAST(((s_c - s_cf) * 1000000) // (n_c - n_cf) AS BIGINT)
       END AS enc_oof_ppm
FROM t
""",
)
def target_encoding_kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("cat"),
        (
            F.ascii(F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 1))
            % 5
        ).alias("fold"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("y"),
    )
    cf = o.groupBy("cat", "fold").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_cf"),
        F.sum("y").cast("bigint").alias("s_cf"),
    )
    w = Window.partitionBy("cat")
    t = cf.select(
        "cat",
        "fold",
        "n_cf",
        "s_cf",
        F.sum("n_cf").over(w).alias("n_c"),
        F.sum("s_cf").over(w).alias("s_c"),
    )
    return t.select(
        "cat",
        "fold",
        F.col("n_cf").alias("n_fold"),
        F.when(
            F.col("n_c") - F.col("n_cf") > 0,
            F.expr(
                "CAST(((s_c - s_cf) * 1000000) div (n_c - n_cf) AS BIGINT)"
            ),
        ).alias("enc_oof_ppm"),
    )


# --------------------------------------------------------------------
# 297. WOE / IV feature binning — the credit-scoring staple: per
# quantity bin (l_quantity is a bounded 1..50 integer domain, so the
# bins ARE the domain — no quantile pass needed), weight-of-evidence
# ln(good_share/bad_share) against the returned-flag label, and the
# bin's information-value contribution (good_ppm - bad_ppm) * woe.
# ONE corpus groupBy; shares are exact integer ppm; the single ln is
# quantized to nanos PER VALUE before the IV product (the #221
# discipline), and the double ratio appears once with an identical
# shape on both engines. Bins where either class is empty yield NULL
# woe (log of 0 or inf) on both sides.
@query(
    "woe_iv_quantity_bins",
    oracle="""
WITH b AS (
  SELECT CAST(l_quantity AS INT) AS bin,
         CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT)
           AS bad,
         CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 0 ELSE 1 END) AS BIGINT)
           AS good
  FROM lineitem GROUP BY 1),
t AS (
  SELECT bin, good, bad,
         SUM(good) OVER () AS g_tot, SUM(bad) OVER () AS b_tot
  FROM b),
p AS (
  SELECT bin, good, bad,
         CAST((good * 1000000) // g_tot AS BIGINT) AS good_ppm,
         CAST((bad * 1000000) // b_tot AS BIGINT) AS bad_ppm
  FROM t),
w AS (
  SELECT bin, good, bad, good_ppm, bad_ppm,
         CASE WHEN good_ppm > 0 AND bad_ppm > 0
              THEN CAST(FLOOR(LN(CAST(good_ppm AS DOUBLE)
                                 / CAST(bad_ppm AS DOUBLE)) * 1000000000
                              + 0.5) AS BIGINT)
         END AS woe_nano
  FROM p)
SELECT bin, good, bad, good_ppm, bad_ppm, woe_nano,
       CASE WHEN woe_nano IS NOT NULL
            THEN (good_ppm - bad_ppm) * woe_nano
       END AS iv_contrib
FROM w
""",
    # WOE/IV over the bounded 1..50 quantity-bin domain
    allow={"GlobalWindow"},
)
def woe_iv_quantity_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("int").alias("bin"),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("is_bad"),
    )
    b = li.groupBy("bin").agg(
        F.sum("is_bad").cast("bigint").alias("bad"),
        F.sum(1 - F.col("is_bad")).cast("bigint").alias("good"),
    )
    # window over the <=50-row bin domain (corpus-size-independent)
    w = Window.partitionBy()
    t = b.select(
        "bin",
        "good",
        "bad",
        F.sum("good").over(w).alias("g_tot"),
        F.sum("bad").over(w).alias("b_tot"),
    )
    p = t.select(
        "bin",
        "good",
        "bad",
        F.expr("CAST((good * 1000000) div g_tot AS BIGINT)").alias("good_ppm"),
        F.expr("CAST((bad * 1000000) div b_tot AS BIGINT)").alias("bad_ppm"),
    )
    woe = F.when(
        (F.col("good_ppm") > 0) & (F.col("bad_ppm") > 0),
        F.floor(
            F.log(
                F.col("good_ppm").cast("double")
                / F.col("bad_ppm").cast("double")
            )
            * 1000000000
            + 0.5
        ).cast("bigint"),
    )
    out = p.withColumn("woe_nano", woe)
    return out.withColumn(
        "iv_contrib",
        F.when(
            F.col("woe_nano").isNotNull(),
            (F.col("good_ppm") - F.col("bad_ppm")) * F.col("woe_nano"),
        ),
    )


# --------------------------------------------------------------------
# 298. Wilson lower-bound ranking — "how not to sort by average
# rating": per part brand, the 95% Wilson score interval's lower
# bound on the return rate, which ranks a 10/100 brand above a 1/3
# brand. One lineitem⋈part equi-join (part side AQE-broadcastable at
# bench SFs; plain shuffle join above), one 25-row brand aggregate;
# the closed-form appears ONCE with an identical IEEE shape in both
# engines (sqrt is correctly-rounded by IEEE 754, division and
# multiplication are deterministic), rounded to 6 dp at the end.
@query(
    "wilson_return_ranking",
    oracle="""
WITH b AS (
  SELECT p.p_brand AS brand, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END)
              AS BIGINT) AS r
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  GROUP BY 1)
SELECT brand, n_i AS n, r_i AS r,
       ROUND((r / n + 1.9208 / n - 1.96 * SQRT((r / n) * (1.0 - r / n) / n
              + 0.9604 / (n * n))) / (1.0 + 3.8416 / n), 6)
         AS wilson_lb,
       CAST(ROW_NUMBER() OVER (
         ORDER BY ROUND((r / n + 1.9208 / n - 1.96 * SQRT((r / n) * (1.0 - r / n) / n
                         + 0.9604 / (n * n))) / (1.0 + 3.8416 / n), 6) DESC,
                  brand ASC) AS INT) AS rk
FROM (SELECT brand, CAST(n AS DOUBLE) AS n, CAST(r AS DOUBLE) AS r,
             n AS n_i, r AS r_i FROM b) t
""",
    # Wilson-bound rank over the 25-row brand aggregate
    allow={"GlobalWindow"},
)
def wilson_return_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_returnflag")
    pt = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    b = (
        li.join(pt, li.l_partkey == pt.p_partkey)
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_i"),
            F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0))
            .cast("bigint")
            .alias("r_i"),
        )
    )
    wilson = F.round(
        F.expr(
            "(CAST(r_i AS DOUBLE) / CAST(n_i AS DOUBLE)"
            " + 1.9208 / CAST(n_i AS DOUBLE)"
            " - 1.96 * SQRT((CAST(r_i AS DOUBLE) / CAST(n_i AS DOUBLE))"
            "   * (1.0 - CAST(r_i AS DOUBLE) / CAST(n_i AS DOUBLE))"
            "   / CAST(n_i AS DOUBLE)"
            "   + 0.9604 / (CAST(n_i AS DOUBLE) * CAST(n_i AS DOUBLE))))"
            " / (1.0 + 3.8416 / CAST(n_i AS DOUBLE))"
        ),
        6,
    )
    scored = b.select(
        "brand",
        F.col("n_i").alias("n"),
        F.col("r_i").alias("r"),
        wilson.alias("wilson_lb"),
    )
    wk = Window.orderBy(F.col("wilson_lb").desc(), F.col("brand").asc())
    return scored.withColumn(
        "rk", F.row_number().over(wk).cast("int")
    )


# --------------------------------------------------------------------
# 299. capped Adamic-Adar link prediction — "people also bought"
# candidate generation over the co-purchase graph (#170 artifact):
# for each PROBE item (partkey % 97 = 0 stands in for the slate
# request batch), score every not-yet-connected item v by
# sum over common neighbors c of 1/ln(deg(c)), with hub centers
# (deg > 256) EXCLUDED — the standard production cap: a hub's
# per-path contribution is epsilon noise AND the cap bounds the wedge
# fanout. The probe restriction is what makes this 100 TB-shaped:
# wedge work is |probes| x deg(probe) x cap, NOT the all-pairs
# sum-of-degrees-squared quadratic (same discipline as the
# contamination probe set, #95). 1/ln(deg) is quantized to nanos PER
# CENTER before the SUM, so the additive score is an exact integer on
# both engines. Top-5 per probe with a (score desc, v) tie-break.
@query(
    "adamic_adar_link_prediction",
    oracle="""
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
e AS MATERIALIZED (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
adj AS MATERIALIZED (
  SELECT u AS c, v AS x FROM e UNION ALL SELECT v, u FROM e),
ctr AS MATERIALIZED (
  SELECT c, CAST(FLOOR(1000000000 / LN(CAST(dg AS DOUBLE)) + 0.5)
                 AS BIGINT) AS inv_nano
  FROM (SELECT c, CAST(COUNT(*) AS BIGINT) AS dg FROM adj GROUP BY c) d
  WHERE dg >= 2 AND dg <= 256),
cand AS MATERIALIZED (
  SELECT a1.x AS u, a2.x AS v,
         CAST(COUNT(*) AS BIGINT) AS n_common,
         CAST(SUM(ctr.inv_nano) AS BIGINT) AS aa_nano
  FROM adj a1
  JOIN ctr ON ctr.c = a1.c
  JOIN adj a2 ON a2.c = a1.c AND a2.x <> a1.x
  WHERE a1.x % 97 = 0
  GROUP BY 1, 2),
open_pairs AS (
  SELECT cand.* FROM cand
  WHERE NOT EXISTS (SELECT 1 FROM e
                    WHERE e.u = LEAST(cand.u, cand.v)
                      AND e.v = GREATEST(cand.u, cand.v)))
SELECT u, v, n_common, aa_nano, rk FROM (
  SELECT u, v, n_common, aa_nano,
         CAST(ROW_NUMBER() OVER (PARTITION BY u
                                 ORDER BY aa_nano DESC, v ASC) AS INT) AS rk
  FROM open_pairs) t
WHERE rk <= 5
""",
)
def adamic_adar_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    from koalas_spark.queries.mining import (
        _copurchase_edge_set,
        bcast_e,
        bcast_v,
        copurchase_degree_table,
        symmetric,
    )

    e = _copurchase_edge_set(spark, sf_dir)
    adj = symmetric(e).toDF("c", "x")
    # r13 plan rework (the jaccard_link_copurchase shape, guide
    # §2.4/§3.1): center weights come from the shared |V|-sized degree
    # table (no fresh 2|E|-row aggregate) and broadcast under the |V|
    # gate; the %97 probe side broadcasts under the |E| gate so the
    # full adjacency streams through the wedge join; the closing
    # anti-join's edge side broadcasts under the same gate. The only
    # remaining exchanges are the inherent (u, v) wedge aggregate and
    # the per-probe window. Was: 4 sort-merge joins over 8 exchanges.
    ctr = (
        copurchase_degree_table(spark, sf_dir)
        .filter((F.col("dg") >= 2) & (F.col("dg") <= 256))
        .select(
            F.col("x").alias("c"),
            F.floor(1000000000 / F.log(F.col("dg").cast("double")) + 0.5)
            .cast("bigint")
            .alias("inv_nano"),
        )
        .alias("ctr")
    )
    a1 = (
        adj.filter(F.col("x") % 97 == 0)
        .alias("a1")
        .join(bcast_v(ctr, sf_dir), F.col("ctr.c") == F.col("a1.c"))
    )
    a2 = adj.alias("a2")
    cand = (
        bcast_e(a1, sf_dir)
        .join(
            a2,
            (F.col("a2.c") == F.col("a1.c"))
            & (F.col("a2.x") != F.col("a1.x")),
        )
        .groupBy(F.col("a1.x").alias("u"), F.col("a2.x").alias("v"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_common"),
            F.sum("inv_nano").cast("bigint").alias("aa_nano"),
        )
    )
    open_pairs = cand.join(
        bcast_e(e, sf_dir),
        (e.u == F.least(cand.u, cand.v)) & (e.v == F.greatest(cand.u, cand.v)),
        "left_anti",
    )
    wk = Window.partitionBy("u").orderBy(
        F.col("aa_nano").desc(), F.col("v").asc()
    )
    return (
        open_pairs.withColumn("rk", F.row_number().over(wk).cast("int"))
        .filter(F.col("rk") <= 5)
        .select("u", "v", "n_common", "aa_nano", "rk")
    )
