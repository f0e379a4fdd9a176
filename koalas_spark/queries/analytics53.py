"""Round-10 batch-1 additions (SURVEY.md §2 extensions): the scale
lever for the wedge family (VERDICT r9 item 4) and the AQE skew-join
demonstration query (VERDICT r9 item 6).

Reference parity note: not in the reference (its surface is the frame
ops in source/koalas/dataframe.d:73-311); determinism per the repo
rules (queries/__init__.py docstring): portable md5 coins, exact
cross-multiplied ppm integers, exact //.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from koalas_spark.queries import query
from koalas_spark.queries.analytics import _t


# --------------------------------------------------------------------
# 395. sampled+capped Jaccard link prediction — the DOULION-style
# scale twin of #353 (the verdict's 15.3x-per-decade wedge-family
# outlier). Two levers, both applied BEFORE the quadratic wedge
# stage:
#   (a) edge sampling: each canonical co-purchase edge survives a
#       deterministic p = 1/2 md5 coin (the #207 device:
#       substr(md5(u ':' v),1,4) < '8000'), shrinking the wedge
#       stage ~p^2 (4x) and every shuffle after it ~p;
#   (b) a TIGHTER hub cap: wedge centers keep 2 <= sampled-deg <= 64
#       (vs #353's 256), so per-center fanout is 16x smaller in the
#       worst case; wedge work is bounded by 64 * |sampled adj|.
# Estimator: with sampled counts nc_s ~ p^2*nc and d_s ~ p*d, the
# horvitz-thompson plug-in is j^ = (nc_s/p^2) / (du_s/p + dv_s/p -
# nc_s/p^2) = 2*nc_s / (du_s + dv_s - 2*nc_s) at p = 1/2 — shipped
# as an exact cross-multiplied ppm integer (no doubles; denominator
# positivity guarded). Openness (the no-existing-edge filter) is
# checked against the FULL edge set — a linear anti equi-join — so
# sampling never promotes a closed pair. The coin is pinned, so the
# estimate is deterministic and value-oracle-checked on both engines;
# the sf1/sf10 ERROR-vs-#353 measurement lives in SCALING.md.
@query(
    "jaccard_link_sampled",
    oracle="""
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
e AS MATERIALIZED (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
es AS MATERIALIZED (
  SELECT u, v FROM e
  WHERE substr(md5(CAST(u AS VARCHAR) || ':' || CAST(v AS VARCHAR)), 1, 4)
        < '8000'),
adj AS MATERIALIZED (
  SELECT u AS c, v AS x FROM es UNION ALL SELECT v, u FROM es),
deg AS MATERIALIZED (
  SELECT c AS x, CAST(COUNT(*) AS BIGINT) AS dg FROM adj GROUP BY c),
ctr AS MATERIALIZED (
  SELECT x AS c FROM deg WHERE dg >= 2 AND dg <= 64),
cand AS MATERIALIZED (
  SELECT a1.x AS u, a2.x AS v, CAST(COUNT(*) AS BIGINT) AS n_common_s
  FROM adj a1
  JOIN ctr ON ctr.c = a1.c
  JOIN adj a2 ON a2.c = a1.c AND a2.x <> a1.x
  WHERE a1.x % 97 = 0
  GROUP BY 1, 2),
open_pairs AS (
  SELECT cand.u, cand.v, cand.n_common_s,
         CAST((cand.n_common_s * 2000000)
              // (du.dg + dv.dg - 2 * cand.n_common_s) AS BIGINT)
           AS jac_ppm_est
  FROM cand
  JOIN deg du ON du.x = cand.u
  JOIN deg dv ON dv.x = cand.v
  WHERE du.dg + dv.dg - 2 * cand.n_common_s > 0
    AND NOT EXISTS (SELECT 1 FROM e
                    WHERE e.u = LEAST(cand.u, cand.v)
                      AND e.v = GREATEST(cand.u, cand.v)))
SELECT u, v, n_common_s, jac_ppm_est, rk FROM (
  SELECT u, v, n_common_s, jac_ppm_est,
         CAST(ROW_NUMBER() OVER (PARTITION BY u
                                 ORDER BY jac_ppm_est DESC, v ASC) AS INT)
           AS rk
  FROM open_pairs) t
WHERE rk <= 5
""",
)
def jaccard_link_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    from koalas_spark.queries.mining import (
        _copurchase_edge_set,
        bcast_v,
        open_pairs,
        probe_wedges,
        symmetric,
    )

    coin = F.substring(
        F.md5(
            F.concat(
                F.col("u").cast("string"), F.lit(":"), F.col("v").cast("string")
            )
        ),
        1,
        4,
    )
    # full edge set once; the sampled projection filters it (the coin
    # commutes with the pair dedup — see #207's pushdown note)
    e = _copurchase_edge_set(spark, sf_dir)
    adj = symmetric(e.filter(coin < "8000")).toDF("c", "x")
    # The SAMPLED degree table cannot come from the shared artifact
    # (it counts the coin-surviving adjacency only), but it is still
    # |V|-sized, so one localCheckpoint lets the cap filter, both
    # denominator lookups and the center gate share a single build
    # instead of re-aggregating the sampled adjacency three times.
    deg = (
        adj.groupBy("c")
        .agg(F.count(F.lit(1)).cast("bigint").alias("dg"))
        .select(F.col("c").alias("x"), "dg")
        .localCheckpoint(eager=False)
    )
    ctr = deg.filter((F.col("dg") >= 2) & (F.col("dg") <= 64)).select(
        F.col("x").alias("c")
    )
    cand = (
        probe_wedges(adj, ctr, sf_dir)
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_common_s"))
    )
    du = bcast_v(
        deg.select(F.col("x").alias("u"), F.col("dg").alias("dg_u")), sf_dir
    )
    dv = bcast_v(
        deg.select(F.col("x").alias("v"), F.col("dg").alias("dg_v")), sf_dir
    )
    scored = open_pairs(
        cand.join(du, "u")
        .join(dv, "v")
        .filter(F.col("dg_u") + F.col("dg_v") - 2 * F.col("n_common_s") > 0),
        e,
        sf_dir,
    ).select(
        "u",
        "v",
        "n_common_s",
        F.expr(
            "CAST((n_common_s * 2000000)"
            " div (dg_u + dg_v - 2 * n_common_s) AS BIGINT)"
        ).alias("jac_ppm_est"),
    )
    wk = Window.partitionBy("u").orderBy(
        F.col("jac_ppm_est").desc(), F.col("v").asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(wk).cast("int"))
        .filter(F.col("rk") <= 5)
        .select("u", "v", "n_common_s", "jac_ppm_est", "rk")
    )


# --------------------------------------------------------------------
# 396. hot-key fact-fact join under AQE skew splitting — the skew
# demonstration the salted_join operator (operators/skew.py) dodges:
# 75% of lineitem rows collapse onto join key 0 (a deliberate,
# deterministic hot key: jk = 0 unless l_orderkey % 4 == 0); the other
# side is the matching order headers for the surviving keys plus ONE
# catch-all row for the hot key — built filter+union, NOT by a groupBy,
# deliberately: an aggregate's own exchange already satisfies the
# join's partitioning, so EnsureRequirements would not insert a fresh
# shuffle and OptimizeSkewedJoin (which only matches
# SMJ(Sort(Shuffle), Sort(Shuffle))) could never split this join. The
# per-row md5 fingerprint rides along so the hot partition's SHUFFLE
# BYTES scale with its rows (a constant key alone run-length-compresses
# to almost nothing, hiding the skew from AQE's byte-based detector —
# measured 23x row skew reading as 2.4x byte skew without it). The
# merge hint pins the SortMergeJoin (no broadcast escape hatch); the
# join stays N:1 so output is linear in lineitem.
# tests/test_skew_join.py rebuilds the inputs with production-shaped
# multi-chunk files (the driver's single-row-group parquet gives the
# hot partition a single map chunk, which is detectable but not
# SPLITTABLE), lowers the thresholds, and asserts the split FIRES
# (skew=true) on exactly this registered code path; at 100 TB the
# default 256 MB threshold engages without any config. Result: 2-row
# hot/tail rollup, exact cents.
@query(
    "skew_hot_key_join_stats",
    oracle="""
WITH lk AS (
  SELECT CASE WHEN l_orderkey % 4 <> 0 THEN 0 ELSE l_orderkey END AS jk,
         CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100 + 0.5)
              AS BIGINT) AS cents,
         md5(CAST(l_orderkey AS VARCHAR) || '#'
             || CAST(l_linenumber AS VARCHAR)) AS fp
  FROM lineitem),
rk AS (
  SELECT o_orderkey AS jk,
         CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS hdr_cents
  FROM orders WHERE o_orderkey % 4 = 0
  UNION ALL
  SELECT CAST(0 AS BIGINT), CAST(0 AS BIGINT))
SELECT CASE WHEN lk.jk = 0 THEN 'hot' ELSE 'tail' END AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(SUM(lk.cents) AS BIGINT) AS revenue_cents,
       CAST(SUM(rk.hdr_cents) AS BIGINT) AS hdr_cents_sum,
       MAX(lk.fp) AS max_fp
FROM lk JOIN rk ON rk.jk = lk.jk
GROUP BY 1 ORDER BY 1
""",
)
def skew_hot_key_join_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select(
        F.when(F.col("l_orderkey") % 4 != 0, F.lit(0).cast("bigint"))
        .otherwise(F.col("l_orderkey"))
        .alias("jk"),
        F.floor(
            F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100 + 0.5
        )
        .cast("bigint")
        .alias("cents"),
        F.md5(
            F.concat(
                F.col("l_orderkey").cast("string"),
                F.lit("#"),
                F.col("l_linenumber").cast("string"),
            )
        ).alias("fp"),
    )
    spark_1row = spark.range(1).select(
        F.lit(0).cast("bigint").alias("jk"),
        F.lit(0).cast("bigint").alias("hdr_cents"),
    )
    rt = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 4 == 0)
        .select(
            F.col("o_orderkey").alias("jk"),
            F.floor(F.col("o_totalprice") * 100 + 0.5)
            .cast("bigint")
            .alias("hdr_cents"),
        )
        .unionAll(spark_1row)
    )
    joined = li.join(rt.hint("merge"), "jk")
    return (
        joined.groupBy(
            F.when(F.col("jk") == 0, F.lit("hot"))
            .otherwise(F.lit("tail"))
            .alias("bucket")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
            F.sum("cents").cast("bigint").alias("revenue_cents"),
            F.sum("hdr_cents").cast("bigint").alias("hdr_cents_sum"),
            F.max("fp").alias("max_fp"),
        )
        .orderBy("bucket")
    )
