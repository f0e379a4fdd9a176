"""Round-9 batch-10 additions (SURVEY.md §2 extensions): k-core
peeling, Wald–Wolfowitz runs test, md5-coin uniformity audit.

Reference parity note: none of these exist in the reference (its
surface is the frame ops in source/koalas/dataframe.d:73-311); they
extend the graph / statistics / infra-validation shelves under the
repo determinism rules (queries/__init__.py docstring): MATERIALIZED
iterative oracle CTEs, identical double expression shapes, exact
integer cross-multiplication, bounded-domain windows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from koalas_spark.frame import local_rows
from koalas_spark.queries import query
from koalas_spark.queries.analytics import _t


# --------------------------------------------------------------------
# 327. k-core peeling rounds — the dense-subgraph extractor behind
# community seeds and spam-ring detection: iteratively drop nodes of
# degree < k from the co-purchase graph (#170 artifact) and report
# each round's survivor count. Three peel rounds, the oracle's fixed-
# round prefix (the converged core needs a loop; the fixed prefix is
# the oracle-replayable shape, the same discipline as #258's fixed-hop
# BFS); k = 8. A peel round is one semi-join of the edge list against
# the surviving nodes plus one degree groupBy, O(|E|), never quadratic.
@query(
    "kcore_peeling_rounds",
    oracle="""
WITH li AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
e0 AS MATERIALIZED (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
g1 AS MATERIALIZED (SELECT u, v FROM e0 UNION ALL SELECT v, u FROM e0),
s1 AS MATERIALIZED (
  SELECT u FROM g1 GROUP BY u HAVING COUNT(*) >= 8),
g2 AS MATERIALIZED (
  SELECT g1.u, g1.v FROM g1
  WHERE g1.u IN (SELECT u FROM s1) AND g1.v IN (SELECT u FROM s1)),
s2 AS MATERIALIZED (
  SELECT u FROM g2 GROUP BY u HAVING COUNT(*) >= 8),
g3 AS MATERIALIZED (
  SELECT g2.u, g2.v FROM g2
  WHERE g2.u IN (SELECT u FROM s2) AND g2.v IN (SELECT u FROM s2)),
s3 AS MATERIALIZED (
  SELECT u FROM g3 GROUP BY u HAVING COUNT(*) >= 8)
SELECT rnd, n_survivors FROM (
  SELECT 1 AS rnd, CAST(COUNT(*) AS BIGINT) AS n_survivors FROM s1
  UNION ALL SELECT 2, CAST(COUNT(*) AS BIGINT) FROM s2
  UNION ALL SELECT 3, CAST(COUNT(*) AS BIGINT) FROM s3)
""",
)
def kcore_peeling_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    from koalas_spark.queries.mining import (
        bcast_v,
        copurchase_adjacency,
        copurchase_degree_table,
    )

    # Exact fixed-point exit. Peeling only removes nodes, s_r ⊆ s_{r-1}
    # ⊆ V (s_0 = V), so a round that keeps the survivor count keeps the
    # survivor set and the graph: every later round repeats that count.
    # Round 1's count and |V| are one aggregate over the |V|-sized
    # degree artifact; at every shipped scale factor |s_1| = |V| and no
    # peel round runs. A peel round semi-joins the adjacency (built on
    # first need) against the survivors, broadcast under the bcast_v
    # gate, and its survivors' count() is its one action.
    deg = copurchase_degree_table(spark, sf_dir)
    n_v, n_1 = deg.agg(F.count(F.lit(1)), F.count_if(F.col("dg") >= 8)).first()
    counts = [n_v, n_1]
    adj = g = None
    surv = deg.filter(F.col("dg") >= 8).select(F.col("x").alias("u"))
    for _ in (2, 3):
        if counts[-1] == counts[-2]:
            counts.append(counts[-1])
            continue
        if adj is None:
            adj = g = copurchase_adjacency(spark, sf_dir)
        g = g.join(bcast_v(surv, sf_dir), "u", "left_semi").join(
            bcast_v(surv.select(F.col("u").alias("v")), sf_dir), "v", "left_semi"
        )
        surv = (
            g.groupBy("u")
            .agg(F.count(F.lit(1)).alias("dg"))
            .filter(F.col("dg") >= 8)
            .select("u")
            .localCheckpoint(eager=False)
        )
        counts.append(surv.count())
    if adj is not None:
        adj.unpersist()
    return local_rows(
        spark,
        [(rnd, n) for rnd, n in enumerate(counts[1:], 1)],
        "rnd int, n_survivors bigint",
    )


# --------------------------------------------------------------------
# 328. Wald–Wolfowitz runs test — is the daily revenue direction
# (up/down vs previous day) a random sequence, or does it trend/mean-
# revert? Counts runs of consecutive same-direction days over the
# bounded day domain (#daily artifact), then the z statistic against
# the expected run count 2·n₊·n₋/n + 1 — one identical-shape double
# sequence. Complements Mann-Kendall (#279): MK tests monotone trend,
# runs tests serial dependence of the SIGNS.
@query(
    "runs_test_daily_direction",
    oracle="""
WITH daily AS (
  SELECT datediff('day', DATE '1995-01-01', o_orderdate) AS d,
         CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
              AS BIGINT) AS x
  FROM orders GROUP BY 1),
dirs AS (
  SELECT d, CASE WHEN x > LAG(x) OVER (ORDER BY d) THEN 1
                 WHEN x < LAG(x) OVER (ORDER BY d) THEN -1 END AS dir
  FROM daily),
nz AS (SELECT d, dir FROM dirs WHERE dir IS NOT NULL),
runs AS (
  SELECT CAST(SUM(CASE WHEN dir <> prev OR prev IS NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS n_runs,
         CAST(SUM(CASE WHEN dir = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_up,
         CAST(SUM(CASE WHEN dir = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dn
  FROM (SELECT dir, LAG(dir) OVER (ORDER BY d) AS prev FROM nz) t)
SELECT n_runs, n_up, n_dn,
       ROUND((CAST(n_runs AS DOUBLE)
              - (2.0 * CAST(n_up AS DOUBLE) * CAST(n_dn AS DOUBLE)
                 / (CAST(n_up AS DOUBLE) + CAST(n_dn AS DOUBLE)) + 1.0))
             / SQRT(2.0 * CAST(n_up AS DOUBLE) * CAST(n_dn AS DOUBLE)
                    * (2.0 * CAST(n_up AS DOUBLE) * CAST(n_dn AS DOUBLE)
                       - CAST(n_up AS DOUBLE) - CAST(n_dn AS DOUBLE))
                    / ((CAST(n_up AS DOUBLE) + CAST(n_dn AS DOUBLE))
                       * (CAST(n_up AS DOUBLE) + CAST(n_dn AS DOUBLE))
                       * (CAST(n_up AS DOUBLE) + CAST(n_dn AS DOUBLE) - 1.0))),
             6) AS z_stat
FROM runs
""",
    # run counting over the day-domain artifact
    allow={"GlobalWindow"},
)
def runs_test_daily_direction(spark: SparkSession, sf_dir: str) -> DataFrame:
    from koalas_spark.queries.analytics import daily_revenue_table

    daily = daily_revenue_table(spark, sf_dir)
    wd = Window.orderBy("d")
    dirs = daily.select(
        "d",
        F.when(F.col("x") > F.lag("x").over(wd), 1)
        .when(F.col("x") < F.lag("x").over(wd), -1)
        .alias("dir"),
    ).filter(F.col("dir").isNotNull())
    t = dirs.select("dir", F.lag("dir").over(wd).alias("prev"))
    runs = t.agg(
        F.sum(
            F.when(
                (F.col("dir") != F.col("prev")) | F.col("prev").isNull(), 1
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_runs"),
        F.sum(F.when(F.col("dir") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_up"),
        F.sum(F.when(F.col("dir") == -1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_dn"),
    )
    return runs.select(
        "n_runs",
        "n_up",
        "n_dn",
        F.round(
            F.expr(
                "(CAST(n_runs AS DOUBLE)"
                " - (2.0 * CAST(n_up AS DOUBLE) * CAST(n_dn AS DOUBLE)"
                "    / (CAST(n_up AS DOUBLE) + CAST(n_dn AS DOUBLE)) + 1.0))"
                " / SQRT(2.0 * CAST(n_up AS DOUBLE) * CAST(n_dn AS DOUBLE)"
                "    * (2.0 * CAST(n_up AS DOUBLE) * CAST(n_dn AS DOUBLE)"
                "       - CAST(n_up AS DOUBLE) - CAST(n_dn AS DOUBLE))"
                "    / ((CAST(n_up AS DOUBLE) + CAST(n_dn AS DOUBLE))"
                "       * (CAST(n_up AS DOUBLE) + CAST(n_dn AS DOUBLE))"
                "       * (CAST(n_up AS DOUBLE) + CAST(n_dn AS DOUBLE)"
                "          - 1.0)))"
            ),
            6,
        ).alias("z_stat"),
    )


# --------------------------------------------------------------------
# 329. md5-coin uniformity audit — validates the repo's OWN sampling
# infrastructure: every stable split/sample here keys on an md5
# prefix (train_test_split #94, weighted_sample #246, the A/B coin
# #216...), which is only sound if the coin is uniform over this
# id population. Buckets the first md5 byte of every order key into
# 256 cells and reports the max |observed − expected| deviation in
# exact cross-multiplied ppm plus the chi² statistic (one
# identical-shape double). A generator or hash regression shows up
# here before it silently skews every sampled pipeline.
@query(
    "hash_uniformity_audit",
    oracle="""
WITH b AS (
  SELECT (CASE WHEN ascii(substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1))
                     >= 97
                THEN ascii(substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1)) - 87
                ELSE ascii(substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1)) - 48
           END) * 16
         + CASE WHEN ascii(substr(md5(CAST(o_orderkey AS VARCHAR)), 2, 1))
                     >= 97
                THEN ascii(substr(md5(CAST(o_orderkey AS VARCHAR)), 2, 1)) - 87
                ELSE ascii(substr(md5(CAST(o_orderkey AS VARCHAR)), 2, 1)) - 48
           END AS cell,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM orders GROUP BY 1),
t AS (SELECT CAST(SUM(c) AS BIGINT) AS n,
             CAST(COUNT(*) AS BIGINT) AS n_cells FROM b)
SELECT t.n_cells,
       CAST(MAX(ABS(b.c * 256 - t.n)) * 1000000 // (t.n) AS BIGINT)
         AS max_dev_ppm_x256,
       ROUND(SUM((256.0 * CAST(b.c AS DOUBLE) - CAST(t.n AS DOUBLE))
                 * (256.0 * CAST(b.c AS DOUBLE) - CAST(t.n AS DOUBLE)))
             / (256.0 * CAST(t.n AS DOUBLE)), 6) AS chi2
FROM b, t GROUP BY t.n_cells, t.n
""",
    # 1-row coin-totals frame cross-joined onto the 256 cell counts
    allow={"BroadcastNestedLoopJoin"},
)
def hash_uniformity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    h = F.md5(F.col("o_orderkey").cast("string"))
    a1 = F.ascii(F.substring(h, 1, 1))
    a2 = F.ascii(F.substring(h, 2, 1))
    cell = (
        F.when(a1 >= 97, a1 - 87).otherwise(a1 - 48)
    ) * 16 + F.when(a2 >= 97, a2 - 87).otherwise(a2 - 48)
    o = _t(spark, sf_dir, "orders").select(cell.alias("cell"))
    b = o.groupBy("cell").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    t = b.agg(
        F.sum("c").cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("n_cells"),
    )
    j = b.crossJoin(t)
    return j.groupBy("n_cells", "n").agg(
        F.expr(
            "CAST(MAX(ABS(c * 256 - n)) * 1000000 div n AS BIGINT)"
        ).alias("max_dev_ppm_x256"),
        F.round(
            F.expr(
                "SUM((256.0 * CAST(c AS DOUBLE) - CAST(n AS DOUBLE))"
                "     * (256.0 * CAST(c AS DOUBLE) - CAST(n AS DOUBLE)))"
                " / (256.0 * CAST(n AS DOUBLE))"
            ),
            6,
        ).alias("chi2"),
    ).select("n_cells", "max_dev_ppm_x256", "chi2")
