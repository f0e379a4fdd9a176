"""Round-9 batch-18 additions (SURVEY.md §2 extensions): merchandising
and resampling operators — ABC inventory classification, the
new-vs-returning revenue split, and a distributed Poisson-bootstrap
confidence interval.

Reference parity note: not in the reference (its surface is the frame
ops in source/koalas/dataframe.d:73-311); these extend the
reporting/stats shelves under the repo determinism rules
(queries/__init__.py docstring): exact integer cross-multiplied
thresholds instead of double shares, value-domain-bounded windows
instead of corpus sorts, and the md5-prefix coin for all sampling
randomness (hash_uniformity_audit #329 validates that coin).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from koalas_spark.queries import query
from koalas_spark.queries.analytics import _t


# --------------------------------------------------------------------
# 349. ABC classification of parts by revenue — the 80/15/5 Pareto
# inventory classes, computed WITHOUT a corpus-sized ranking: parts
# collapse to VALUE-DOMAIN buckets (decimal-digit count + leading two
# digits of revenue cents, <=90 buckets per decade — bounded by the
# value range, not the corpus), the cumulative-share sweep runs over
# those bounded buckets, and class boundaries are exact integer
# cross-multiplications (5*cum_before < 4*total for A, 20*cum_before
# < 19*total for B); only the reported share is a (single,
# identical-shape) double — rev*1e6 wraps int64 at sf1. Bucket-granular class
# assignment (parts within one bucket share a class) is the documented
# contract on BOTH engines, so the oracle matches exactly. One corpus
# groupBy (partkey) then bounded-domain work only.
@query(
    "abc_classification",
    oracle="""
WITH pr AS (
  SELECT l_partkey,
         CAST(SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT))
              AS BIGINT) AS c
  FROM lineitem GROUP BY 1),
bk AS (
  SELECT LENGTH(CAST(c AS VARCHAR)) AS d,
         CAST(SUBSTR(CAST(c AS VARCHAR), 1, 2) AS BIGINT) AS lead2,
         CAST(COUNT(*) AS BIGINT) AS n_parts,
         CAST(SUM(c) AS BIGINT) AS rev
  FROM pr GROUP BY 1, 2),
cum AS (
  SELECT d, lead2, n_parts, rev,
         CAST(SUM(rev) OVER (ORDER BY d DESC, lead2 DESC) - rev
              AS BIGINT) AS cum_before,
         CAST(SUM(rev) OVER () AS BIGINT) AS total
  FROM bk),
cls AS (
  SELECT CASE WHEN 5 * CAST(cum_before AS DECIMAL(38,0))
                   < 4 * CAST(total AS DECIMAL(38,0)) THEN 'A'
              WHEN 20 * CAST(cum_before AS DECIMAL(38,0))
                   < 19 * CAST(total AS DECIMAL(38,0)) THEN 'B'
              ELSE 'C' END AS abc_class,
         n_parts, rev, total
  FROM cum)
SELECT abc_class,
       CAST(SUM(n_parts) AS BIGINT) AS n_parts,
       CAST(SUM(rev) AS BIGINT) AS revenue_cents,
       CAST(FLOOR(CAST(SUM(rev) AS DOUBLE) * 1000000.0
                  / CAST(MAX(total) AS DOUBLE)) AS BIGINT) AS share_ppm
FROM cls GROUP BY 1 ORDER BY 1
""",
    # gate (the old plan-wide conjunction missed them); each is also
    # STRUCTURALLY verified bounded by _global_window_audit ----
    # value-domain bucket table (digit-count x leading-2-digits)
    allow={"GlobalWindow"},
)
def abc_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    pr = li.groupBy("l_partkey").agg(
        F.sum(F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("bigint"))
        .cast("bigint")
        .alias("c")
    )
    bk = pr.groupBy(
        F.length(F.col("c").cast("string")).alias("d"),
        F.substring(F.col("c").cast("string"), 1, 2)
        .cast("bigint")
        .alias("lead2"),
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_parts"),
        F.sum("c").cast("bigint").alias("rev"),
    )
    # value-domain-bounded windows (<=90 buckets per revenue decade)
    wo = Window.orderBy(F.col("d").desc(), F.col("lead2").desc())
    cum = bk.select(
        "d",
        "lead2",
        "n_parts",
        "rev",
        (F.sum("rev").over(wo) - F.col("rev"))
        .cast("bigint")
        .alias("cum_before"),
        F.sum("rev")
        .over(Window.partitionBy())
        .cast("bigint")
        .alias("total"),
    )
    # threshold cross-multiplications go through DECIMAL(38,0): total
    # lineitem cents is ~2e13 at sf1 and corpus-proportional, so
    # `20 * total` would wrap int64 around sf1e4-1e5 (the declared
    # 100 TB regime). DECIMAL keeps the comparison exact at any scale
    # and is bit-identical to the int64 result wherever int64 didn't
    # wrap, so the oracle is unchanged at test SFs.
    cum_dec = F.col("cum_before").cast("decimal(38,0)")
    tot_dec = F.col("total").cast("decimal(38,0)")
    cls = cum.select(
        F.when(5 * cum_dec < 4 * tot_dec, "A")
        .when(20 * cum_dec < 19 * tot_dec, "B")
        .otherwise("C")
        .alias("abc_class"),
        "n_parts",
        "rev",
        "total",
    )
    return (
        cls.groupBy("abc_class")
        .agg(
            F.sum("n_parts").cast("bigint").alias("n_parts"),
            F.sum("rev").cast("bigint").alias("revenue_cents"),
            # rev*1e6 wraps int64 at sf1 (ANSI-caught in the scaled
            # parity run); the share ships as an identical-shape double
            # division instead — FLOOR is integral so the BIGINT cast
            # is exact on both engines
            F.expr(
                "CAST(FLOOR(CAST(SUM(rev) AS DOUBLE) * 1000000.0"
                " / CAST(MAX(total) AS DOUBLE)) AS BIGINT)"
            ).alias("share_ppm"),
        )
        .orderBy("abc_class")
    )


# --------------------------------------------------------------------
# 350. new-vs-returning monthly revenue split — the growth-accounting
# breakdown (acquisition twin of #192's retention cohorts and #233's
# reactivation): a customer's first-ever order month comes from one
# custkey groupBy (the only extra shuffle, co-partitioned with the
# orders join key), each order is flagged new/returning by comparing
# its month key, then one bounded month-domain rollup. Exact cents.
@query(
    "new_vs_returning_monthly",
    oracle="""
WITH om AS (
  SELECT o_custkey,
         CAST(date_part('year', o_orderdate) * 12
              + date_part('month', o_orderdate) AS BIGINT) AS mk,
         CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS c
  FROM orders),
fm AS (
  SELECT o_custkey, CAST(MIN(mk) AS BIGINT) AS first_mk
  FROM om GROUP BY 1)
SELECT CAST(om.mk // 12 AS BIGINT) AS yr,
       CAST(om.mk % 12 AS BIGINT) AS mo,
       CAST(SUM(CASE WHEN om.mk = fm.first_mk THEN c ELSE 0 END)
            AS BIGINT) AS cents_new,
       CAST(SUM(CASE WHEN om.mk > fm.first_mk THEN c ELSE 0 END)
            AS BIGINT) AS cents_returning,
       CAST(SUM(CASE WHEN om.mk = fm.first_mk THEN 1 ELSE 0 END)
            AS BIGINT) AS orders_new,
       CAST(SUM(CASE WHEN om.mk > fm.first_mk THEN 1 ELSE 0 END)
            AS BIGINT) AS orders_returning
FROM om JOIN fm ON om.o_custkey = fm.o_custkey
GROUP BY 1, 2 ORDER BY 1, 2
""",
)
def new_vs_returning_monthly(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    om = _t(spark, sf_dir, "orders").select(
        "o_custkey",
        (
            F.year(F.col("o_orderdate").cast("date")) * 12
            + F.month(F.col("o_orderdate").cast("date"))
        )
        .cast("bigint")
        .alias("mk"),
        F.floor(F.col("o_totalprice") * 100 + 0.5)
        .cast("bigint")
        .alias("c"),
    )
    fm = om.groupBy("o_custkey").agg(
        F.min("mk").cast("bigint").alias("first_mk")
    )
    j = om.join(fm, "o_custkey")
    return (
        j.groupBy(
            F.expr("CAST(mk div 12 AS BIGINT)").alias("yr"),
            F.expr("CAST(mk % 12 AS BIGINT)").alias("mo"),
        )
        .agg(
            F.sum(
                F.when(F.col("mk") == F.col("first_mk"), F.col("c")).otherwise(
                    0
                )
            )
            .cast("bigint")
            .alias("cents_new"),
            F.sum(
                F.when(F.col("mk") > F.col("first_mk"), F.col("c")).otherwise(
                    0
                )
            )
            .cast("bigint")
            .alias("cents_returning"),
            F.sum(
                F.when(F.col("mk") == F.col("first_mk"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("orders_new"),
            F.sum(F.when(F.col("mk") > F.col("first_mk"), 1).otherwise(0))
            .cast("bigint")
            .alias("orders_returning"),
        )
        .orderBy("yr", "mo")
    )


# --------------------------------------------------------------------
# 351. Poisson-bootstrap confidence interval for mean order value —
# THE distributed bootstrap (classic with-replacement resampling needs
# a global draw; the Poisson(1) approximation makes every row's
# replica weights independent, which is why it is the industry shape
# for cluster-scale CIs). Replica weights are deterministic: the
# 4-hex md5 prefix of (orderkey, replica) is compared against the
# fixed 16-bit-quantized Poisson(1) CDF thresholds — the same
# md5-prefix coin every sampler in this repo uses (#329 audits it),
# identical string comparisons on both engines. 32 replicas fan out
# AFTER the scan projection; one map-side-combined groupBy(replica)
# reduces 32N rows to 32, and the CI is the 2nd/31st order statistic
# of the replica means (90%-ish band, documented). The full-sample
# mean rides along exactly.
_POIS_W = (
    "CASE WHEN h < '5e31' THEN 0 WHEN h < 'bc62' THEN 1"
    " WHEN h < 'eb79' THEN 2 WHEN h < 'fb2b' THEN 3"
    " WHEN h < 'ff10' THEN 4 WHEN h < 'ffd9' THEN 5 ELSE 6 END"
)


@query(
    "bootstrap_ci_mean",
    oracle=f"""
WITH c AS (
  SELECT o_orderkey AS k,
         CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS c
  FROM orders),
full_m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(c) AS BIGINT) AS s1
  FROM c),
reps AS (SELECT CAST(i AS BIGINT) AS b FROM range(0, 32) t(i)),
w AS (
  SELECT b,
         {_POIS_W.replace("h", "substr(md5(CAST(k AS VARCHAR) || ':' || CAST(b AS VARCHAR)), 1, 4)")} AS w,
         c
  FROM c, reps),
bm AS (
  SELECT b, CAST(SUM(w * c) AS BIGINT) AS s,
         CAST(SUM(w) AS BIGINT) AS m
  FROM w GROUP BY b),
rk AS (
  SELECT CAST(s AS DOUBLE) / CAST(m AS DOUBLE) AS mean_b,
         ROW_NUMBER() OVER (
           ORDER BY CAST(s AS DOUBLE) / CAST(m AS DOUBLE), b) AS r
  FROM bm)
SELECT n AS n_orders,
       CAST(32 AS BIGINT) AS n_replicas,
       ROUND(CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE), 6)
         AS mean_cents,
       ROUND(MAX(CASE WHEN r = 2 THEN mean_b END), 6) AS ci_lo,
       ROUND(MAX(CASE WHEN r = 31 THEN mean_b END), 6) AS ci_hi
FROM rk, full_m GROUP BY n, s1
""",
    # 32-row replica dimension cross-joined after the scan projection
    allow={"BroadcastNestedLoopJoin", "GlobalWindow"},
)
def bootstrap_ci_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    from koalas_spark.queries.analytics import _spread

    # _spread: the 32-replica md5 coin flips (32 hashes per order) are
    # the compute wall, and the single-row-group orders scan would run
    # the whole crossJoin stream on one core (guide §2.6)
    c = _spread(
        _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    ).select(
        F.col("o_orderkey").alias("k"),
        F.floor(F.col("o_totalprice") * 100 + 0.5)
        .cast("bigint")
        .alias("c"),
    )
    full_m = c.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("c").cast("bigint").alias("s1"),
    )
    reps = spark.range(0, 32).select(
        F.col("id").cast("bigint").alias("b")
    )
    # materialize the md5 prefix ONCE per (order, replica) in its own
    # projection: textually substituting it into the CASE would repeat
    # the hash expression seven times and leave dedup to codegen
    # subexpression elimination — computing it explicitly guarantees
    # one hash per row at any scale (guide §1.2 per-task work)
    w = (
        c.crossJoin(reps)
        .select(
            "b",
            "c",
            F.expr(
                "substr(md5(CAST(k AS STRING) || ':'"
                " || CAST(b AS STRING)), 1, 4)"
            ).alias("h"),
        )
        .select("b", F.expr(_POIS_W).alias("w"), "c")
    )
    bm = w.groupBy("b").agg(
        F.sum(F.expr("w * c")).cast("bigint").alias("s"),
        F.sum("w").cast("bigint").alias("m"),
    )
    # 32-row window, bounded by the replica count
    rk = bm.select(
        F.expr("CAST(s AS DOUBLE) / CAST(m AS DOUBLE)").alias("mean_b"),
        F.row_number()
        .over(
            Window.orderBy(
                F.expr("CAST(s AS DOUBLE) / CAST(m AS DOUBLE)"), F.col("b")
            )
        )
        .alias("r"),
    )
    return (
        rk.crossJoin(full_m)
        .groupBy("n", "s1")
        .agg(
            F.round(
                F.expr("CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)"), 6
            ).alias("mean_cents"),
            F.round(
                F.max(F.when(F.col("r") == 2, F.col("mean_b"))), 6
            ).alias("ci_lo"),
            F.round(
                F.max(F.when(F.col("r") == 31, F.col("mean_b"))), 6
            ).alias("ci_hi"),
        )
        .select(
            F.col("n").alias("n_orders"),
            F.lit(32).cast("bigint").alias("n_replicas"),
            "mean_cents",
            "ci_lo",
            "ci_hi",
        )
    )
