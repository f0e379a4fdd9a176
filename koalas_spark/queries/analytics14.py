"""Round-8 batch-9 additions (SURVEY.md §2 extensions):
differentially-private noisy counts, item-item co-occurrence
recommendations, Apriori-style frequent triples, grouped weighted
median, and an interval-overlap join.

Reference parity note: none of these exist in the reference (its
surface is the frame ops in source/koalas/dataframe.d:73-311); they
extend the engine toward the privacy / recommendation / mining
workloads the brief mandates. Cross-engine determinism follows the
repo rules (queries/__init__.py docstring): md5 hash-coins for all
randomness, the #221 nano-quantized-ln discipline for
transcendentals, exact integer/DECIMAL reductions, and non-negative
integer division only (`//` floors in DuckDB, `div` truncates in
Spark — they agree only at or above zero).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from koalas_spark.queries import query
from koalas_spark.queries.analytics import _t


# --------------------------------------------------------------------
# 263. differentially-private noisy counts — the release mechanism a
# privacy team runs before publishing group-level statistics:
# Laplace(b = 1/eps, eps = 1) noise on every (lang, source) document
# count. The corpus work is ONE map-side-combined count; the noise is
# drawn on the GROUP-DOMAIN table (25 rows at any corpus size) from
# each group's md5 coin via inverse-CDF — u32 coin -> u in (0,1),
# noise = -sign(u - 1/2) ln(1 - 2|u - 1/2|) — with the ln
# nano-quantized to an integer (#221 discipline) so both engines add
# the IDENTICAL noise. True count, integer nano-noise, and the noisy
# release (nano units) are all emitted so the mechanism is auditable.
# (A real release would drop n_true; it is kept here because the
# oracle must check it.)
@query(
    "dp_noisy_counts",
    oracle="""
WITH g AS (
  SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n_true
  FROM documents GROUP BY lang, source),
c AS (
  SELECT lang, source, n_true,
         (CAST(('0x' || substr(md5('dp:' || lang || ':' || source), 1, 8))
            AS BIGINT) + 0.5) / 4294967296.0 AS u
  FROM g),
z AS (
  SELECT lang, source, n_true,
         CASE WHEN u < 0.5 THEN -1 ELSE 1 END AS sgn,
         CAST(FLOOR(1000000000 * LN(1 - 2 * ABS(u - 0.5))) AS BIGINT) AS lnq
  FROM c)
SELECT lang, source, n_true,
       CAST(sgn * (-lnq) AS BIGINT) AS noise_nano,
       CAST(n_true * 1000000000 + sgn * (-lnq) AS BIGINT) AS n_noisy_nano
FROM z
""",
)
def dp_noisy_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    g = d.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_true")
    )
    u = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("dp:"),
                        F.col("lang"),
                        F.lit(":"),
                        F.col("source"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        + 0.5
    ) / F.lit(4294967296.0)
    c = g.withColumn("u", u)
    z = c.select(
        "lang",
        "source",
        "n_true",
        F.when(F.col("u") < 0.5, -1).otherwise(1).alias("sgn"),
        F.floor(1000000000 * F.log(1 - 2 * F.abs(F.col("u") - 0.5)))
        .cast("bigint")
        .alias("lnq"),
    )
    return z.select(
        "lang",
        "source",
        "n_true",
        (F.col("sgn") * (-F.col("lnq"))).cast("bigint").alias("noise_nano"),
        (F.col("n_true") * 1000000000 + F.col("sgn") * (-F.col("lnq")))
        .cast("bigint")
        .alias("n_noisy_nano"),
    )


# --------------------------------------------------------------------
# 264. item-item co-occurrence recommendations — the "customers who
# bought X also bought Y" workhorse. Baskets are per-order distinct
# part sets; co-occurrence counts come from ONE per-order self-join
# (pair work bounded by basket-size^2, baskets are <= 7 lines in this
# schema — at 100 TB the same bound holds because baskets are
# business-bounded, not corpus-bounded); the cosine-squared score
# 1e6 * cooc^2 / (deg_u * deg_v) stays integer (squaring avoids the
# sqrt transcendental entirely). Top-5 per seed item via the rank<=k
# window (WindowGroupLimit: map-side per-group top-k, the exchange
# moves O(items x k)); output bounded to the 10 smallest seed items
# so the oracle is stable. Degrees join key-partitioned; nothing
# quadratic in the corpus anywhere.
@query(
    "item_item_topk",
    oracle="""
WITH li AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
cooc AS MATERIALIZED (
  SELECT a.l_partkey AS u, b.l_partkey AS v, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2),
sym AS MATERIALIZED (
  SELECT u, v, cnt FROM cooc UNION ALL SELECT v AS u, u AS v, cnt FROM cooc),
deg AS MATERIALIZED (
  SELECT l_partkey AS p, CAST(COUNT(*) AS BIGINT) AS d FROM li GROUP BY 1),
seeds AS MATERIALIZED (
  SELECT u AS s FROM (SELECT DISTINCT u FROM sym ORDER BY u LIMIT 10)),
scored AS MATERIALIZED (
  SELECT sym.u, sym.v, sym.cnt,
         CAST((1000000 * sym.cnt * sym.cnt) // (du.d * dv.d) AS BIGINT)
           AS score_ppm
  FROM sym
  JOIN seeds ON sym.u = seeds.s
  JOIN deg du ON du.p = sym.u
  JOIN deg dv ON dv.p = sym.v)
SELECT u, rk, v, cnt, score_ppm FROM (
  SELECT u, v, cnt, score_ppm,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY u ORDER BY score_ppm DESC, v) AS INT) AS rk
  FROM scored)
WHERE rk <= 5
""",
)
def item_item_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from koalas_spark.queries.mining import copurchase_pair_table, symmetric

    li = (
        _t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
        .localCheckpoint(eager=False)
    )
    # pairs come from the once-per-sf_dir materialized pair artifact
    # (mining.copurchase_pair_table); only the per-part degree pass
    # still reads lineitem (degree counts singleton baskets the pair
    # table cannot see).
    sym = symmetric(copurchase_pair_table(spark, sf_dir))
    deg = li.groupBy(F.col("l_partkey").alias("p")).agg(
        F.count(F.lit(1)).cast("bigint").alias("d")
    )
    seeds = (
        sym.select("u").distinct().orderBy("u").limit(10).select(
            F.col("u").alias("s")
        )
    )
    cand = sym.join(seeds, sym.u == F.col("s")).drop("s")
    du = deg.select(F.col("p").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("p").alias("v"), F.col("d").alias("dv"))
    scored = (
        cand.join(du, "u")
        .join(dv, "v")
        .select(
            "u",
            "v",
            "cnt",
            F.expr("(1000000 * cnt * cnt) div (du * dv)")
            .cast("bigint")
            .alias("score_ppm"),
        )
    )
    w = Window.partitionBy("u").orderBy(F.col("score_ppm").desc(), F.col("v"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .select("u", "rk", "v", "cnt", "score_ppm")
    )


# --------------------------------------------------------------------
# 265. Apriori-style frequent triples — market-basket mining one
# level above #137's pairs. Triples are enumerated per order by a
# 3-way ordered self-join (p1 < p2 < p3); the enumeration is bounded
# by basket-size^3 and baskets are business-bounded (<= 7 lines
# here), so per-order work is O(35) at ANY corpus scale — the
# docstring caveat is that a schema with unbounded baskets would
# prefilter to frequent pairs first (the actual Apriori pruning
# step). Support counting is one map-side-combined aggregate; the
# report is TakeOrdered top-10 with a full lexicographic tiebreak
# (support ties are ubiquitous at small SF).
@query(
    "frequent_triples",
    oracle="""
WITH li AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
t AS (
  SELECT a.l_partkey AS p1, b.l_partkey AS p2, c.l_partkey AS p3,
         CAST(COUNT(*) AS BIGINT) AS support
  FROM li a
  JOIN li b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  JOIN li c ON b.l_orderkey = c.l_orderkey AND b.l_partkey < c.l_partkey
  GROUP BY 1, 2, 3)
SELECT p1, p2, p3, support
FROM t ORDER BY support DESC, p1, p2, p3 LIMIT 10
""",
)
def frequent_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = (
        _t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
        .localCheckpoint(eager=False)
    )
    a, b, c = li.alias("a"), li.alias("b"), li.alias("c")
    t = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .join(
            c,
            (F.col("b.l_orderkey") == F.col("c.l_orderkey"))
            & (F.col("b.l_partkey") < F.col("c.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("p1"),
            F.col("b.l_partkey").alias("p2"),
            F.col("c.l_partkey").alias("p3"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("support"))
    )
    return t.orderBy(
        F.col("support").desc(), "p1", "p2", "p3"
    ).limit(10)


# --------------------------------------------------------------------
# 266. grouped WEIGHTED median — the quantity-weighted price midpoint
# per return flag ("half the shipped units cost less than this").
# Same domain-histogram discipline as #227's unweighted quantiles:
# cents-quantized price DOMAIN histogram with integer weight sums
# (map-side combined), per-group prefix sum over the bounded
# histogram, smallest cents value whose cumulative weight reaches
# ceil(W/2). No corpus-scale sort or window anywhere; l_quantity is
# integral-by-construction but goes through FLOOR(q + 0.5) because
# CAST(double AS BIGINT) rounds in DuckDB and truncates in Spark
# (the r8 batch-5 rule).
@query(
    "weighted_median_price",
    oracle="""
WITH h AS (
  SELECT l_returnflag AS flag,
         CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents,
         CAST(SUM(CAST(FLOOR(l_quantity + 0.5) AS BIGINT)) AS BIGINT) AS wc
  FROM lineitem GROUP BY 1, 2),
cum AS (
  SELECT flag, cents, wc,
         CAST(SUM(wc) OVER (PARTITION BY flag ORDER BY cents
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS BIGINT) AS cumw
  FROM h),
tot AS (SELECT flag, CAST(SUM(wc) AS BIGINT) AS w FROM h GROUP BY flag)
SELECT cum.flag, tot.w AS total_weight,
       CAST(MIN(CASE WHEN cumw >= (tot.w + 1) // 2 THEN cents END)
         AS BIGINT) AS wmedian_cents
FROM cum JOIN tot ON cum.flag = tot.flag
GROUP BY cum.flag, tot.w
""",
)
def weighted_median_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("flag"),
        F.floor(F.col("l_extendedprice") * 100 + 0.5)
        .cast("bigint")
        .alias("cents"),
        F.floor(F.col("l_quantity") + 0.5).cast("bigint").alias("q"),
    )
    h = li.groupBy("flag", "cents").agg(
        F.sum("q").cast("bigint").alias("wc")
    )
    w = Window.partitionBy("flag").orderBy("cents").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = h.select(
        "flag", "cents", "wc", F.sum("wc").over(w).cast("bigint").alias("cumw")
    )
    tot = h.groupBy("flag").agg(F.sum("wc").cast("bigint").alias("w"))
    j = cum.join(F.broadcast(tot), "flag")
    return (
        j.groupBy("flag", F.col("w").alias("total_weight"))
        .agg(
            F.min(
                F.when(
                    F.col("cumw") >= F.expr("(w + 1) div 2"), F.col("cents")
                )
            )
            .cast("bigint")
            .alias("wmedian_cents")
        )
        .select("flag", "total_weight", "wmedian_cents")
    )


# --------------------------------------------------------------------
# 267. interval-overlap join — the temporal-join shape behind
# campaign attribution, maintenance-window exclusion, and on-call
# overlap: each order's ACTIVE interval [o_orderdate, last ship date]
# against a fixed table of campaign windows, overlap iff
# o_start <= camp_end AND camp_start <= o_end. The campaign side is a
# 4-row literal dimension — broadcast nested-loop is the CORRECT
# plan for a range predicate against a tiny dim (the #56 range-join
# argument); the order-interval build is one key-partitioned
# aggregate. Per-campaign order counts and revenue cents are exact
# integers. At 100 TB the corpus side streams once past the 4-row
# broadcast — no shuffle beyond the interval aggregate.
@query(
    "interval_overlap_join",
    oracle="""
WITH iv AS (
  SELECT o.o_orderkey,
         CAST(o.o_orderdate AS DATE) AS o_start,
         MAX(CAST(l.l_shipdate AS DATE)) AS o_end,
         CAST(FLOOR(o.o_totalprice * 100 + 0.5) AS BIGINT) AS cents
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  GROUP BY o.o_orderkey, o.o_orderdate, o.o_totalprice),
camp AS (
  SELECT * FROM (VALUES
    ('spring95', DATE '1995-03-01', DATE '1995-05-31'),
    ('holiday95', DATE '1995-11-01', DATE '1995-12-31'),
    ('spring96', DATE '1996-03-01', DATE '1996-05-31'),
    ('summer97', DATE '1997-06-01', DATE '1997-08-31'))
    t(campaign, camp_start, camp_end))
SELECT camp.campaign,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(iv.cents) AS BIGINT) AS revenue_cents
FROM iv JOIN camp
  ON iv.o_start <= camp.camp_end AND camp.camp_start <= iv.o_end
GROUP BY camp.campaign
""",
    allow={"BroadcastNestedLoopJoin"},
)
def interval_overlap_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    l = _t(spark, sf_dir, "lineitem")
    iv = (
        o.join(l, l.l_orderkey == o.o_orderkey)
        .groupBy("o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.max(F.col("l_shipdate").cast("date")).alias("o_end"))
        .select(
            F.col("o_orderdate").cast("date").alias("o_start"),
            "o_end",
            F.floor(F.col("o_totalprice") * 100 + 0.5)
            .cast("bigint")
            .alias("cents"),
        )
    )
    camp = spark.createDataFrame(
        [
            ("spring95", "1995-03-01", "1995-05-31"),
            ("holiday95", "1995-11-01", "1995-12-31"),
            ("spring96", "1996-03-01", "1996-05-31"),
            ("summer97", "1997-06-01", "1997-08-31"),
        ],
        "campaign string, camp_start string, camp_end string",
    ).select(
        "campaign",
        F.col("camp_start").cast("date").alias("camp_start"),
        F.col("camp_end").cast("date").alias("camp_end"),
    )
    j = iv.join(
        F.broadcast(camp),
        (F.col("o_start") <= F.col("camp_end"))
        & (F.col("camp_start") <= F.col("o_end")),
    )
    return j.groupBy("campaign").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum("cents").cast("bigint").alias("revenue_cents"),
    )
