"""Round-11 batch-5 additions (SURVEY.md §2 extensions): log-log
price elasticity per brand, the null-skew join split (the production
outer-join mitigation), and autocorrelation pitch detection over the
staged real WAVs.

Reference parity note: none of these exist in the reference (its
surface is the frame ops in source/koalas/dataframe.d:73-311); they
extend the econometrics / join-engineering / audio shelves under the
repo determinism rules (queries/__init__.py docstring): #221 nano-ln
quantization, DECIMAL(38) OLS cross-products, exact integer
autocorrelations, result-invariant plan rewrites proven by a
plain-plan oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from koalas_spark.queries import query
from koalas_spark.queries.analytics import _t


# --------------------------------------------------------------------
# 461. log-log price elasticity of demand per brand — the pricing
# econometric (elasticity < -1 = elastic, revenue falls when price
# rises): per (brand, price-cent) demand aggregate, OLS of ln(qty) on
# ln(price) within each brand. Both lns are ratios/values of exact
# integers, nano-quantized per (brand, price) CELL (#221 — the cell
# domain is value-bounded); slope via exact DECIMAL(38) cross-
# products, one double exit per brand. Corpus work: one map-side-
# combined groupBy; the regression runs on the bounded cell table.
@query(
    "price_elasticity_brands",
    oracle="""
WITH cell AS (
  SELECT p.p_brand AS brand,
         CAST(FLOOR(l.l_extendedprice / l.l_quantity * 100 + 0.5) AS BIGINT)
           AS unit_cents,
         CAST(SUM(CAST(FLOOR(l.l_quantity + 0.5) AS BIGINT)) AS BIGINT) AS q
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
  GROUP BY 1, 2),
pts AS (
  SELECT brand,
         CAST(FLOOR(LN(CAST(unit_cents AS DOUBLE)) * 1000000000 + 0.5)
           AS BIGINT) AS x,
         CAST(FLOOR(LN(CAST(q AS DOUBLE)) * 1000000000 + 0.5) AS BIGINT)
           AS y
  FROM cell WHERE unit_cents > 0 AND q > 0),
fit AS (
  SELECT brand, CAST(COUNT(*) AS BIGINT) AS np,
         CAST(SUM(CAST(x AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sx,
         CAST(SUM(CAST(y AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sy,
         CAST(SUM(CAST(x AS DECIMAL(38,0)) * x) AS DECIMAL(38,0)) AS sxx,
         CAST(SUM(CAST(x AS DECIMAL(38,0)) * y) AS DECIMAL(38,0)) AS sxy
  FROM pts GROUP BY brand)
SELECT brand, np AS n_points,
       ROUND(CAST(CAST(np * sxy - sx * sy AS VARCHAR) AS DOUBLE)
             / CAST(CAST(np * sxx - sx * sx AS VARCHAR) AS DOUBLE), 6)
         AS elasticity
FROM fit WHERE np >= 2
""",
)
def price_elasticity_brands(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.floor(
            F.col("l_extendedprice") / F.col("l_quantity") * 100 + 0.5
        )
        .cast("bigint")
        .alias("unit_cents"),
        F.floor(F.col("l_quantity") + 0.5).cast("bigint").alias("qi"),
    )
    p = _t(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("l_partkey"), F.col("p_brand").alias("brand")
    )
    cell = (
        li.join(p, "l_partkey")
        .groupBy("brand", "unit_cents")
        .agg(F.sum("qi").cast("bigint").alias("q"))
    )
    pts = cell.filter(
        (F.col("unit_cents") > 0) & (F.col("q") > 0)
    ).select(
        "brand",
        F.floor(
            F.log(F.col("unit_cents").cast("double")) * 1000000000 + 0.5
        )
        .cast("bigint")
        .alias("x"),
        F.floor(F.log(F.col("q").cast("double")) * 1000000000 + 0.5)
        .cast("bigint")
        .alias("y"),
    )
    fit = pts.groupBy("brand").agg(
        F.count(F.lit(1)).cast("bigint").alias("np"),
        F.sum(F.col("x").cast("decimal(38,0)"))
        .cast("decimal(38,0)")
        .alias("sx"),
        F.sum(F.col("y").cast("decimal(38,0)"))
        .cast("decimal(38,0)")
        .alias("sy"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("x"))
        .cast("decimal(38,0)")
        .alias("sxx"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("y"))
        .cast("decimal(38,0)")
        .alias("sxy"),
    )
    return fit.filter(F.col("np") >= 2).select(
        "brand",
        F.col("np").alias("n_points"),
        F.round(
            (F.col("np") * F.col("sxy") - F.col("sx") * F.col("sy"))
            .cast("string")
            .cast("double")
            / (F.col("np") * F.col("sxx") - F.col("sx") * F.col("sx"))
            .cast("string")
            .cast("double"),
            6,
        ).alias("elasticity"),
    )


# --------------------------------------------------------------------
# 462. null-skew join split — the production outer-join mitigation
# the salted join (#147) and AQE skew split (#396) don't cover: when
# a LEFT join key is heavily NULL (here: a synthetic consent-style
# key, NULL unless custkey % 5 == 0), every NULL row hashes to ONE
# shuffle partition and can never match anyway. The rewrite routes
# NULL-key rows AROUND the join (union of matched branch + null
# branch with null-filled right columns) — result-invariant by
# definition of outer-join-on-null. The oracle runs the PLAIN left
# join, so the equivalence is value-checked, and the null branch
# never shuffles (narrow filter + union).
@query(
    "null_skew_join_split",
    oracle="""
WITH o AS (
  SELECT CASE WHEN o_custkey % 5 = 0 THEN o_custkey END AS jk,
         CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
  FROM orders),
j AS (
  SELECT o.jk, o.cents, c.c_nationkey
  FROM o LEFT JOIN customer c ON c.c_custkey = o.jk)
SELECT CAST(COALESCE(c_nationkey, -1) AS BIGINT) AS nation_or_null,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(cents) AS BIGINT) AS cents
FROM j GROUP BY 1
""",
)
def null_skew_join_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").select(
        F.when(F.col("o_custkey") % 5 == 0, F.col("o_custkey")).alias("jk"),
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint").alias(
            "cents"
        ),
    )
    c = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("jk"), F.col("c_nationkey")
    )
    # the split: non-null keys take the real join; null keys bypass it
    matched = o.filter(F.col("jk").isNotNull()).join(c, "jk", "left")
    nulls = o.filter(F.col("jk").isNull()).withColumn(
        "c_nationkey", F.lit(None).cast(dict(c.dtypes)["c_nationkey"])
    )
    j = matched.select("cents", "c_nationkey").unionByName(
        nulls.select("cents", "c_nationkey")
    )
    return j.groupBy(
        F.coalesce(F.col("c_nationkey"), F.lit(-1))
        .cast("bigint")
        .alias("nation_or_null")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum("cents").cast("bigint").alias("cents"),
    )


# --------------------------------------------------------------------
# 463. autocorrelation pitch probe over the staged REAL WAVs — the
# classic monophonic pitch detector (argmax of the autocorrelation
# over candidate lags): per doc, EXACT int64 autocorrelation
# R(l) = sum_i s[i]*s[i+l] at the 3 candidate lags {25, 50, 100}
# (~1600/800/400 Hz at the staged 16 kHz), winner = max R, ties to
# the SMALLEST lag (deterministic). Integer products of PCM16
# samples, so the oracle replays R(l) exactly from the text's char
# pairs; frequencies stay out (one division would be fine, but the
# lag IS the answer).
@query(
    "multimodal_audio_pitch",
    oracle="""
WITH src AS (
  SELECT doc_id, substring(text, 1, 400) AS d
  FROM documents WHERE octet_length(encode(text)) >= 400),
s AS (
  SELECT doc_id,
         list_transform(range(0, 200),
           i -> CAST(ascii(substring(d, CAST(2*i + 1 AS BIGINT), 1))
                + 256 * ascii(substring(d, CAST(2*i + 2 AS BIGINT), 1))
                AS BIGINT)) AS sm
  FROM src),
r AS (
  SELECT doc_id,
         list_sum(list_transform(range(0, 175),
           i -> sm[i + 1] * sm[i + 26])) AS r25,
         list_sum(list_transform(range(0, 150),
           i -> sm[i + 1] * sm[i + 51])) AS r50,
         list_sum(list_transform(range(0, 100),
           i -> sm[i + 1] * sm[i + 101])) AS r100
  FROM s)
SELECT doc_id,
       CAST(r25 AS BIGINT) AS r25, CAST(r50 AS BIGINT) AS r50,
       CAST(r100 AS BIGINT) AS r100,
       CAST(CASE WHEN r25 >= r50 AND r25 >= r100 THEN 25
                 WHEN r50 >= r100 THEN 50 ELSE 100 END AS BIGINT)
         AS pitch_lag
FROM r
""",
    # real WAV decode + integer autocorrelation runs in mapInPandas
    allow={"Python"},
)
def multimodal_audio_pitch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from koalas_spark.operators.multimodal import audio_pitch_probe

    HDR = (
        "52494646b401000057415645666d7420100000000100"
        "0100803e0000007d0000020010006461746190010000"
    )
    docs = _t(spark, sf_dir, "documents").filter(F.octet_length("text") >= 400)
    wav = docs.select(
        "doc_id",
        F.concat(
            F.unhex(F.lit(HDR)),
            F.substring(F.encode(F.col("text"), "UTF-8"), 1, 400),
        ).alias("blob"),
    )
    return audio_pitch_probe(wav, "doc_id", lags=(25, 50, 100))


# --------------------------------------------------------------------
# 471. daily-revenue MOTIF discovery (matrix-profile style) — the
# best-matching pair of non-overlapping 7-observation subsequences in
# the daily series ("which two weeks looked most alike"), the
# time-series data-mining primitive next to the discord/changepoint
# family (#228/#300). Distance is the EXACT-integer mean-centered
# SAD: dist = SUM_k |7*(a_k - b_k) - (Sa - Sb)| — multiplying through
# by w=7 clears the window-mean rationals, so no float ever enters
# the ranking. Windows are 7 CONSECUTIVE OBSERVED days (rows of the
# day table ordered by d, gaps spanned), collected as 7-element
# arrays via a bounded-domain window over the ~2.4k-row daily
# artifact; the pair sweep is the theil_sen-class non-equi self-join
# over the bounded domain (row-index gap >= 7 enforces non-overlap),
# never a corpus join. Top-3 pairs by (dist, d_i, d_j) via
# TakeOrdered. Overflow: 7*|Δcents| * 7 terms <= ~1e13 at sf10 — int64.
@query(
    "daily_revenue_motif",
    oracle="""
WITH daily AS (
  SELECT date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))
           AS d,
         CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
           AS BIGINT) AS x
  FROM orders GROUP BY 1),
win AS (
  SELECT d, rn, arr,
         CAST(list_sum(arr) AS BIGINT) AS s
  FROM (
    SELECT d,
           ROW_NUMBER() OVER (ORDER BY d) AS rn,
           list(x) OVER (ORDER BY d
                         ROWS BETWEEN CURRENT ROW AND 6 FOLLOWING) AS arr
    FROM daily) t
  WHERE LEN(arr) = 7),
pairs AS (
  SELECT a.d AS d_i, b.d AS d_j,
         CAST(list_sum(list_transform(range(1, 8),
                k -> ABS(7 * (a.arr[k] - b.arr[k]) - (a.s - b.s))))
           AS BIGINT) AS dist_scaled
  FROM win a JOIN win b ON b.rn >= a.rn + 7)
SELECT d_i, d_j, dist_scaled
FROM pairs
ORDER BY dist_scaled ASC, d_i ASC, d_j ASC
LIMIT 3
""",
    # matrix-profile pair: day-squared non-equi self-join over the
    # ~2.4k-row daily artifact (theil_sen class) + bounded-domain
    # subsequence windows over the same artifact
    allow={"BroadcastNestedLoopJoin", "GlobalWindow"},
)
def daily_revenue_motif(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from koalas_spark.queries.analytics import daily_revenue_table

    daily = daily_revenue_table(spark, sf_dir)
    # bounded-domain window (the daily artifact is ~2.4k rows at any
    # corpus size — the plan gate's named-artifact bless)
    w = Window.orderBy("d").rowsBetween(0, 6)
    win = (
        daily.select(
            "d",
            F.row_number().over(Window.orderBy("d")).alias("rn"),
            F.collect_list("x").over(w).alias("arr"),
        )
        .filter(F.size("arr") == 7)
        .withColumn(
            "s",
            F.aggregate(
                "arr", F.lit(0).cast("bigint"), lambda acc, v: acc + v
            ),
        )
    )
    # the bounded-domain window legitimately runs single-partition,
    # but the day² pair sweep it feeds must not: fan the STREAM side
    # out over the cores (guide §2.6 — a 1-task BroadcastNestedLoop
    # sweep leaves 31/32 cores idle at any scale; the domain is ~2.4k
    # rows, so the respread shuffle is noise) and keep the probe side
    # as the broadcast build. Integer SAD distances make the result
    # partitioning-independent.
    fan = spark.sparkContext.defaultParallelism
    a = win.repartition(fan).select(
        F.col("d").alias("d_i"),
        F.col("rn").alias("rn_i"),
        F.col("arr").alias("arr_i"),
        F.col("s").alias("wsum_i"),
    )
    b = win.select(
        F.col("d").alias("d_j"),
        F.col("rn").alias("rn_j"),
        F.col("arr").alias("arr_j"),
        F.col("s").alias("wsum_j"),
    )
    pairs = a.join(F.broadcast(b), F.col("rn_j") >= F.col("rn_i") + 7).select(
        "d_i",
        "d_j",
        F.aggregate(
            F.zip_with(
                "arr_i",
                "arr_j",
                lambda x, y: F.abs(
                    7 * (x - y) - (F.col("wsum_i") - F.col("wsum_j"))
                ),
            ),
            F.lit(0).cast("bigint"),
            lambda acc, v: acc + v,
        ).alias("dist_scaled"),
    )
    return pairs.orderBy("dist_scaled", "d_i", "d_j").limit(3)


# --------------------------------------------------------------------
# 472. daily-revenue DISCORD discovery (HOT-SAX style) — the anomaly
# twin of #471: the subsequence whose distance to its NEAREST
# non-overlapping neighbor is LARGEST ("the week least like any other
# week"). Same exact-integer mean-centered SAD and the same bounded
# day-domain pair sweep; per window the MIN over neighbors collapses
# the pair frame back to the ~2.4k-row window domain before the
# top-3. A motif is a low row in the matrix profile, a discord a high
# one — together they are the matrix-profile read of the series.
@query(
    "daily_revenue_discord",
    oracle="""
WITH daily AS (
  SELECT date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))
           AS d,
         CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
           AS BIGINT) AS x
  FROM orders GROUP BY 1),
win AS (
  SELECT d, rn, arr,
         CAST(list_sum(arr) AS BIGINT) AS s
  FROM (
    SELECT d,
           ROW_NUMBER() OVER (ORDER BY d) AS rn,
           list(x) OVER (ORDER BY d
                         ROWS BETWEEN CURRENT ROW AND 6 FOLLOWING) AS arr
    FROM daily) t
  WHERE LEN(arr) = 7),
prof AS (
  SELECT a.d AS d_i,
         CAST(MIN(list_sum(list_transform(range(1, 8),
                k -> ABS(7 * (a.arr[k] - b.arr[k]) - (a.s - b.s)))))
           AS BIGINT) AS nn_dist
  FROM win a JOIN win b
    ON b.rn >= a.rn + 7 OR b.rn <= a.rn - 7
  GROUP BY a.d)
SELECT d_i, nn_dist
FROM prof
ORDER BY nn_dist DESC, d_i ASC
LIMIT 3
""",
    # matrix-profile pair: day-squared non-equi self-join over the
    # ~2.4k-row daily artifact (theil_sen class) + bounded-domain
    # subsequence windows over the same artifact
    allow={"BroadcastNestedLoopJoin", "GlobalWindow"},
)
def daily_revenue_discord(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from koalas_spark.queries.analytics import daily_revenue_table

    daily = daily_revenue_table(spark, sf_dir)
    w = Window.orderBy("d").rowsBetween(0, 6)
    win = (
        daily.select(
            "d",
            F.row_number().over(Window.orderBy("d")).alias("rn"),
            F.collect_list("x").over(w).alias("arr"),
        )
        .filter(F.size("arr") == 7)
        .withColumn(
            "s",
            F.aggregate(
                "arr", F.lit(0).cast("bigint"), lambda acc, v: acc + v
            ),
        )
    )
    # same stream-side fan-out as #471: the day² nearest-neighbor
    # sweep is 1 BNLJ task without it (guide §2.6); min() over integer
    # SAD is partitioning-independent.
    fan = spark.sparkContext.defaultParallelism
    a = win.repartition(fan).select(
        F.col("d").alias("d_i"),
        F.col("rn").alias("rn_i"),
        F.col("arr").alias("arr_i"),
        F.col("s").alias("wsum_i"),
    )
    b = win.select(
        F.col("rn").alias("rn_j"),
        F.col("arr").alias("arr_j"),
        F.col("s").alias("wsum_j"),
    )
    dist = F.aggregate(
        F.zip_with(
            "arr_i",
            "arr_j",
            lambda x, y: F.abs(7 * (x - y) - (F.col("wsum_i") - F.col("wsum_j"))),
        ),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )
    prof = (
        a.join(
            F.broadcast(b),
            (F.col("rn_j") >= F.col("rn_i") + 7)
            | (F.col("rn_j") <= F.col("rn_i") - 7),
        )
        .select("d_i", dist.alias("dd"))
        .groupBy("d_i")
        .agg(F.min("dd").cast("bigint").alias("nn_dist"))
    )
    return prof.orderBy(F.col("nn_dist").desc(), "d_i").limit(3)
