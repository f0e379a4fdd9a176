"""Round-8 batch-7 additions (SURVEY.md §2 extensions): a cross-table
referential-integrity audit, histogram-exact Gini revenue
concentration, classifier calibration bins, lag-k autocorrelation of
the daily revenue series, an ORC round-trip, and a Kaplan-Meier
survival curve over customer purchase lifetimes.

Reference parity note: none of these exist in the reference (its
surface is the frame ops in source/koalas/dataframe.d:73-311); they
extend the engine toward data-quality / model-eval / lifecycle
workloads per the brief. Cross-engine determinism follows the repo
rules (queries/__init__.py docstring): integer/DECIMAL math
everywhere, the VARCHAR-hop DECIMAL->DOUBLE cast, transcendentals
only under the #221/#243 nano-quantized-ln discipline or as ONE fixed
double expression at the end, and NO integer division on negative
operands (DuckDB // floors, Spark div truncates toward zero — they
disagree below zero, so anything divided is shifted non-negative
first)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from koalas_spark.memo import staged
from koalas_spark.queries import query
from koalas_spark.queries.analytics import _t


# --------------------------------------------------------------------
# 251. referential-integrity audit — the data-quality gate a 100 TB
# lakehouse runs before every training-data build: per FK edge, how
# many child rows point at a missing parent. Each edge pre-aggregates
# the child side to (key, cnt) — the join input shrinks from |rows| to
# |keys| — and left-joins the DISTINCT parent keys; orphan rows are
# the cnt mass landing on a null parent. Tiny parents (nation, region)
# broadcast automatically; the big edges (lineitem->orders,
# orders->customer) are plain key-partitioned joins AQE can plan.
# Output: one row per edge — constant-size at any corpus scale.
@query(
    "referential_integrity_audit",
    oracle="""
WITH e1 AS (
  SELECT 'lineitem.l_orderkey->orders' AS edge,
         CAST(SUM(cnt) AS BIGINT) AS child_rows,
         CAST(COALESCE(SUM(CASE WHEN pk IS NULL THEN cnt ELSE 0 END), 0)
           AS BIGINT) AS orphan_rows
  FROM (SELECT l_orderkey AS k, COUNT(*) AS cnt FROM lineitem GROUP BY 1) c
  LEFT JOIN (SELECT DISTINCT o_orderkey AS pk FROM orders) p ON c.k = p.pk),
e2 AS (
  SELECT 'lineitem.l_partkey->part' AS edge,
         CAST(SUM(cnt) AS BIGINT),
         CAST(COALESCE(SUM(CASE WHEN pk IS NULL THEN cnt ELSE 0 END), 0)
           AS BIGINT)
  FROM (SELECT l_partkey AS k, COUNT(*) AS cnt FROM lineitem GROUP BY 1) c
  LEFT JOIN (SELECT DISTINCT p_partkey AS pk FROM part) p ON c.k = p.pk),
e3 AS (
  SELECT 'lineitem.l_suppkey->supplier' AS edge,
         CAST(SUM(cnt) AS BIGINT),
         CAST(COALESCE(SUM(CASE WHEN pk IS NULL THEN cnt ELSE 0 END), 0)
           AS BIGINT)
  FROM (SELECT l_suppkey AS k, COUNT(*) AS cnt FROM lineitem GROUP BY 1) c
  LEFT JOIN (SELECT DISTINCT s_suppkey AS pk FROM supplier) p ON c.k = p.pk),
e4 AS (
  SELECT 'orders.o_custkey->customer' AS edge,
         CAST(SUM(cnt) AS BIGINT),
         CAST(COALESCE(SUM(CASE WHEN pk IS NULL THEN cnt ELSE 0 END), 0)
           AS BIGINT)
  FROM (SELECT o_custkey AS k, COUNT(*) AS cnt FROM orders GROUP BY 1) c
  LEFT JOIN (SELECT DISTINCT c_custkey AS pk FROM customer) p ON c.k = p.pk),
e5 AS (
  SELECT 'customer.c_nationkey->nation' AS edge,
         CAST(SUM(cnt) AS BIGINT),
         CAST(COALESCE(SUM(CASE WHEN pk IS NULL THEN cnt ELSE 0 END), 0)
           AS BIGINT)
  FROM (SELECT c_nationkey AS k, COUNT(*) AS cnt FROM customer GROUP BY 1) c
  LEFT JOIN (SELECT DISTINCT n_nationkey AS pk FROM nation) p ON c.k = p.pk),
e6 AS (
  SELECT 'supplier.s_nationkey->nation' AS edge,
         CAST(SUM(cnt) AS BIGINT),
         CAST(COALESCE(SUM(CASE WHEN pk IS NULL THEN cnt ELSE 0 END), 0)
           AS BIGINT)
  FROM (SELECT s_nationkey AS k, COUNT(*) AS cnt FROM supplier GROUP BY 1) c
  LEFT JOIN (SELECT DISTINCT n_nationkey AS pk FROM nation) p ON c.k = p.pk),
e7 AS (
  SELECT 'nation.n_regionkey->region' AS edge,
         CAST(SUM(cnt) AS BIGINT),
         CAST(COALESCE(SUM(CASE WHEN pk IS NULL THEN cnt ELSE 0 END), 0)
           AS BIGINT)
  FROM (SELECT n_regionkey AS k, COUNT(*) AS cnt FROM nation GROUP BY 1) c
  LEFT JOIN (SELECT DISTINCT r_regionkey AS pk FROM region) p ON c.k = p.pk),
e8 AS (
  SELECT 'events.user_id->customer' AS edge,
         CAST(SUM(cnt) AS BIGINT),
         CAST(COALESCE(SUM(CASE WHEN pk IS NULL THEN cnt ELSE 0 END), 0)
           AS BIGINT)
  FROM (SELECT user_id AS k, COUNT(*) AS cnt FROM events GROUP BY 1) c
  LEFT JOIN (SELECT DISTINCT c_custkey AS pk FROM customer) p ON c.k = p.pk)
SELECT * FROM e1 UNION ALL SELECT * FROM e2 UNION ALL SELECT * FROM e3
UNION ALL SELECT * FROM e4 UNION ALL SELECT * FROM e5
UNION ALL SELECT * FROM e6 UNION ALL SELECT * FROM e7
UNION ALL SELECT * FROM e8
""",
)
def referential_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    def edge(name, child, ckey, parent, pkey):
        ck = child.groupBy(F.col(ckey).alias("k")).agg(
            F.count(F.lit(1)).alias("cnt")
        )
        pk = parent.select(F.col(pkey).alias("pk")).distinct()
        j = ck.join(pk, ck.k == pk.pk, "left")
        return j.agg(
            F.lit(name).alias("edge"),
            F.sum("cnt").cast("bigint").alias("child_rows"),
            F.coalesce(
                F.sum(F.when(F.col("pk").isNull(), F.col("cnt")).otherwise(0)),
                F.lit(0),
            )
            .cast("bigint")
            .alias("orphan_rows"),
        )

    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    p = _t(spark, sf_dir, "part")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    ev = _t(spark, sf_dir, "events")
    frames = [
        edge("lineitem.l_orderkey->orders", li, "l_orderkey", o, "o_orderkey"),
        edge("lineitem.l_partkey->part", li, "l_partkey", p, "p_partkey"),
        edge("lineitem.l_suppkey->supplier", li, "l_suppkey", s, "s_suppkey"),
        edge("orders.o_custkey->customer", o, "o_custkey", c, "c_custkey"),
        edge("customer.c_nationkey->nation", c, "c_nationkey", n, "n_nationkey"),
        edge("supplier.s_nationkey->nation", s, "s_nationkey", n, "n_nationkey"),
        edge("nation.n_regionkey->region", n, "n_regionkey", r, "r_regionkey"),
        edge("events.user_id->customer", ev, "user_id", c, "c_custkey"),
    ]
    out = frames[0]
    for f in frames[1:]:
        out = out.unionAll(f)
    return out


# --------------------------------------------------------------------
# 252. Gini revenue concentration per market segment — inequality of
# customer lifetime spend, computed WITHOUT the textbook corpus-scale
# rank window: spends land in $1000 DOMAIN buckets (<= 20k buckets at
# any corpus size, the #236/#241 discipline), and the Gini of the
# bucketed variable v = bucket+1 comes from prefix sums over the
# bucket table:  sum of |v_i - v_j| over unordered pairs
#   S = sum_b n_b * (v_b * cumN_below(b) - cumV_below(b))
# and Gini = 2S / (2 n^2 mu) = S / (n * sum_v). The per-bucket product
# goes through DECIMAL(38) (n_b * diff overflows int64 past ~sf100 by
# design); the final ratio is ONE double expression over VARCHAR-hop
# casts. v = bucket+1 (not bucket) so sum_v >= n > 0 — no 0/0 branch
# for an all-bucket-0 segment, whose NULL-vs-NaN handling differs
# across engines. Windows run per segment over the bucket DOMAIN.
@query(
    "gini_revenue_concentration",
    oracle="""
WITH sp AS (
  SELECT c.c_mktsegment AS seg,
         CAST(SUM(CAST(FLOOR(o.o_totalprice * 100 + 0.5) AS BIGINT))
           AS BIGINT) AS cents
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY o.o_custkey, c.c_mktsegment),
h AS (
  SELECT seg, LEAST(cents // 100000, 19999) + 1 AS v,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM sp GROUP BY 1, 2),
w AS (
  SELECT seg, v, n,
         CAST(COALESCE(SUM(n) OVER (PARTITION BY seg ORDER BY v
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS BIGINT) AS cn,
         CAST(COALESCE(SUM(n * v) OVER (PARTITION BY seg ORDER BY v
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS BIGINT) AS cv
  FROM h),
g AS (
  SELECT seg,
         CAST(SUM(n) AS BIGINT) AS n_cust,
         CAST(SUM(CAST(n AS DECIMAL(38,0)) * v) AS DECIMAL(38,0)) AS sv,
         CAST(SUM(CAST(n AS DECIMAL(38,0)) * (v * cn - cv))
           AS DECIMAL(38,0)) AS s
  FROM w GROUP BY seg)
SELECT seg, n_cust,
       ROUND(CAST(CAST(s AS VARCHAR) AS DOUBLE)
             / (CAST(n_cust AS DOUBLE)
                * CAST(CAST(sv AS VARCHAR) AS DOUBLE)), 6) AS gini
FROM g
""",
)
def gini_revenue_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    sp = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("o_custkey", F.col("c_mktsegment").alias("seg"))
        .agg(
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint")
            )
            .cast("bigint")
            .alias("cents")
        )
    )
    h = (
        sp.select(
            "seg",
            (
                F.least(
                    F.expr("cents div 100000"), F.lit(19999).cast("bigint")
                )
                + 1
            ).alias("v"),
        )
        .groupBy("seg", "v")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    win = (
        Window.partitionBy("seg")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w = h.select(
        "seg",
        "v",
        "n",
        F.coalesce(F.sum("n").over(win), F.lit(0)).cast("bigint").alias("cn"),
        F.coalesce(F.sum(F.col("n") * F.col("v")).over(win), F.lit(0))
        .cast("bigint")
        .alias("cv"),
    )
    dec = lambda col: col.cast("decimal(38,0)")  # noqa: E731
    g = w.groupBy("seg").agg(
        F.sum("n").cast("bigint").alias("n_cust"),
        F.sum(dec(F.col("n")) * F.col("v")).cast("decimal(38,0)").alias("sv"),
        F.sum(dec(F.col("n")) * (F.col("v") * F.col("cn") - F.col("cv")))
        .cast("decimal(38,0)")
        .alias("s"),
    )
    return g.select(
        "seg",
        "n_cust",
        F.round(
            F.col("s").cast("string").cast("double")
            / (
                F.col("n_cust").cast("double")
                * F.col("sv").cast("string").cast("double")
            ),
            6,
        ).alias("gini"),
    )


# --------------------------------------------------------------------
# 253. calibration bins (reliability diagram) — model-eval's other
# workhorse next to AUC (#241): does the #157 linear quality score's
# magnitude track the actual P(lang='en')? The integer score (same
# formula as quality_linear_classifier, so the two queries audit the
# same model) is SHIFTED non-negative before bucketing — DuckDB's //
# floors while Spark's div truncates toward zero, so negative
# integer division is banned repo-wide — and lands in 20 fixed bins.
# Everything is integer (ppm rates via non-negative div); the corpus
# work is one map-side-combined histogram. Constant output size.
@query(
    "calibration_bins_quality",
    oracle="""
WITH f AS (
  SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos,
         LEN(string_split_regex(TRIM(text), '\\s+')) AS n_tok,
         LEN(text) AS n_chars,
         LEN(list_filter(string_split_regex(TRIM(text), '\\s+'),
             t -> t IN ('the','a','of','and','to','in','is'))) AS n_stop,
         LEN(text) - LEN(regexp_replace(text, '[!-/:-@\\[-`{-~]', '', 'g'))
           AS n_punct
  FROM documents),
s AS (
  SELECT pos,
         2 * ((n_stop * 1000) // GREATEST(n_tok, 1))
         - 3 * ((n_punct * 1000) // GREATEST(n_chars, 1))
         + 5 * LEAST(n_tok, 200) - 400 + 3400 AS sscore
  FROM f)
SELECT LEAST(sscore // 400, 19) AS bin,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(pos) AS BIGINT) AS n_pos,
       CAST(SUM(sscore) AS BIGINT) AS sum_sscore,
       1000000 * CAST(SUM(pos) AS BIGINT) // COUNT(*) AS pos_rate_ppm
FROM s GROUP BY bin
""",
)
def calibration_bins_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from koalas_spark.functions.textfn import (
        punct_count,
        stopword_count,
        token_count,
    )

    d = _t(spark, sf_dir, "documents")
    f = d.select(
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("pos"),
        token_count(F.col("text")).alias("n_tok"),
        F.length("text").cast("long").alias("n_chars"),
        stopword_count(F.col("text")).alias("n_stop"),
        punct_count(F.col("text")).alias("n_punct"),
    )
    sscore = (
        F.expr("2 * ((n_stop * 1000) div greatest(n_tok, 1))")
        - F.expr("3 * ((n_punct * 1000) div greatest(n_chars, 1))")
        + F.expr("5 * least(n_tok, 200)")
        + F.lit(3000)  # -400 + 3400
    )
    s = f.withColumn("sscore", sscore)
    return (
        s.groupBy(
            F.least(F.expr("sscore div 400"), F.lit(19).cast("bigint")).alias(
                "bin"
            )
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("pos").cast("bigint").alias("n_pos"),
            F.sum("sscore").cast("bigint").alias("sum_sscore"),
        )
        .withColumn(
            "pos_rate_ppm", F.expr("1000000 * n_pos div n").cast("bigint")
        )
    )


# --------------------------------------------------------------------
# 254. lag-k autocorrelation of daily revenue (k = 1..7) — the
# time-series diagnostic behind every forecasting pipeline. The
# corpus collapses to the day-DOMAIN daily table first (one map-side
# combined aggregate of integer cents); the 7 lags come from an
# equi-join of the daily table against itself on a shifted integer
# day index (NO corpus window, no per-lag rescan — one 7-row lag
# frame fans the domain table out). Pearson r per lag runs on exact
# DECIMAL(38) sums (x*y overflows int64 past ~sf100 by design; the
# LEFT factor is pre-cast to DECIMAL(38) so BOTH engines compute the
# product in 128-bit — DuckDB multiplies two DECIMAL(18)s in their
# int64 storage width and overflows, the sf1 run's catch; the
# DECIMAL(38)*BIGINT form is the chi2 #250 idiom), collapsed to
# doubles via the VARCHAR hop for ONE final expression.
@query(
    "acf_daily_revenue",
    oracle="""
WITH daily AS (
  SELECT date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))
           AS d,
         CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
           AS BIGINT) AS x
  FROM orders GROUP BY 1),
ks AS (SELECT CAST(k AS BIGINT) AS k FROM range(1, 8) t(k)),
pairs AS (
  SELECT ks.k, a.x AS x, b.x AS y
  FROM daily a CROSS JOIN ks
  JOIN daily b ON b.d = a.d + ks.k),
m AS (
  SELECT k, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(x AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sx,
         CAST(SUM(CAST(y AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sy,
         CAST(SUM(CAST(x AS DECIMAL(38,0)) * y) AS DECIMAL(38,0)) AS sxy,
         CAST(SUM(CAST(x AS DECIMAL(38,0)) * x) AS DECIMAL(38,0)) AS sxx,
         CAST(SUM(CAST(y AS DECIMAL(38,0)) * y) AS DECIMAL(38,0)) AS syy
  FROM pairs GROUP BY k)
SELECT k, n AS n_pairs,
       ROUND(
         (CAST(n AS DOUBLE) * CAST(CAST(sxy AS VARCHAR) AS DOUBLE)
          - CAST(CAST(sx AS VARCHAR) AS DOUBLE)
            * CAST(CAST(sy AS VARCHAR) AS DOUBLE))
         / SQRT(
             (CAST(n AS DOUBLE) * CAST(CAST(sxx AS VARCHAR) AS DOUBLE)
              - CAST(CAST(sx AS VARCHAR) AS DOUBLE)
                * CAST(CAST(sx AS VARCHAR) AS DOUBLE))
             * (CAST(n AS DOUBLE) * CAST(CAST(syy AS VARCHAR) AS DOUBLE)
                - CAST(CAST(sy AS VARCHAR) AS DOUBLE)
                  * CAST(CAST(sy AS VARCHAR) AS DOUBLE))),
         6) AS acf
FROM m
""",
)
def acf_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    from koalas_spark.queries.analytics import daily_revenue_table

    daily = daily_revenue_table(spark, sf_dir)
    ks = spark.range(1, 8).select(F.col("id").cast("bigint").alias("k"))
    probe = daily.crossJoin(F.broadcast(ks)).select(
        "k", "x", (F.col("d") + F.col("k")).alias("pd")
    )
    right = daily.select(F.col("d").alias("pd"), F.col("x").alias("y"))
    pairs = probe.join(right, "pd")
    d38 = lambda col: col.cast("decimal(38,0)")  # noqa: E731
    m = pairs.groupBy("k").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(d38(F.col("x"))).cast("decimal(38,0)").alias("sx"),
        F.sum(d38(F.col("y"))).cast("decimal(38,0)").alias("sy"),
        F.sum(d38(F.col("x")) * F.col("y"))
        .cast("decimal(38,0)")
        .alias("sxy"),
        F.sum(d38(F.col("x")) * F.col("x"))
        .cast("decimal(38,0)")
        .alias("sxx"),
        F.sum(d38(F.col("y")) * F.col("y"))
        .cast("decimal(38,0)")
        .alias("syy"),
    )
    as_d = lambda c: F.col(c).cast("string").cast("double")  # noqa: E731
    n_d = F.col("n").cast("double")
    num = n_d * as_d("sxy") - as_d("sx") * as_d("sy")
    den = F.sqrt(
        (n_d * as_d("sxx") - as_d("sx") * as_d("sx"))
        * (n_d * as_d("syy") - as_d("sy") * as_d("sy"))
    )
    return m.select(
        "k", F.col("n").alias("n_pairs"), F.round(num / den, 6).alias("acf")
    )


# --------------------------------------------------------------------
# 255. ORC round-trip — Spark's other first-class columnar format
# (hive-era lakehouses still hold exabytes of it). Write the event
# stream as ORC, read it back with the ORIGINAL schema, and aggregate
# per event type; matching the oracle computed on the original
# parquet proves the round-trip preserves BIGINT ids, DOUBLE values
# and TIMESTAMP instants (ORC's timestamp encoding is
# timezone-sensitive — the min_ts column would catch a shifted
# rebase). Staged once per session (koalas_spark.memo).
@query(
    "orc_roundtrip_stats",
    oracle="""
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(CAST(SUM(CAST(value AS DECIMAL(25,6))) AS VARCHAR) AS DOUBLE)
         AS sum_value,
       CAST(SUM(event_id) AS BIGINT) AS sum_id,
       MIN(ts) AS min_ts
FROM events GROUP BY event_type
""",
)
def orc_roundtrip_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select(
        "event_id", "ts", "event_type", "value"
    )
    path = staged(
        spark, "events_orc", (sf_dir, "events"), ev.write.orc, "_SUCCESS"
    )
    back = spark.read.schema(ev.schema).orc(path)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("value").cast("decimal(25,6)"))
        .cast("string")
        .cast("double")
        .alias("sum_value"),
        F.sum("event_id").cast("bigint").alias("sum_id"),
        F.min("ts").alias("min_ts"),
    )


# --------------------------------------------------------------------
# 256. Kaplan-Meier survival curve over customer purchase lifetimes —
# the censoring-aware churn analysis a subscription/retention team
# runs. Lifetime = days between first and last order; a customer
# whose last order is within 365 days of the dataset horizon is
# CENSORED (still alive), otherwise their lifetime ended (death).
# The corpus collapses to the day-DOMAIN lifetime histogram
# (deaths_t, total_t); at-risk counts are a suffix sum and the KM
# product  S(t) = prod_{u<=t} (1 - d_u/n_u)  becomes a prefix SUM of
# per-step ln terms quantized to integer nano (#221/#243 discipline:
# both engines' ln agree to ~1 ulp, so the FLOOR lands identically),
# exponentiated once per output row. Terminal steps where everyone
# at risk dies (d = n, survival hits exactly 0) are excluded — the
# curve stops at the last resolvable step, documented here. All
# windows run over the ~2.4k-row day domain.
@query(
    "km_survival_curve",
    oracle="""
WITH cust AS (
  SELECT o_custkey,
         MIN(CAST(o_orderdate AS DATE)) AS f,
         MAX(CAST(o_orderdate AS DATE)) AS l
  FROM orders GROUP BY o_custkey),
horizon AS (SELECT MAX(CAST(o_orderdate AS DATE)) AS m FROM orders),
lt AS (
  SELECT CAST(date_diff('day', f, l) AS BIGINT) AS dur,
         CASE WHEN date_diff('day', l, m) > 365 THEN 1 ELSE 0 END AS ev
  FROM cust, horizon),
h AS (
  SELECT dur, CAST(COUNT(*) AS BIGINT) AS tot,
         CAST(SUM(ev) AS BIGINT) AS d
  FROM lt GROUP BY dur),
r AS (
  SELECT dur, d,
         CAST(SUM(tot) OVER (ORDER BY dur DESC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS BIGINT) AS n_risk
  FROM h),
steps AS (
  SELECT dur, d, n_risk,
         CAST(FLOOR(1000000000 * LN(CAST(n_risk - d AS DOUBLE)
                                    / CAST(n_risk AS DOUBLE)))
           AS BIGINT) AS lnq
  FROM r WHERE d > 0 AND d < n_risk),
c AS (
  SELECT dur, d, n_risk,
         CAST(SUM(lnq) OVER (ORDER BY dur
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS BIGINT) AS cum_lnq
  FROM steps)
SELECT dur AS t, n_risk, d AS n_death, cum_lnq,
       CAST(FLOOR(EXP(CAST(cum_lnq AS DOUBLE) / 1000000000) * 1000000)
         AS BIGINT) AS surv_ppm
FROM c
""",
)
def km_survival_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    cust = o.groupBy("o_custkey").agg(
        F.min(F.col("o_orderdate").cast("date")).alias("f"),
        F.max(F.col("o_orderdate").cast("date")).alias("l"),
    )
    horizon = o.agg(F.max(F.col("o_orderdate").cast("date")).alias("m"))
    lt = cust.crossJoin(F.broadcast(horizon)).select(
        F.datediff("l", "f").cast("bigint").alias("dur"),
        F.when(F.datediff("m", "l") > 365, 1).otherwise(0).alias("ev"),
    )
    h = lt.groupBy("dur").agg(
        F.count(F.lit(1)).cast("bigint").alias("tot"),
        F.sum("ev").cast("bigint").alias("d"),
    )
    w_suffix = Window.orderBy(F.col("dur").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    r = h.select(
        "dur",
        "d",
        F.sum("tot").over(w_suffix).cast("bigint").alias("n_risk"),
    )
    steps = r.filter((F.col("d") > 0) & (F.col("d") < F.col("n_risk"))).select(
        "dur",
        "d",
        "n_risk",
        F.floor(
            1000000000
            * F.log(
                (F.col("n_risk") - F.col("d")).cast("double")
                / F.col("n_risk").cast("double")
            )
        )
        .cast("bigint")
        .alias("lnq"),
    )
    w_prefix = Window.orderBy("dur").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    c = steps.select(
        "dur",
        "d",
        "n_risk",
        F.sum("lnq").over(w_prefix).cast("bigint").alias("cum_lnq"),
    )
    return c.select(
        F.col("dur").alias("t"),
        "n_risk",
        F.col("d").alias("n_death"),
        "cum_lnq",
        F.floor(
            F.exp(F.col("cum_lnq").cast("double") / 1000000000) * 1000000
        )
        .cast("bigint")
        .alias("surv_ppm"),
    )
