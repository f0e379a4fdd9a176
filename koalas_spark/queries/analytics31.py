"""Round-9 batch-9 additions (SURVEY.md §2 extensions): median CI via
order statistics, Durbin–Watson autocorrelation test, Markov entropy
rate, source-vocabulary Jaccard matrix.

Reference parity note: none of these exist in the reference (its
surface is the frame ops in source/koalas/dataframe.d:73-311); they
extend the robust-stats / time-series / sequence / corpus shelves
under the repo determinism rules (queries/__init__.py docstring):
histogram-prefix-sum order statistics (no global sort), per-value
nano-quantized ln (#221), DECIMAL(38) product sums, exact integer
ppm, bitmask domain collapse.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from koalas_spark.queries import query
from koalas_spark.queries.analytics import _t


# --------------------------------------------------------------------
# 323. median with order-statistic CI — the distribution-free 95%
# confidence interval for the median (ranks n/2 ± 0.98·√n, the normal
# approximation to the binomial order bounds — no resampling, no
# RNG): per order priority, the three order statistics come from
# prefix sums over the per-priority cents HISTOGRAM (the bounded
# value domain — never a global sort, the #227 discipline). Rank
# bounds use one identical-shape double each, floored to exact
# integer ranks.
@query(
    "median_ci_order_stats",
    oracle="""
WITH h AS (
  SELECT o_orderpriority AS pri,
         CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM orders GROUP BY 1, 2),
cum AS (
  SELECT pri, cents, c,
         CAST(SUM(c) OVER (PARTITION BY pri ORDER BY cents
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cm,
         CAST(SUM(c) OVER (PARTITION BY pri) AS BIGINT) AS n
  FROM h),
rk AS (
  SELECT pri, cents, cm, n,
         CAST(FLOOR((CAST(n AS DOUBLE) + 1.0) / 2.0) AS BIGINT) AS r_med,
         CAST(FLOOR(CAST(n AS DOUBLE) / 2.0
                    - 0.98 * SQRT(CAST(n AS DOUBLE))) AS BIGINT) AS r_lo,
         CAST(FLOOR(1.0 + CAST(n AS DOUBLE) / 2.0
                    + 0.98 * SQRT(CAST(n AS DOUBLE))) AS BIGINT) AS r_hi
  FROM cum)
SELECT pri, MAX(n) AS n,
       CAST(MIN(CASE WHEN cm >= r_med THEN cents END) AS BIGINT)
         AS median_cents,
       CAST(MIN(CASE WHEN cm >= r_lo THEN cents END) AS BIGINT)
         AS ci_lo_cents,
       CAST(MIN(CASE WHEN cm >= r_hi THEN cents END) AS BIGINT)
         AS ci_hi_cents
FROM rk GROUP BY pri
""",
)
def median_ci_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("pri"),
        F.floor(F.col("o_totalprice") * 100 + 0.5)
        .cast("bigint")
        .alias("cents"),
    )
    h = o.groupBy("pri", "cents").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    wc = (
        Window.partitionBy("pri")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wp = Window.partitionBy("pri")
    cum = h.select(
        "pri",
        "cents",
        F.sum("c").over(wc).cast("bigint").alias("cm"),
        F.sum("c").over(wp).cast("bigint").alias("n"),
    )
    rk = cum.select(
        "pri",
        "cents",
        "cm",
        "n",
        F.expr(
            "CAST(FLOOR((CAST(n AS DOUBLE) + 1.0) / 2.0) AS BIGINT)"
        ).alias("r_med"),
        F.expr(
            "CAST(FLOOR(CAST(n AS DOUBLE) / 2.0"
            " - 0.98 * SQRT(CAST(n AS DOUBLE))) AS BIGINT)"
        ).alias("r_lo"),
        F.expr(
            "CAST(FLOOR(1.0 + CAST(n AS DOUBLE) / 2.0"
            " + 0.98 * SQRT(CAST(n AS DOUBLE))) AS BIGINT)"
        ).alias("r_hi"),
    )
    return rk.groupBy("pri").agg(
        F.max("n").alias("n"),
        F.min(F.when(F.col("cm") >= F.col("r_med"), F.col("cents")))
        .cast("bigint")
        .alias("median_cents"),
        F.min(F.when(F.col("cm") >= F.col("r_lo"), F.col("cents")))
        .cast("bigint")
        .alias("ci_lo_cents"),
        F.min(F.when(F.col("cm") >= F.col("r_hi"), F.col("cents")))
        .cast("bigint")
        .alias("ci_hi_cents"),
    )


# --------------------------------------------------------------------
# 324. Durbin–Watson on daily revenue — the lag-1 serial-correlation
# test every forecasting pipeline runs on residuals (here residuals
# from the global mean, scaled ×n to stay integer: e_t = n·x_t − S).
# Collapses to the day domain first; the lag runs over that bounded
# table; numerator/denominator are DECIMAL(38) sums of integer
# squares (n·x overflows int64 squared — the acf idiom), and
# DW = Σ(e_t−e_{t−1})²/Σe_t² is one identical-shape double. DW≈2 is
# no autocorrelation; <1 says yesterday predicts today.
@query(
    "durbin_watson_daily",
    oracle="""
WITH daily AS (
  SELECT datediff('day', DATE '1995-01-01', o_orderdate) AS d,
         CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
              AS BIGINT) AS x
  FROM orders GROUP BY 1),
t AS (
  SELECT d, x,
         CAST(COUNT(*) OVER () AS BIGINT) AS n,
         CAST(SUM(x) OVER () AS BIGINT) AS s
  FROM daily),
e AS (
  SELECT d, n, CAST(n AS BIGINT) * x - s AS e_t,
         LAG(CAST(n AS BIGINT) * x - s) OVER (ORDER BY d) AS e_prev
  FROM t),
m AS (
  SELECT CAST(MAX(n) AS BIGINT) AS n_days,
         CAST(CAST(SUM(CASE WHEN e_prev IS NOT NULL
                  THEN CAST(e_t - e_prev AS DECIMAL(38,0)) * (e_t - e_prev)
                  END) AS VARCHAR) AS DOUBLE) AS num,
         CAST(CAST(SUM(CAST(e_t AS DECIMAL(38,0)) * e_t) AS VARCHAR)
              AS DOUBLE) AS den
  FROM e)
SELECT n_days, ROUND(num / den, 6) AS dw_stat FROM m
""",
    # lag-1 residual window over the day-domain artifact
    allow={"GlobalWindow"},
)
def durbin_watson_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    from koalas_spark.queries.analytics import daily_revenue_table

    daily = daily_revenue_table(spark, sf_dir)
    wall = Window.partitionBy()
    t = daily.select(
        "d",
        "x",
        F.count(F.lit(1)).over(wall).cast("bigint").alias("n"),
        F.sum("x").over(wall).cast("bigint").alias("s"),
    )
    wd = Window.orderBy("d")
    e = t.select(
        "d",
        "n",
        (F.col("n") * F.col("x") - F.col("s")).alias("e_t"),
    ).withColumn("e_prev", F.lag("e_t").over(wd))
    m = e.agg(
        F.max("n").cast("bigint").alias("n_days"),
        F.sum(
            F.when(
                F.col("e_prev").isNotNull(),
                F.expr("CAST(e_t - e_prev AS DECIMAL(38,0)) * (e_t - e_prev)"),
            )
        )
        .cast("string")
        .cast("double")
        .alias("num"),
        F.sum(F.expr("CAST(e_t AS DECIMAL(38,0)) * e_t"))
        .cast("string")
        .cast("double")
        .alias("den"),
    )
    return m.select(
        "n_days", F.round(F.expr("num / den"), 6).alias("dw_stat")
    )


# --------------------------------------------------------------------
# 325. Markov entropy rate — how predictable is the next event type
# given the current one? H = −Σ_ij π_i P_ij ln P_ij from the per-user
# transition counts (the same bounded 25-cell matrix as #179's, but a
# different measure: one number for sequence predictability, the
# metric session-prefetchers and anomaly scorers threshold). Per-user
# lag windows; ln quantized to nanos PER CELL (#221); the expectation
# is an exact-integer sum over the 25-cell domain, reported per
# from-state (conditional entropy) in nano-nats.
@query(
    "markov_entropy_rate",
    oracle="""
WITH s AS (
  SELECT user_id, event_type, ts, event_id,
         LAG(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev
  FROM events),
c AS (
  SELECT prev, event_type AS nxt, CAST(COUNT(*) AS BIGINT) AS c
  FROM s WHERE prev IS NOT NULL GROUP BY 1, 2),
m AS (
  SELECT prev, nxt, c,
         CAST(SUM(c) OVER (PARTITION BY prev) AS BIGINT) AS c_row
  FROM c),
w AS (
  SELECT prev, nxt, c, c_row,
         CAST(FLOOR(LN(CAST(c_row AS DOUBLE) / CAST(c AS DOUBLE))
                    * 1000000000 + 0.5) AS BIGINT) AS nll_nano
  FROM m)
SELECT prev AS from_state,
       CAST(MAX(c_row) AS BIGINT) AS n_transitions,
       CAST(SUM(c * nll_nano) // MAX(c_row) AS BIGINT)
         AS cond_entropy_nano
FROM w GROUP BY prev
""",
)
def markov_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id"
    )
    wu = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = ev.withColumn("prev", F.lag("event_type").over(wu)).filter(
        F.col("prev").isNotNull()
    )
    c = s.groupBy("prev", F.col("event_type").alias("nxt")).agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    wr = Window.partitionBy("prev")
    m = c.select(
        "prev", "nxt", "c", F.sum("c").over(wr).cast("bigint").alias("c_row")
    )
    w = m.withColumn(
        "nll_nano",
        F.floor(
            F.log(
                F.expr("CAST(c_row AS DOUBLE) / CAST(c AS DOUBLE)")
            )
            * 1000000000
            + 0.5
        ).cast("bigint"),
    )
    return w.groupBy(F.col("prev").alias("from_state")).agg(
        F.max("c_row").cast("bigint").alias("n_transitions"),
        F.expr(
            "CAST(SUM(c * nll_nano) div MAX(c_row) AS BIGINT)"
        ).alias("cond_entropy_nano"),
    )


# --------------------------------------------------------------------
# 326. source-vocabulary Jaccard matrix — which crawl sources share a
# vocabulary (the dedup-weight / mixture-design input): pairwise
# Jaccard over the 20 sources' token sets, computed WITHOUT any
# pairwise token join — each distinct token collapses to a 20-bit
# source-presence mask (one groupBy), masks collapse to their count
# table (bounded by min(vocab, 2^20) — a domain, not the corpus),
# and all 190 pair intersections/unions are exact-integer sums over
# that table. The bitmask-contingency trick scales to any fixed
# source panel at any corpus size.
@query(
    "source_vocab_jaccard_matrix",
    oracle="""
WITH toks AS (
  SELECT DISTINCT u.tok,
         CAST(SUBSTR(source, 4) AS INT) AS src
  FROM documents, UNNEST(string_split_regex(TRIM(text), '\\s+')) AS u(tok)
  WHERE LENGTH(u.tok) > 0),
mask AS (
  SELECT tok, CAST(SUM(1 << src) AS BIGINT) AS m
  FROM toks GROUP BY tok),
mc AS (
  SELECT m, CAST(COUNT(*) AS BIGINT) AS c FROM mask GROUP BY m),
pairs AS (
  SELECT a.i, b.j FROM (SELECT UNNEST(range(0, 20)) AS i) a,
                       (SELECT UNNEST(range(0, 20)) AS j) b
  WHERE a.i < b.j)
SELECT p.i AS src_a, p.j AS src_b,
       CAST(SUM(CASE WHEN (mc.m >> p.i) % 2 = 1 AND (mc.m >> p.j) % 2 = 1
                THEN mc.c ELSE 0 END) AS BIGINT) AS n_inter,
       CAST(SUM(CASE WHEN (mc.m >> p.i) % 2 = 1 OR (mc.m >> p.j) % 2 = 1
                THEN mc.c ELSE 0 END) AS BIGINT) AS n_union,
       CAST(SUM(CASE WHEN (mc.m >> p.i) % 2 = 1 AND (mc.m >> p.j) % 2 = 1
                THEN mc.c ELSE 0 END) * 1000000
            // SUM(CASE WHEN (mc.m >> p.i) % 2 = 1 OR (mc.m >> p.j) % 2 = 1
                   THEN mc.c ELSE 0 END) AS BIGINT) AS jaccard_ppm
FROM pairs p, mc
GROUP BY 1, 2
""",
    # 190-row pair panel cross-joined with the bounded mask-count table
    allow={"BroadcastNestedLoopJoin"},
)
def source_vocab_jaccard_matrix(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select("source", "text")
    toks = (
        docs.select(
            F.expr("CAST(SUBSTR(source, 4) AS INT)").alias("src"),
            F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("tok"),
        )
        .filter(F.length("tok") > 0)
        .distinct()
    )
    mask = toks.groupBy("tok").agg(
        F.sum(F.expr("shiftleft(CAST(1 AS BIGINT), src)"))
        .cast("bigint")
        .alias("m")
    )
    mc = mask.groupBy("m").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    pairs = spark.createDataFrame(
        [(i, j) for i in range(20) for j in range(20) if i < j],
        "i int, j int",
    )
    joined = pairs.crossJoin(F.broadcast(mc))
    inter = F.expr(
        "CASE WHEN shiftright(m, i) % 2 = 1 AND shiftright(m, j) % 2 = 1"
        " THEN c ELSE 0 END"
    )
    union = F.expr(
        "CASE WHEN shiftright(m, i) % 2 = 1 OR shiftright(m, j) % 2 = 1"
        " THEN c ELSE 0 END"
    )
    return joined.groupBy(
        F.col("i").alias("src_a"), F.col("j").alias("src_b")
    ).agg(
        F.sum(inter).cast("bigint").alias("n_inter"),
        F.sum(union).cast("bigint").alias("n_union"),
        F.expr(
            "CAST(SUM(CASE WHEN shiftright(m, i) % 2 = 1"
            "           AND shiftright(m, j) % 2 = 1"
            "          THEN c ELSE 0 END) * 1000000"
            " div SUM(CASE WHEN shiftright(m, i) % 2 = 1"
            "           OR shiftright(m, j) % 2 = 1"
            "         THEN c ELSE 0 END) AS BIGINT)"
        ).alias("jaccard_ppm"),
    )
