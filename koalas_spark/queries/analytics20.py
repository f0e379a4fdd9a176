"""Round-8 batch-15 additions (SURVEY.md §2 extensions): inter-event
arrival-time distributions, Flesch-style readability scoring, and
maximum drawdown of the daily revenue series.

Reference parity note: none of these exist in the reference (its
surface is the frame ops in source/koalas/dataframe.d:73-311); they
extend the behavioral-analytics / text-quality / financial shelves
under the repo determinism rules (queries/__init__.py docstring):
domain-histogram quantiles instead of corpus sorts, per-value FLOOR
of epoch seconds, integer ratios with non-negative division, and
regexp shapes that both engines' regex engines evaluate identically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from koalas_spark.queries import query
from koalas_spark.queries.analytics import _t


# --------------------------------------------------------------------
# 284. inter-arrival time distribution per event type — the
# Poisson-ness check behind every traffic model: per (user, type),
# gaps between consecutive events (the lag window partitions by
# user x type, so partition size is bounded by one user's activity —
# NEVER a per-type corpus-wide ordering, which would funnel the whole
# stream through 5 partitions); the per-type p50/p90 come from the
# #227 domain histogram over gap seconds. For an exponential process
# p50/mean converges to ln 2 ~ 0.693 — the mean is reported next to
# the quantiles so the check is visible. Timestamps go through
# per-value FLOOR(epoch).
@query(
    "interarrival_distribution",
    oracle="""
WITH ev AS (
  SELECT user_id, event_type,
         CAST(FLOOR(epoch(ts)) AS BIGINT) AS sec,
         event_id
  FROM events),
g AS (
  SELECT event_type,
         sec - LAG(sec) OVER (PARTITION BY user_id, event_type
                              ORDER BY sec, event_id) AS gap
  FROM ev),
h AS (
  SELECT event_type, gap, CAST(COUNT(*) AS BIGINT) AS c
  FROM g WHERE gap IS NOT NULL GROUP BY 1, 2),
cum AS (
  SELECT event_type, gap, c,
         CAST(SUM(c) OVER (PARTITION BY event_type ORDER BY gap
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS BIGINT) AS cumc
  FROM h),
tot AS (
  SELECT event_type, CAST(SUM(c) AS BIGINT) AS n,
         CAST(SUM(gap * c) AS BIGINT) AS s
  FROM h GROUP BY event_type)
SELECT cum.event_type, tot.n AS n_gaps,
       CAST(MIN(CASE WHEN cumc >= (tot.n + 1) // 2 THEN gap END)
         AS BIGINT) AS p50_sec,
       CAST(MIN(CASE WHEN cumc >= (9 * tot.n + 9) // 10 THEN gap END)
         AS BIGINT) AS p90_sec,
       tot.s // tot.n AS mean_sec
FROM cum JOIN tot ON cum.event_type = tot.event_type
GROUP BY cum.event_type, tot.n, tot.s
""",
)
def interarrival_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.col("ts").cast("long").alias("sec"),
        "event_id",
    )
    w = Window.partitionBy("user_id", "event_type").orderBy("sec", "event_id")
    g = ev.select(
        "event_type", (F.col("sec") - F.lag("sec").over(w)).alias("gap")
    ).filter(F.col("gap").isNotNull())
    h = g.groupBy("event_type", "gap").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    wcum = Window.partitionBy("event_type").orderBy("gap").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = h.select(
        "event_type",
        "gap",
        "c",
        F.sum("c").over(wcum).cast("bigint").alias("cumc"),
    )
    tot = h.groupBy("event_type").agg(
        F.sum("c").cast("bigint").alias("n"),
        F.sum(F.col("gap") * F.col("c")).cast("bigint").alias("s"),
    )
    return (
        cum.join(F.broadcast(tot), "event_type")
        .groupBy("event_type", "n", "s")
        .agg(
            F.min(
                F.when(F.col("cumc") >= F.expr("(n + 1) div 2"), F.col("gap"))
            )
            .cast("bigint")
            .alias("p50_sec"),
            F.min(
                F.when(
                    F.col("cumc") >= F.expr("(9 * n + 9) div 10"), F.col("gap")
                )
            )
            .cast("bigint")
            .alias("p90_sec"),
        )
        .select(
            "event_type",
            F.col("n").alias("n_gaps"),
            "p50_sec",
            "p90_sec",
            F.expr("s div n").alias("mean_sec"),
        )
    )


# --------------------------------------------------------------------
# 285. Flesch-style readability per language — the classic
# reading-ease formula over corpus aggregates: 206.835 - 1.015 W/S -
# 84.6 Y/W (W words, S sentences, Y syllables), with syllables
# approximated by VOWEL GROUPS counted portably as
# len(replace(lower, '[aeiou]+' -> 'V')) - len(replace(lower,
# '[aeiou]+' -> '')) — each group contributes exactly one surviving
# character in the first form and zero in the second, so the
# difference IS the group count, with no split-semantics divergence
# at string edges. Sentences = terminal punctuation runs + 1 per doc
# (same trick on [.!?]+). Everything reduces to three integer sums
# per language; the formula is evaluated once per language in milli
# units with non-negative integer division (all three terms are
# positive for natural text).
@query(
    "text_readability_flesch",
    oracle="""
WITH d AS (
  SELECT lang,
         LEN(string_split_regex(TRIM(text), '\\s+')) AS w,
         LEN(regexp_replace(LOWER(text), '[aeiou]+', 'V', 'g'))
           - LEN(regexp_replace(LOWER(text), '[aeiou]+', '', 'g')) AS y,
         LEN(regexp_replace(text, '[.!?]+', 'P', 'g'))
           - LEN(regexp_replace(text, '[.!?]+', '', 'g')) + 1 AS s
  FROM documents),
m AS (
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(w) AS BIGINT) AS ws,
         CAST(SUM(y) AS BIGINT) AS ys,
         CAST(SUM(s) AS BIGINT) AS ss
  FROM d GROUP BY lang)
SELECT lang, n_docs, ws AS n_words, ss AS n_sentences, ys AS n_syllables,
       CAST(206835 - (1015 * ws) // ss - (84600 * ys) // ws AS BIGINT)
         AS flesch_milli
FROM m
""",
)
def text_readability_flesch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from koalas_spark.functions.textfn import tokens

    d = _t(spark, sf_dir, "documents")
    low = F.lower(F.col("text"))
    vg = (
        F.length(F.regexp_replace(low, "[aeiou]+", "V"))
        - F.length(F.regexp_replace(low, "[aeiou]+", ""))
    ).cast("long")
    sent = (
        F.length(F.regexp_replace(F.col("text"), "[.!?]+", "P"))
        - F.length(F.regexp_replace(F.col("text"), "[.!?]+", ""))
        + 1
    ).cast("long")
    base = d.select(
        "lang",
        F.size(tokens(F.col("text"))).cast("long").alias("w"),
        vg.alias("y"),
        sent.alias("s"),
    )
    m = base.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("w").cast("bigint").alias("ws"),
        F.sum("y").cast("bigint").alias("ys"),
        F.sum("s").cast("bigint").alias("ss"),
    )
    return m.select(
        "lang",
        "n_docs",
        F.col("ws").alias("n_words"),
        F.col("ss").alias("n_sentences"),
        F.col("ys").alias("n_syllables"),
        F.expr("CAST(206835 - (1015 * ws) div ss - (84600 * ys) div ws AS BIGINT)")
        .alias("flesch_milli"),
    )


# --------------------------------------------------------------------
# 286. maximum drawdown of daily revenue — the risk metric every
# financial dashboard carries: the deepest peak-to-trough decline of
# the daily series. Running max then minimum of (x - runmax), both
# over the DAY-DOMAIN table (one corpus aggregate feeds it; the
# windows run over ~2.4k rows at any corpus scale — the bounded
# GlobalWindow shape). The trough day and its peak reference are
# reported with deterministic MIN-day tiebreaks.
@query(
    "max_drawdown_daily",
    oracle="""
WITH daily AS MATERIALIZED (
  SELECT date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))
           AS d,
         CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
           AS BIGINT) AS x
  FROM orders GROUP BY 1),
rm AS (
  SELECT d, x,
         CAST(MAX(x) OVER (ORDER BY d
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS BIGINT) AS runmax
  FROM daily),
dd AS (SELECT d, x, runmax, x - runmax AS drawdown FROM rm),
mx AS (SELECT CAST(MIN(drawdown) AS BIGINT) AS max_dd FROM dd)
SELECT mx.max_dd AS max_drawdown_cents,
       (SELECT CAST(MIN(d) AS BIGINT) FROM dd, mx
        WHERE drawdown = mx.max_dd) AS trough_day_idx,
       (SELECT CAST(MIN(runmax) AS BIGINT) FROM dd, mx
        WHERE drawdown = mx.max_dd) AS peak_cents
FROM mx
""",
    # 1-row max-drawdown frame cross-joined back onto the bounded
    # day domain
    allow={"BroadcastNestedLoopJoin"},
)
def max_drawdown_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    from koalas_spark.queries.analytics import daily_revenue_table

    daily = daily_revenue_table(spark, sf_dir)
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    dd = daily.select(
        "d",
        "x",
        F.max("x").over(w).cast("bigint").alias("runmax"),
    ).withColumn("drawdown", F.col("x") - F.col("runmax")).localCheckpoint(
        eager=False
    )
    mx = dd.agg(F.min("drawdown").cast("bigint").alias("max_dd"))
    at = (
        dd.crossJoin(mx)
        .filter(F.col("drawdown") == F.col("max_dd"))
        .agg(
            F.min("d").cast("bigint").alias("trough_day_idx"),
            F.min("runmax").cast("bigint").alias("peak_cents"),
        )
    )
    return (
        mx.crossJoin(at).select(
            F.col("max_dd").alias("max_drawdown_cents"),
            "trough_day_idx",
            "peak_cents",
        )
    )
