"""Round-10 batch-5 additions (SURVEY.md §2 extensions): per-source
quality gating via exact bounded-domain percentiles, the Observation
metrics API, per-language tokenization-cost ratios, and a per-source
exact-duplicate rate audit.

Reference parity note: not in the reference (its surface is the frame
ops in source/koalas/dataframe.d:73-311); determinism per the repo
rules (queries/__init__.py docstring).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from koalas_spark.frame import local_rows
from koalas_spark.queries import query
from koalas_spark.queries.analytics import _t


# --------------------------------------------------------------------
# 412. per-source quality gate at the exact 75th percentile — the
# selection policy on top of #157's integer quality score, WITHOUT a
# per-source rank window (a hot source would funnel its whole corpus
# through one task): the score domain is bounded by construction
# (#157's features cap at small integers), so the exact percentile
# comes from a (source x score) histogram — cumulative counts over the
# bounded score domain, threshold = smallest score with cum >= 3n/4
# (cross-multiplied, no division), kept = docs STRICTLY above it.
# Shuffles: one bounded histogram + one broadcast join back.
@query(
    "quality_threshold_per_source",
    oracle="""
WITH f AS (
  SELECT source,
         LEN(string_split_regex(TRIM(text), '\\s+')) AS n_tok,
         LEN(text) AS n_chars,
         LEN(list_filter(string_split_regex(TRIM(text), '\\s+'),
             t -> t IN ('the','a','of','and','to','in','is'))) AS n_stop,
         LEN(text) - LEN(regexp_replace(text, '[!-/:-@\\[-`{-~]', '', 'g'))
           AS n_punct
  FROM documents),
s AS (
  SELECT source,
         2 * ((n_stop * 1000) // GREATEST(n_tok, 1))
         - 3 * ((n_punct * 1000) // GREATEST(n_chars, 1))
         + 5 * LEAST(n_tok, 200) - 400 AS score
  FROM f),
h AS (
  SELECT source, score, CAST(COUNT(*) AS BIGINT) AS c
  FROM s GROUP BY 1, 2),
cum AS (
  SELECT source, score, c,
         CAST(SUM(c) OVER (PARTITION BY source ORDER BY score
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cb,
         CAST(SUM(c) OVER (PARTITION BY source) AS BIGINT) AS n
  FROM h),
thr AS (
  SELECT source, MIN(score) AS q75, MAX(n) AS n_docs
  FROM cum WHERE 4 * cb >= 3 * n GROUP BY source)
SELECT t.source, t.n_docs, CAST(t.q75 AS BIGINT) AS q75_score,
       CAST(COALESCE(SUM(CASE WHEN cum.score > t.q75 THEN cum.c END), 0)
         AS BIGINT) AS n_kept
FROM thr t LEFT JOIN cum ON cum.source = t.source
GROUP BY t.source, t.n_docs, t.q75
ORDER BY t.source
""",
)
def quality_threshold_per_source(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from koalas_spark.functions.textfn import (
        punct_count,
        stopword_count,
        token_count,
    )

    d = _t(spark, sf_dir, "documents")
    # IDENTICAL integer score to #157 (quality_linear_classifier) —
    # same feature functions, same exact-integer arithmetic
    f = d.select(
        "source",
        token_count(F.col("text")).alias("n_tok"),
        F.length("text").cast("long").alias("n_chars"),
        stopword_count(F.col("text")).alias("n_stop"),
        punct_count(F.col("text")).alias("n_punct"),
    )
    s = f.select(
        "source",
        (
            F.expr("2 * ((n_stop * 1000) div greatest(n_tok, 1))")
            - F.expr("3 * ((n_punct * 1000) div greatest(n_chars, 1))")
            + F.expr("5 * least(n_tok, 200)")
            - F.lit(400)
        ).alias("score"),
    )
    h = s.groupBy("source", "score").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    wc = (
        Window.partitionBy("source")
        .orderBy("score")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wn = Window.partitionBy("source")
    cum = h.select(
        "source",
        "score",
        "c",
        F.sum("c").over(wc).cast("bigint").alias("cb"),
        F.sum("c").over(wn).cast("bigint").alias("n"),
    )
    thr = (
        cum.filter(4 * F.col("cb") >= 3 * F.col("n"))
        .groupBy("source")
        .agg(
            F.min("score").alias("q75"),
            F.max("n").alias("n_docs"),
        )
    )
    return (
        thr.join(F.broadcast(cum.select("source", "score", "c")), "source", "left")
        .groupBy("source", "n_docs", "q75")
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("score") > F.col("q75"), F.col("c"))),
                F.lit(0),
            )
            .cast("bigint")
            .alias("n_kept")
        )
        .select(
            "source",
            "n_docs",
            F.col("q75").cast("bigint").alias("q75_score"),
            "n_kept",
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------
# 413. Observation metrics — Spark's df.observe() collects named
# aggregates AS THE QUERY RUNS (no second scan: the metrics piggyback
# on the action's own pass; production uses this for row-count /
# checksum circuit breakers on every pipeline stage). The audit runs
# the q6-shaped filter with observed count+sum, materializes via a
# noop count, and returns the observed metrics as a 1-row frame —
# which must equal the oracle's direct aggregation, proving the
# observed numbers are the real ones.
@query(
    "observe_metrics_audit",
    oracle="""
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(FLOOR(l_extendedprice * l_discount * 100 + 0.5)
                     AS BIGINT)) AS BIGINT) AS revenue_cents
FROM lineitem
WHERE l_shipdate >= DATE '1997-01-01' AND l_shipdate < DATE '1998-01-01'
  AND l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24
""",
)
def observe_metrics_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Observation

    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    obs = Observation("q6_canary")
    observed = li.observe(
        obs,
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(
            F.floor(
                F.col("l_extendedprice") * F.col("l_discount") * 100 + 0.5
            ).cast("bigint")
        )
        .cast("bigint")
        .alias("revenue_cents"),
    )
    observed.count()  # the action the metrics piggyback on
    got = obs.get
    return local_rows(
        spark,
        [(int(got["n_rows"]), int(got["revenue_cents"]))],
        "n_rows bigint, revenue_cents bigint",
    )


# --------------------------------------------------------------------
# 414. cross-language tokenization-cost ratios — tokens-per-kilochar
# by language and its ratio vs English (the budgeting number behind
# multilingual sampling: a language that tokenizes 30% denser eats
# 30% more compute per character). Whitespace token count (the #44
# convention), exact integer sums, ratios as cross-multiplied ppm of
# integer sums (tok_l * chars_en * 1e6 / (chars_l * tok_en) — DEC38
# product, FLOOR-double division per the DECIMAL-division rule). One
# bounded per-lang groupBy; the en row broadcasts.
@query(
    "cross_lingual_length_ratio",
    oracle="""
WITH s AS (
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(LEN(string_split(text, ' '))) AS BIGINT) AS toks,
         CAST(SUM(LEN(text)) AS BIGINT) AS chars
  FROM documents GROUP BY lang),
e AS (SELECT toks AS etoks, chars AS echars FROM s WHERE lang = 'en')
SELECT s.lang, s.n_docs, s.toks, s.chars,
       CAST(FLOOR(
           CAST(CAST(CAST(s.toks AS DECIMAL(38,0)) * e.echars * 1000000
                     AS VARCHAR) AS DOUBLE)
           / CAST(CAST(CAST(s.chars AS DECIMAL(38,0)) * e.etoks AS VARCHAR)
                  AS DOUBLE)) AS BIGINT) AS density_vs_en_ppm
FROM s CROSS JOIN e ORDER BY s.lang
""",
    # 1-row English-baseline frame cross-joined onto the 5-lang domain
    allow={"BroadcastNestedLoopJoin"},
)
def cross_lingual_length_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = (
        _t(spark, sf_dir, "documents")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(F.size(F.split("text", " "))).cast("bigint").alias("toks"),
            F.sum(F.length("text")).cast("bigint").alias("chars"),
        )
    )
    e = s.filter(F.col("lang") == "en").select(
        F.col("toks").alias("etoks"), F.col("chars").alias("echars")
    )
    return (
        s.crossJoin(F.broadcast(e))
        .select(
            "lang",
            "n_docs",
            "toks",
            "chars",
            F.expr(
                "CAST(FLOOR("
                "CAST(CAST(CAST(toks AS DECIMAL(38,0)) * echars * 1000000"
                " AS STRING) AS DOUBLE)"
                " / CAST(CAST(CAST(chars AS DECIMAL(38,0)) * etoks"
                " AS STRING) AS DOUBLE)) AS BIGINT)"
            ).alias("density_vs_en_ppm"),
        )
        .orderBy("lang")
    )


# --------------------------------------------------------------------
# 415. exact-duplicate rate per source — the ingest-health number
# behind #37's dedup (which source is feeding the pipeline copies?):
# md5(text) groups, duplicates = members beyond each group's
# min-doc_id canonical, rate as a cross-multiplied ppm. The hash
# groupBy is the same one-pass shape as dedup_exact; the per-source
# rollup is bounded. A source whose dup_ppm jumps is the first thing
# a crawl operator pages on.
@query(
    "dedup_rate_by_source",
    oracle="""
WITH g AS (
  SELECT source, md5(text) AS h, CAST(COUNT(*) AS BIGINT) AS c
  FROM documents GROUP BY 1, 2)
SELECT source,
       CAST(SUM(c) AS BIGINT) AS n_docs,
       CAST(SUM(c) - COUNT(*) AS BIGINT) AS n_dups,
       CAST(((SUM(c) - COUNT(*)) * 1000000) // SUM(c) AS BIGINT)
         AS dup_ppm
FROM g GROUP BY source ORDER BY source
""",
)
def dedup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = (
        _t(spark, sf_dir, "documents")
        .groupBy("source", F.md5("text").alias("h"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    return (
        g.groupBy("source")
        .agg(
            F.sum("c").cast("bigint").alias("n_docs"),
            (F.sum("c") - F.count(F.lit(1))).cast("bigint").alias("n_dups"),
        )
        .select(
            "source",
            "n_docs",
            "n_dups",
            F.expr(
                "CAST((n_dups * 1000000) div n_docs AS BIGINT)"
            ).alias("dup_ppm"),
        )
        .orderBy("source")
    )
