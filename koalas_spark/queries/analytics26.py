"""Round-9 batch-4 additions (SURVEY.md §2 extensions): Matryoshka
truncation energy, corpus n-gram novelty curve, out-of-order lateness
histogram, and a dictionary-encoding advisor.

Reference parity note: none of these exist in the reference (its
surface is the frame ops in source/koalas/dataframe.d:73-311); they
extend the embedding / corpus-curation / streaming-design / storage
shelves under the repo determinism rules (queries/__init__.py
docstring): 1e4-quantized integer embeddings, exact integer ppm,
non-negative integer division, bounded per-entity windows,
LENGTH(BIN()) integer bit lengths.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from koalas_spark.functions.vectorfn import norm_sq
from koalas_spark.queries import query
from koalas_spark.queries.analytics import _t


# --------------------------------------------------------------------
# 304. Matryoshka truncation energy — the "can we ship half the
# dims?" audit behind MRL-style embedding serving: per vector, the
# share of squared energy captured by the first 32 of 64 dims, in
# exact integer ppm over the 1e4-quantized embedding (the repo's
# portable embedding idiom), bucketed into deciles. A high-energy
# head means the index can store truncated vectors and re-rank with
# full ones. One Arrow-free codegen pass over the corpus, ≤11 output
# rows; no shuffle beyond the final tiny aggregate.
@query(
    "matryoshka_energy_deciles",
    oracle="""
WITH q AS (
  SELECT vec_id,
         list_transform(CAST(embedding AS DOUBLE[]),
                        x -> CAST(FLOOR(x * 10000 + 0.5) AS BIGINT)) AS qv
  FROM embeddings),
e AS (
  SELECT vec_id,
         CAST(list_sum(list_transform(qv[1:32], x -> x * x)) AS BIGINT)
           AS e_half,
         CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT) AS e_full
  FROM q),
r AS (
  SELECT vec_id,
         CASE WHEN e_full > 0
              THEN CAST((e_half * 1000000) // e_full AS BIGINT) END
           AS ratio_ppm
  FROM e)
SELECT CAST(ratio_ppm // 100000 AS INT) AS decile,
       CAST(COUNT(*) AS BIGINT) AS n_vectors,
       CAST(MIN(ratio_ppm) AS BIGINT) AS min_ppm,
       CAST(MAX(ratio_ppm) AS BIGINT) AS max_ppm
FROM r WHERE ratio_ppm IS NOT NULL
GROUP BY 1
""",
)
def matryoshka_energy_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform(
            F.col("embedding"),
            lambda x: F.floor(x.cast("double") * 10000 + 0.5).cast("bigint"),
        ).alias("qv"),
    )
    qv = F.col("qv")
    e = emb.select(
        "vec_id",
        norm_sq(F.slice(qv, 1, 32), 0).alias("e_half"),
        norm_sq(qv, 0).alias("e_full"),
    )
    r = e.select(
        "vec_id",
        F.when(
            F.col("e_full") > 0,
            F.expr("CAST((e_half * 1000000) div e_full AS BIGINT)"),
        ).alias("ratio_ppm"),
    ).filter(F.col("ratio_ppm").isNotNull())
    return r.groupBy(
        F.expr("CAST(ratio_ppm div 100000 AS INT)").alias("decile")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vectors"),
        F.min("ratio_ppm").cast("bigint").alias("min_ppm"),
        F.max("ratio_ppm").cast("bigint").alias("max_ppm"),
    )


# --------------------------------------------------------------------
# 305. n-gram novelty curve — "is the crawl saturating?": per
# ingestion-order decile (doc_id order stands in for crawl order),
# the share of distinct word 5-grams seen for the FIRST time in that
# doc. A flattening novelty curve is the classic stop-crawling /
# dedup-harder signal. Plan: distinct (doc, gram) pairs → one groupBy
# for each gram's first doc → join back → decile aggregate; linear,
# two shuffles. Gram identity travels as the string here so the
# oracle is exact; at 100 TB it would travel as an 8-byte xxhash64
# (the #95 trick) with identical plan shape.
@query(
    "ngram_novelty_curve",
    oracle="""
WITH toks AS (
  SELECT doc_id, string_split_regex(TRIM(text), '\\s+') AS t
  FROM documents),
grams AS (
  SELECT DISTINCT doc_id,
         t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' '
              || t[i+4] AS g
  FROM toks, UNNEST(range(1, GREATEST(LEN(t) - 3, 1))) AS u(i)
  WHERE LEN(t) >= 5),
firsts AS (
  SELECT g, CAST(MIN(doc_id) AS BIGINT) AS first_doc FROM grams GROUP BY g),
per_doc AS (
  SELECT gr.doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_grams,
         CAST(SUM(CASE WHEN f.first_doc = gr.doc_id THEN 1 ELSE 0 END)
              AS BIGINT) AS n_novel
  FROM grams gr JOIN firsts f ON gr.g = f.g
  GROUP BY gr.doc_id),
mx AS (SELECT CAST(MAX(doc_id) AS BIGINT) AS m FROM documents)
SELECT CAST((p.doc_id * 10) // (mx.m + 1) AS INT) AS decile,
       CAST(SUM(p.n_grams) AS BIGINT) AS n_grams,
       CAST(SUM(p.n_novel) AS BIGINT) AS n_novel,
       CAST((SUM(p.n_novel) * 1000000) // SUM(p.n_grams) AS BIGINT)
         AS novelty_ppm
FROM per_doc p, mx
GROUP BY 1
""",
    # 1-row max-doc-id frame cross-joined onto the per-doc novelty rows
    allow={"BroadcastNestedLoopJoin"},
)
def ngram_novelty_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    toks = docs.select(
        "doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("t")
    ).filter(F.size("t") >= 5)
    gram = F.concat_ws(
        " ",
        F.expr("t[i - 1]"),
        F.expr("t[i]"),
        F.expr("t[i + 1]"),
        F.expr("t[i + 2]"),
        F.expr("t[i + 3]"),
    )
    grams = (
        toks.select(
            "doc_id",
            F.explode(F.sequence(F.lit(1), F.size("t") - 4)).alias("i"),
            "t",
        )
        .select("doc_id", gram.alias("g"))
        .distinct()
    )
    firsts = grams.groupBy("g").agg(
        F.min("doc_id").cast("bigint").alias("first_doc")
    )
    per_doc = (
        grams.join(firsts, "g")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_grams"),
            F.sum(
                F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_novel"),
        )
    )
    mx = docs.agg(F.max("doc_id").cast("bigint").alias("m"))
    return (
        per_doc.crossJoin(mx)
        .groupBy(F.expr("CAST((doc_id * 10) div (m + 1) AS INT)").alias("decile"))
        .agg(
            F.sum("n_grams").cast("bigint").alias("n_grams"),
            F.sum("n_novel").cast("bigint").alias("n_novel"),
            F.expr(
                "CAST((SUM(n_novel) * 1000000) div SUM(n_grams) AS BIGINT)"
            ).alias("novelty_ppm"),
        )
    )


# --------------------------------------------------------------------
# 306. out-of-order lateness histogram — the question every
# watermark is sized by: under transport jitter, how far behind the
# per-user event-time high-water mark do events arrive? The source
# feed here is perfectly ordered (generator artifact), so a
# deterministic md5 jitter (0..7199 s per event) simulates the device
# →collector delay; arrival order = event time + jitter, and
# lateness = running max(event time) over arrival order − event
# time, a bounded PER-USER window, never a corpus-wide one. Buckets
# are binary magnitudes via LENGTH(BIN()) (integer-exact, the #225
# trick), ≤64 rows out. The top occupied bucket IS the watermark
# delay a streaming job should configure.
@query(
    "out_of_order_lateness_histogram",
    oracle="""
WITH s AS (
  SELECT user_id, event_id, CAST(FLOOR(epoch(ts)) AS BIGINT) AS sec,
         (ascii(substr(md5(CAST(event_id AS VARCHAR)), 1, 1)) * 256
          + ascii(substr(md5(CAST(event_id AS VARCHAR)), 2, 1))) % 7200
           AS jit
  FROM events),
l AS (
  SELECT user_id,
         CAST(MAX(sec) OVER (PARTITION BY user_id
              ORDER BY sec + jit, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - sec
              AS BIGINT) AS late
  FROM s)
SELECT CASE WHEN late = 0 THEN 0
            ELSE CAST(LENGTH(bin(late)) AS INT) END AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(MIN(late) AS BIGINT) AS min_late_sec,
       CAST(MAX(late) AS BIGINT) AS max_late_sec
FROM l GROUP BY 1
""",
)
def out_of_order_lateness_histogram(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    h = F.md5(F.col("event_id").cast("string"))
    jit = (
        F.ascii(F.substring(h, 1, 1)) * 256 + F.ascii(F.substring(h, 2, 1))
    ) % 7200
    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.col("ts").cast("long").alias("sec"),
        jit.alias("jit"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("sec") + F.col("jit"), F.col("event_id"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    late = ev.select(
        (F.max("sec").over(w) - F.col("sec")).cast("bigint").alias("late")
    )
    return late.groupBy(
        F.when(F.col("late") == 0, 0)
        .otherwise(F.length(F.bin(F.col("late"))).cast("int"))
        .alias("bucket")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.min("late").cast("bigint").alias("min_late_sec"),
        F.max("late").cast("bigint").alias("max_late_sec"),
    )


# --------------------------------------------------------------------
# 307. dictionary-encoding advisor — the layout decision a columnar
# writer makes per column: raw UTF-8 bytes vs dictionary bytes
# (distinct values once + one fixed-width code per row, width =
# ceil(bitlen(ndv-1)/8) bytes via LENGTH(BIN()), integer-exact).
# One pass per advised column (a 3-element fixed set), each a
# map-side-combined aggregate; output is 3 advisor rows with exact
# integer ppm savings — the storage-engineering twin of #274's
# quantization QA.
@query(
    "dict_encoding_advisor",
    oracle="""
WITH u AS (
  SELECT 'o_orderpriority' AS col_name, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT) AS ndv,
         CAST(SUM(LENGTH(o_orderpriority)) AS BIGINT) AS raw_bytes,
         (SELECT CAST(SUM(LENGTH(v)) AS BIGINT)
          FROM (SELECT DISTINCT o_orderpriority AS v FROM orders) d)
           AS dict_val_bytes
  FROM orders
  UNION ALL
  SELECT 'o_orderstatus', CAST(COUNT(*) AS BIGINT),
         CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT),
         CAST(SUM(LENGTH(o_orderstatus)) AS BIGINT),
         (SELECT CAST(SUM(LENGTH(v)) AS BIGINT)
          FROM (SELECT DISTINCT o_orderstatus AS v FROM orders) d)
  FROM orders
  UNION ALL
  SELECT 'l_returnflag', CAST(COUNT(*) AS BIGINT),
         CAST(COUNT(DISTINCT l_returnflag) AS BIGINT),
         CAST(SUM(LENGTH(l_returnflag)) AS BIGINT),
         (SELECT CAST(SUM(LENGTH(v)) AS BIGINT)
          FROM (SELECT DISTINCT l_returnflag AS v FROM lineitem) d)
  FROM lineitem)
SELECT col_name, n, ndv, raw_bytes,
       CAST(dict_val_bytes + n * ((LENGTH(bin(ndv - 1)) + 7) // 8)
            AS BIGINT) AS dict_bytes,
       CAST((raw_bytes - (dict_val_bytes
             + n * ((LENGTH(bin(ndv - 1)) + 7) // 8))) * 1000000
            // raw_bytes AS BIGINT) AS savings_ppm
FROM u
""",
    # 1-row distinct-value-bytes frame cross-joined onto 1-row col stats
    allow={"BroadcastNestedLoopJoin"},
)
def dict_encoding_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    def advise(df: DataFrame, col: str) -> DataFrame:
        vals = df.select(F.col(col).alias("v"))
        stats = vals.agg(
            F.lit(col).alias("col_name"),
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.countDistinct("v").cast("bigint").alias("ndv"),
            F.sum(F.length("v")).cast("bigint").alias("raw_bytes"),
        )
        dict_bytes = vals.distinct().agg(
            F.sum(F.length("v")).cast("bigint").alias("dict_val_bytes")
        )
        return stats.crossJoin(dict_bytes)
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    u = (
        advise(o, "o_orderpriority")
        .unionAll(advise(o, "o_orderstatus"))
        .unionAll(advise(li, "l_returnflag"))
    )
    return u.select(
        "col_name",
        "n",
        "ndv",
        "raw_bytes",
        F.expr(
            "CAST(dict_val_bytes + n * ((LENGTH(bin(ndv - 1)) + 7) div 8)"
            " AS BIGINT)"
        ).alias("dict_bytes"),
        F.expr(
            "CAST((raw_bytes - (dict_val_bytes"
            " + n * ((LENGTH(bin(ndv - 1)) + 7) div 8))) * 1000000"
            " div raw_bytes AS BIGINT)"
        ).alias("savings_ppm"),
    )
