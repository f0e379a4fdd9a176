"""Training-data pipeline operators (SURVEY.md §2.8): deterministic
stratified sampling, train/test splitting, benchmark-contamination
detection, and token-diversity quality stats over the documents table.

All sampling here is HASH-based, never rand(): a training pipeline
must produce the same sample on re-run, across engines, and across
partitionings — md5 of the stable doc_id gives a uniform, portable,
seedless coin. (Spark's sample()/sampleBy() are seed-dependent on
partition layout, so they can't be oracle-checked and silently
resample when upstream repartitions — exactly what a 100 TB pipeline
must not do between checkpoint and resume.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from koalas_spark.memo import staged
from koalas_spark.queries import query
from koalas_spark.queries.analytics import _t


def _coin(col) -> F.Column:
    """Uniform 16-bit hex coin in ['0000','ffff') from a stable id —
    identical in Spark and DuckDB (md5 hex is lowercase in both)."""
    return F.substring(F.md5(col.cast("string")), 1, 4)


# --------------------------------------------------------------------
# 93. deterministic stratified sampling — per-language fractions
# (en is over-represented in the corpus, so it's downsampled 10% vs
# 30% for the rest). Pure per-row predicate: no shuffle, pushes to the
# scan, trivially reproducible on any cluster layout.
@query(
    "stratified_sample_stable",
    oracle="""
SELECT lang, COUNT(*) AS n_sampled, CAST(SUM(n_chars) AS BIGINT) AS sum_chars
FROM documents
WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)
      < CASE WHEN lang = 'en' THEN '199a' ELSE '4ccd' END
GROUP BY lang
""",
)
def stratified_sample_stable(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    thresh = F.when(F.col("lang") == "en", "199a").otherwise("4ccd")
    return (
        d.filter(_coin(F.col("doc_id")) < thresh)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
        )
    )


# --------------------------------------------------------------------
# 94. deterministic train/test split — 80/20 by hash range. The split
# column is a pure function of doc_id, so shards can be written by
# independent executors with no coordination and the assignment
# survives re-runs and repartitions.
@query(
    "train_test_split_stable",
    oracle="""
SELECT lang, split, COUNT(*) AS n
FROM (
  SELECT lang,
         CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'cccd'
              THEN 'train' ELSE 'test' END AS split
  FROM documents) t
GROUP BY lang, split
""",
)
def train_test_split_stable(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    split = F.when(_coin(F.col("doc_id")) < "cccd", "train").otherwise("test")
    return (
        d.withColumn("split", split)
        .groupBy("lang", "split")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# --------------------------------------------------------------------
# 95. benchmark contamination check — corpus docs sharing any word
# 5-gram with a "benchmark" probe set (deterministically doc_id%97=0
# here; in production the probe is the eval suite). The probe side is
# tiny by construction, so its exploded gram table BROADCASTS and the
# corpus side streams one pass — the plan that still works when the
# corpus is 100 TB. Gram identity travels as an 8-byte xxhash64, not
# the gram text.
@query(
    "contamination_ngram_overlap",
    oracle="""
WITH grams AS (
  SELECT doc_id, list_distinct(list_transform(
           range(1, GREATEST(LEN(toks) - 3, 1)),
           i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' '
                || toks[i+3] || ' ' || toks[i+4])) AS gs
  FROM (SELECT doc_id, string_split_regex(TRIM(text), '\\s+') AS toks
        FROM documents) t
  WHERE LEN(toks) >= 5),
probe AS (SELECT doc_id AS probe_id, gs FROM grams WHERE doc_id % 97 = 0)
SELECT g.doc_id, COUNT(DISTINCT probe_id) AS n_probe_hits
FROM grams g JOIN probe p
  ON g.doc_id <> p.probe_id AND list_has_any(g.gs, p.gs)
GROUP BY g.doc_id
""",
)
def contamination_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from koalas_spark.functions.textfn import tokens, word_shingles

    d = _t(spark, sf_dir, "documents")
    toks = d.select("doc_id", tokens(F.col("text")).alias("_toks")).filter(
        F.size("_toks") >= 5
    )
    grams = toks.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.transform(word_shingles(F.col("_toks"), 5), lambda s: F.xxhash64(s))
            )
        ).alias("gh"),
    )
    probe = (
        grams.filter(F.col("doc_id") % 97 == 0)
        .withColumnsRenamed({"doc_id": "probe_id"})
        .distinct()
    )
    return (
        grams.join(F.broadcast(probe), "gh")
        .filter(F.col("doc_id") != F.col("probe_id"))
        .groupBy("doc_id")
        .agg(F.countDistinct("probe_id").alias("n_probe_hits"))
    )


# --------------------------------------------------------------------
# 96. token diversity — repetition-quality stat: distinct vs total
# tokens per language. Sums of exact integers (not a mean of per-doc
# doubles), so the cross-engine comparison is exact; the ratio is one
# deterministic double division at the end.
@query(
    "token_diversity",
    oracle="""
SELECT lang,
       CAST(SUM(LEN(list_distinct(toks))) AS BIGINT) AS distinct_tokens,
       CAST(SUM(LEN(toks)) AS BIGINT) AS total_tokens,
       CAST(CAST(SUM(LEN(list_distinct(toks))) AS DOUBLE)
            / SUM(LEN(toks)) AS DOUBLE) AS diversity
FROM (SELECT lang, string_split_regex(TRIM(text), '\\s+') AS toks
      FROM documents) t
GROUP BY lang
""",
)
def token_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from koalas_spark.functions.textfn import tokens

    d = _t(spark, sf_dir, "documents")
    t = d.select(
        "lang",
        F.size(F.array_distinct(tokens(F.col("text")))).alias("_d"),
        F.size(tokens(F.col("text"))).alias("_t"),
    )
    return t.groupBy("lang").agg(
        F.sum("_d").cast("bigint").alias("distinct_tokens"),
        F.sum("_t").cast("bigint").alias("total_tokens"),
        (F.sum("_d").cast("double") / F.sum("_t")).cast("double").alias("diversity"),
    )


# --------------------------------------------------------------------
# 98. per-source quota cap — keep at most 50 docs per source, chosen
# by hash order (a stable "random" subset, not first-by-ingest-order
# which biases toward old data). Window row_number over the source
# partition: one shuffle on source; at 100 TB a hot source is capped
# with AQE skew splitting since the window only needs the top-50,
# which rank-pushdown (WindowGroupLimit) prunes map-side.
@query(
    "quota_per_source",
    oracle="""
SELECT source, COUNT(*) AS n_kept, CAST(SUM(n_chars) AS BIGINT) AS sum_chars
FROM (
  SELECT source, n_chars,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
  FROM documents) t
WHERE rk <= 50
GROUP BY source
""",
)
def quota_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = _t(spark, sf_dir, "documents")
    rk = F.row_number().over(
        Window.partitionBy("source").orderBy(
            F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
        )
    )
    return (
        d.withColumn("rk", rk)
        .filter(F.col("rk") <= 50)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
        )
    )


# --------------------------------------------------------------------
# 99. per-label embedding centroids — the class-prototype op (feeds
# SemDeDup-style pruning and IVF coarse quantizers). Aggregated
# WITHOUT exploding: 64 codegen'd element_at sums per group, so the
# fact table shuffles 64 partial aggregates per label instead of
# 64x the row count. Components are scaled to exact integers
# (float->double is exact; *2^20 then truncate) so the cross-engine
# sums compare bit-for-bit; the centroid is one double division.
@query(
    "embedding_centroids",
    oracle="""
SELECT label, CAST(pos - 1 AS INT) AS pos,
       CAST(SUM(sv) AS BIGINT) AS sum_scaled,
       COUNT(*) AS n,
       CAST(CAST(SUM(sv) AS DOUBLE) / (COUNT(*) * 1048576.0) AS DOUBLE) AS centroid
FROM (
  SELECT label, generate_subscripts(embedding, 1) AS pos,
         CAST(trunc(CAST(unnest(embedding) AS DOUBLE) * 1048576) AS BIGINT) AS sv
  FROM embeddings) t
GROUP BY label, pos
""",
)
def embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings")
    dim = 64  # testdata embedding width (TESTDATA.md); assert cheaply
    sv = [
        F.sum(
            (F.element_at("embedding", i + 1).cast("double") * 1048576).cast("bigint")
        ).alias(f"_s{i}")
        for i in range(dim)
    ]
    sums = e.groupBy("label").agg(F.count(F.lit(1)).alias("n"), *sv)
    return sums.select(
        "label",
        "n",
        F.posexplode(F.array(*[F.col(f"_s{i}") for i in range(dim)])).alias(
            "pos", "sum_scaled"
        ),
    ).select(
        "label",
        F.col("pos").cast("int").alias("pos"),
        "sum_scaled",
        "n",
        (F.col("sum_scaled") / (F.col("n") * F.lit(1048576.0)))
        .cast("double")
        .alias("centroid"),
    )


# --------------------------------------------------------------------
# 107. corpus length histogram — 100-char buckets per language, the
# standard pre-training length-distribution audit. Pure integer floor
# per row (codegen), partial-agg shuffle of |langs| x |buckets| rows.
@query(
    "doc_length_histogram",
    oracle="""
SELECT lang, CAST(n_chars // 100 AS INT) AS bucket, COUNT(*) AS n,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars
FROM documents
GROUP BY lang, bucket
""",
)
def doc_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return (
        d.withColumn("bucket", F.floor(F.col("n_chars") / 100).cast("int"))
        .groupBy("lang", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
        )
    )


# --------------------------------------------------------------------
# 108. embedding norm audit — per-label L2-norm stats, the cheap
# detector for broken encoder batches (norm collapse / blow-up).
# Per-row squared norm folds over integer-scaled components
# (trunc(x * 2^20) — float->double exact, so the bigint dot product
# is bit-identical across engines); sqrt of identical bigints is an
# identical double, and the group mean goes through decimal summation.
# One codegen map pass + a |labels|-row shuffle — no explode.
@query(
    "embedding_norm_stats",
    oracle="""
SELECT label, COUNT(*) AS n,
       CAST(CAST(CAST(SUM(CAST(nrm AS DECIMAL(25,6))) AS VARCHAR) AS DOUBLE) / COUNT(*)
         AS DOUBLE) AS avg_norm,
       MIN(nrm) AS min_norm, MAX(nrm) AS max_norm
FROM (
  SELECT label,
         sqrt(CAST(list_sum(list_transform(embedding,
                x -> CAST(trunc(CAST(x AS DOUBLE) * 1048576) AS BIGINT)
                     * CAST(trunc(CAST(x AS DOUBLE) * 1048576) AS BIGINT)))
              AS DOUBLE)) / 1048576.0 AS nrm
  FROM embeddings) t
GROUP BY label
""",
)
def embedding_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings")
    sv = F.transform(
        "embedding",
        lambda x: (x.cast("double") * 1048576).cast("bigint"),
    )
    sq = F.aggregate(
        F.zip_with(sv, sv, lambda a, b: a * b),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    nrm = F.sqrt(sq.cast("double")) / 1048576.0
    return (
        e.select("label", nrm.alias("nrm"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (
                F.sum(F.col("nrm").cast("decimal(18,6)")).cast("double")
                / F.count(F.lit(1))
            )
            .cast("double")
            .alias("avg_norm"),
            F.min("nrm").alias("min_norm"),
            F.max("nrm").alias("max_norm"),
        )
    )


def _distributed_prior(t: DataFrame, blk_sz: int = 1024) -> DataFrame:
    """Exclusive global prefix sum of `tok` in doc_id order, as a
    DISTRIBUTED three-level rollup (shared by #118 and #212).

    A naive single window over ORDER BY doc_id serializes the whole
    corpus through one partition — the classic 100 TB trap. Here
    per-block token totals (block = doc_id div 1024) roll up to a
    superblock level; only the level-3 window over superblocks is
    unpartitioned, and it holds |corpus|/2^20 rows (~1e5 rows even at
    1e11 docs). Per-task row bound anywhere in this plan:
    max(1024, |corpus|/2^20). Computes the IDENTICAL order-dependent
    cumsum a plain global window would (that's the oracle).
    """
    from pyspark.sql import Window

    t = t.withColumn("blk", F.floor(F.col("doc_id") / blk_sz))
    blk_tot = t.groupBy("blk").agg(F.sum("tok").alias("bt"))
    blk_tot = blk_tot.withColumn("sblk", F.floor(F.col("blk") / blk_sz))
    sblk_tot = blk_tot.groupBy("sblk").agg(F.sum("bt").alias("st"))
    w_sblk = Window.orderBy("sblk").rowsBetween(Window.unboundedPreceding, -1)
    sblk_offs = sblk_tot.select(
        "sblk", F.coalesce(F.sum("st").over(w_sblk), F.lit(0)).alias("sblk_prior")
    )
    w_blk = (
        Window.partitionBy("sblk")
        .orderBy("blk")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offs = (
        blk_tot.withColumn(
            "blk_prior_within", F.coalesce(F.sum("bt").over(w_blk), F.lit(0))
        )
        .join(F.broadcast(sblk_offs), "sblk")
        .select(
            "blk", (F.col("blk_prior_within") + F.col("sblk_prior")).alias("blk_prior")
        )
    )
    w_doc = (
        Window.partitionBy("blk")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prior = F.coalesce(F.sum("tok").over(w_doc), F.lit(0)) + F.col("blk_prior")
    # no forced broadcast: offs is |corpus|/1024 rows (GBs at 1e11 docs).
    # AQE broadcasts it while it's small and falls back to a shuffled join
    # once it isn't — both plans are correct.
    return t.join(offs, "blk").withColumn("prior", prior).drop(
        "blk", "sblk", "blk_prior"
    )



# --------------------------------------------------------------------
# 118. token-budget shard packing — assign docs (in stable doc_id
# order) to training shards of ~4096 tokens via a DISTRIBUTED prefix
# sum: per-block token totals (block = doc_id div 1024) roll up to
# block offsets on a tiny frame, broadcast back, and the within-block
# running sum finishes the global cumsum. A naive single window over
# ORDER BY doc_id serializes the whole corpus through one partition —
# the classic 100 TB trap; this two-level formulation keeps every
# wide stage parallel while computing the IDENTICAL order-dependent
# packing (oracle: plain global window cumsum).
@query(
    "doc_pack_shards",
    oracle=r"""
WITH t AS (
  SELECT doc_id,
         LEN(string_split_regex(TRIM(text), '\s+')) AS tok
  FROM documents),
c AS (
  SELECT doc_id, tok,
         COALESCE(SUM(tok) OVER (ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS prior
  FROM t)
SELECT CAST(FLOOR(prior / 4096) AS BIGINT) AS shard,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(tok) AS BIGINT) AS sum_tokens,
       MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
FROM c GROUP BY shard
""",
)
def doc_pack_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    from koalas_spark.functions.textfn import token_count

    d = _t(spark, sf_dir, "documents")
    cap = 4096
    t = d.select("doc_id", token_count(F.col("text")).alias("tok"))
    packed = _distributed_prior(t).select(
        "doc_id", "tok", F.floor(F.col("prior") / cap).alias("shard")
    )
    return packed.groupBy("shard").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("tok").cast("bigint").alias("sum_tokens"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


# --------------------------------------------------------------------
# 119. Gopher-style repetition filter — flag docs whose single most
# frequent token exceeds 20% of the doc (boilerplate / keyword-stuffed
# pages). Two partial-aggregated groupBys, both keyed by doc_id so the
# second reuses the first's shuffle layout; the 20% rule is the
# integer compare max*5 > total (no float thresholds to drift).
@query(
    "gopher_repetition_filter",
    oracle=r"""
WITH tok AS (
  SELECT doc_id, lang,
         UNNEST(string_split_regex(TRIM(text), '\s+')) AS t
  FROM documents),
pc AS (
  SELECT doc_id, lang, t, COUNT(*) AS c FROM tok GROUP BY doc_id, lang, t),
agg AS (
  SELECT doc_id, lang, MAX(c) AS mx, SUM(c) AS tot
  FROM pc GROUP BY doc_id, lang)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN mx * 5 > tot THEN 1 ELSE 0 END) AS BIGINT)
         AS n_flagged,
       CAST(MAX(mx) AS BIGINT) AS worst_run
FROM agg GROUP BY lang
""",
)
def gopher_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from koalas_spark.functions.textfn import tokens

    d = _t(spark, sf_dir, "documents")
    tok = d.select("doc_id", "lang", F.explode(tokens(F.col("text"))).alias("t"))
    pc = tok.groupBy("doc_id", "lang", "t").agg(F.count(F.lit(1)).alias("c"))
    agg = pc.groupBy("doc_id", "lang").agg(
        F.max("c").alias("mx"), F.sum("c").alias("tot")
    )
    return agg.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.when(F.col("mx") * 5 > F.col("tot"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_flagged"),
        F.max("mx").cast("bigint").alias("worst_run"),
    )


# --------------------------------------------------------------------
# 120. unigram-LM quality score — CCNet-style frequency familiarity:
# per-doc mean corpus frequency of its tokens, computed exactly in
# integers (sum of corpus counts / token count). Docs whose tokens
# average < 2 corpus occurrences are "low quality" (rare-token soup).
# The vocabulary frame is broadcast — a 100 TB corpus still has a
# vocabulary orders of magnitude smaller than the text, and the join
# key (token) is the only shuffle the doc side would otherwise pay.
@query(
    "unigram_lm_quality",
    oracle=r"""
WITH tok AS (
  SELECT doc_id, lang,
         UNNEST(string_split_regex(TRIM(text), '\s+')) AS t
  FROM documents),
vocab AS (SELECT t, COUNT(*) AS cf FROM tok GROUP BY t),
docscore AS (
  SELECT tok.doc_id, tok.lang,
         SUM(vocab.cf) AS fam, COUNT(*) AS n
  FROM tok JOIN vocab USING (t)
  GROUP BY tok.doc_id, tok.lang)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(fam) AS BIGINT) AS sum_fam,
       CAST(SUM(n) AS BIGINT) AS sum_tok,
       CAST(CAST(SUM(fam) AS DOUBLE) / SUM(n) AS DOUBLE) AS micro_avg_freq,
       CAST(SUM(CASE WHEN fam < 2 * n THEN 1 ELSE 0 END) AS BIGINT)
         AS n_low_quality
FROM docscore GROUP BY lang
""",
)
def unigram_lm_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from koalas_spark.functions.textfn import tokens

    d = _t(spark, sf_dir, "documents")
    tok = d.select("doc_id", "lang", F.explode(tokens(F.col("text"))).alias("t"))
    vocab = tok.groupBy("t").agg(F.count(F.lit(1)).alias("cf"))
    docscore = (
        tok.join(F.broadcast(vocab), "t")
        .groupBy("doc_id", "lang")
        .agg(F.sum("cf").alias("fam"), F.count(F.lit(1)).alias("n"))
    )
    return docscore.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("fam").cast("bigint").alias("sum_fam"),
        F.sum("n").cast("bigint").alias("sum_tok"),
        (F.sum("fam").cast("double") / F.sum("n")).cast("double").alias(
            "micro_avg_freq"
        ),
        F.sum(F.when(F.col("fam") < 2 * F.col("n"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_low_quality"),
    )


# --------------------------------------------------------------------
# 127. shard export → manifest-driven load round-trip — the custom
# Python Data Source pair (sources/pyshardsink.py): documents are
# exported once per sf as executor-parallel JSONL shards with a
# committed _manifest.json, then read back through the manifest-driven
# reader (one partition per shard) and aggregated. The oracle runs the
# same aggregate on the original table, so the whole two-phase
# write + schema-on-read load path is value-checked, not just smoke-run.
@query(
    "shard_roundtrip_stats",
    oracle="""
SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars
FROM documents GROUP BY lang
""",
)
def shard_roundtrip_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from koalas_spark.sources.pyshardsink import ShardSinkSource

    try:
        spark.dataSource.register(ShardSinkSource)
    except Exception:
        pass  # already registered in this session
    path = staged(
        spark,
        "shards",
        (sf_dir, "documents"),
        lambda p: _t(spark, sf_dir, "documents")
        .select("doc_id", "lang", "n_chars")
        .repartition(8, "doc_id")
        .write.format("shardsink")
        .option("path", p)
        .mode("append")
        .save(),
        "_manifest.json",
    )
    loaded = (
        spark.read.schema("doc_id bigint, lang string, n_chars bigint")
        .format("shardsink")
        .option("path", path)
        .load()
    )
    return loaded.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("n_chars").cast("bigint").alias("sum_chars"),
    )


# --------------------------------------------------------------------
# 131. temperature-based language rebalancing (the mT5/XLM-R
# multilingual recipe): sampling rates proportional to c_l^(alpha-1)
# at alpha = 0.5, tail-normalized so the SMALLEST language keeps
# everything: rate_l = (c_min / c_l) ** (1 - alpha) = sqrt(c_min/c_l).
# Head languages (large c_l) get rate < 1 and are downsampled toward
# the tail. The formulation is PAIRWISE against the smallest language
# rather than a normalized sum of powers: IEEE sqrt and division are
# correctly rounded in every engine, while a cross-language Σ c_l^alpha
# would make the keep thresholds depend on double summation order —
# not reproducible between Spark and an oracle (or between two
# cluster layouts).
# The per-language rate becomes a 16-bit integer threshold compared
# against the doc's md5 coin, so the sample is a pure per-row
# predicate: deterministic, shuffle-free, partitioning-independent.
# The one shuffle is the tiny per-language count; it broadcasts back.
@query(
    "lang_temperature_resample",
    oracle="""
WITH c AS (SELECT lang, COUNT(*) AS cnt FROM documents GROUP BY lang),
m AS (SELECT MIN(cnt) AS cmin FROM c),
r AS (
  SELECT lang, cnt,
         CAST(FLOOR(65536 * SQRT(CAST(cmin AS DOUBLE) / cnt)) AS BIGINT)
           AS thresh
  FROM c CROSS JOIN m)
SELECT d.lang,
       CAST(MAX(r.cnt) AS BIGINT)       AS n_before,
       COUNT(*)                         AS n_kept,
       CAST(MAX(r.thresh) AS BIGINT)    AS thresh
FROM documents d JOIN r ON d.lang = r.lang
WHERE r.thresh >= 65536
   OR substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 4) < printf('%04x', r.thresh)
GROUP BY d.lang
""",
)
def lang_temperature_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    counts = d.groupBy("lang").agg(F.count(F.lit(1)).alias("cnt"))
    cmin = counts.agg(F.min("cnt").alias("cmin"))
    rates = (
        counts.crossJoin(F.broadcast(cmin))
        .withColumn(
            "thresh",
            F.floor(
                65536 * F.sqrt(F.col("cmin").cast("double") / F.col("cnt"))
            ).cast("bigint"),
        )
        .select("lang", "cnt", "thresh")
    )
    kept = d.join(F.broadcast(rates), "lang").filter(
        (F.col("thresh") >= 65536)
        | (_coin(F.col("doc_id")) < F.format_string("%04x", F.col("thresh").cast("int")))
    )
    return kept.groupBy("lang").agg(
        F.max("cnt").cast("bigint").alias("n_before"),
        F.count(F.lit(1)).alias("n_kept"),
        F.max("thresh").cast("bigint").alias("thresh"),
    )


# --------------------------------------------------------------------
# 137. distribution-relative quality gate: drop every document below
# its LANGUAGE's 10th percentile of n_chars — production quality
# filters are set against the corpus distribution, not absolute
# constants, because "short" means different things in different
# languages/domains. Plan shape: the per-language thresholds are a
# 5-row aggregate that broadcasts back onto the scan, so the gate is
# one pass + one tiny broadcast at any corpus size. Threshold values
# use exact interpolated percentiles (Spark percentile() ==
# DuckDB quantile_cont), on integer inputs — deterministic division,
# so both engines agree bit-for-bit.
@query(
    "length_percentile_filter",
    oracle="""
WITH th AS (
  SELECT lang, quantile_cont(n_chars, 0.10) AS p10
  FROM documents GROUP BY lang)
SELECT d.lang,
       CAST(COUNT(*) AS BIGINT)          AS n_kept,
       ROUND(MAX(th.p10), 4)             AS p10_threshold,
       CAST(MIN(d.n_chars) AS BIGINT)    AS min_kept_chars
FROM documents d JOIN th ON d.lang = th.lang
WHERE d.n_chars >= th.p10
GROUP BY d.lang
""",
)
def length_percentile_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    th = d.groupBy("lang").agg(F.percentile("n_chars", F.lit(0.10)).alias("p10"))
    return (
        d.join(F.broadcast(th), "lang")
        .filter(F.col("n_chars") >= F.col("p10"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_kept"),
            F.round(F.max("p10"), 4).alias("p10_threshold"),
            F.min("n_chars").cast("bigint").alias("min_kept_chars"),
        )
    )


# --------------------------------------------------------------------
# 150. deterministic epoch-mixture replication — the "dataset mixing"
# step of a pre-training run: each source gets a sampling WEIGHT in
# epochs (2.5 = see every doc 2.5 times, 0.5 = subsample half), the
# integer part becomes whole copies and the fractional part a hash
# coin for one extra copy (doc-stable, so re-runs and engines agree;
# weights below 1.0 degenerate to pure subsampling). Weights live in
# integer TENTHS — no float weight ever touches the predicate, so the
# coin threshold (frac * 65536 div 10) is exact. Plan shape: the
# weight is derived per-row from the source id (in production a
# broadcast weight table), the copy count is a pure expression, and
# explode(sequence(1, n_copies)) replicates rows map-side — zero
# shuffles before the final per-source audit aggregate, and the
# explode's fan-out equals the epoch weight, exactly the data-volume
# multiplier a mixing stage is supposed to cost at 100 TB.
@query(
    "doc_mixture_epochs",
    oracle="""
WITH w AS (
  SELECT doc_id, source,
         LEN(string_split_regex(TRIM(text), '\\s+')) AS n_tok,
         (CAST(SUBSTR(source, 4) AS INT) % 5) * 5 + 5 AS w10
  FROM documents),
c AS (
  SELECT source, doc_id, n_tok, w10,
         w10 // 10
         + CASE WHEN substr(md5(CAST(doc_id AS VARCHAR) || ':epoch'), 1, 4)
                     < printf('%04x', (w10 % 10) * 65536 // 10)
                THEN 1 ELSE 0 END AS n_copies
  FROM w)
SELECT source,
       CAST(MAX(w10) AS BIGINT)                    AS weight_tenths,
       COUNT(*)                                    AS n_docs,
       CAST(SUM(n_copies) AS BIGINT)               AS n_copies,
       CAST(SUM(n_copies * n_tok) AS BIGINT)       AS tokens_out
FROM c GROUP BY source
""",
)
def doc_mixture_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from koalas_spark.functions.textfn import token_count

    d = _t(spark, sf_dir, "documents")
    w10 = (F.substring("source", 4, 10).cast("int") % 5) * 5 + 5
    coin = F.substring(
        F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":epoch"))), 1, 4
    )
    thresh = F.format_string(
        "%04x", ((F.col("w10") % 10) * 65536 / F.lit(10)).cast("int")
    )
    base = d.select(
        "doc_id",
        "source",
        token_count(F.col("text")).alias("n_tok"),
        w10.alias("w10"),
    ).withColumn(
        "n_copies",
        F.expr("w10 div 10")
        + F.when(coin < thresh, F.lit(1)).otherwise(F.lit(0)),
    )
    # the actual replication operator: one exploded row per epoch copy
    copies = base.filter(F.col("n_copies") > 0).select(
        "source",
        "doc_id",
        "n_tok",
        "w10",
        F.explode(F.sequence(F.lit(1), F.col("n_copies"))).alias("epoch"),
    )
    audit = copies.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_copies"),
        F.sum("n_tok").cast("bigint").alias("tokens_out"),
    )
    # n_docs counts source docs (pre-replication), so it comes from the
    # base frame; the join is a 20-row broadcast
    per_src = base.groupBy("source").agg(
        F.max("w10").cast("bigint").alias("weight_tenths"),
        F.count(F.lit(1)).alias("n_docs"),
    )
    return per_src.join(F.broadcast(audit), "source", "left").select(
        "source",
        "weight_tenths",
        "n_docs",
        F.coalesce("n_copies", F.lit(0)).cast("bigint").alias("n_copies"),
        F.coalesce("tokens_out", F.lit(0)).cast("bigint").alias("tokens_out"),
    )


# --------------------------------------------------------------------
# 157. linear quality classifier — the fastText-style "model filter"
# stage of a curation pipeline, expressed as pure codegen: integer-
# scaled features (stopword rate, punctuation rate, capped length),
# integer weights, integer score — model inference IS a projection, no
# Python, no shuffle until the per-source audit aggregate. In
# production the weight vector arrives as a literal/broadcast from the
# trained model; scoring cost is O(row) at any corpus size, and the
# identical integer math makes every score oracle-exact.
@query(
    "quality_linear_classifier",
    oracle="""
WITH f AS (
  SELECT doc_id, source,
         LEN(string_split_regex(TRIM(text), '\\s+')) AS n_tok,
         LEN(text) AS n_chars,
         LEN(list_filter(string_split_regex(TRIM(text), '\\s+'),
             t -> t IN ('the','a','of','and','to','in','is'))) AS n_stop,
         LEN(text) - LEN(regexp_replace(text, '[!-/:-@\\[-`{-~]', '', 'g'))
           AS n_punct
  FROM documents),
s AS (
  SELECT doc_id, source,
         2 * ((n_stop * 1000) // GREATEST(n_tok, 1))
         - 3 * ((n_punct * 1000) // GREATEST(n_chars, 1))
         + 5 * LEAST(n_tok, 200) - 400 AS score
  FROM f)
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN score > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(SUM(score) AS BIGINT) AS sum_score
FROM s GROUP BY source
""",
)
def quality_linear_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from koalas_spark.functions.textfn import (
        punct_count,
        stopword_count,
        token_count,
    )

    d = _t(spark, sf_dir, "documents")
    f = d.select(
        "doc_id",
        "source",
        token_count(F.col("text")).alias("n_tok"),
        F.length("text").cast("long").alias("n_chars"),
        stopword_count(F.col("text")).alias("n_stop"),
        punct_count(F.col("text")).alias("n_punct"),
    )
    score = (
        F.expr("2 * ((n_stop * 1000) div greatest(n_tok, 1))")
        - F.expr("3 * ((n_punct * 1000) div greatest(n_chars, 1))")
        + F.expr("5 * least(n_tok, 200)")
        - F.lit(400)
    )
    return (
        f.withColumn("score", score)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum((F.col("score") > 0).cast("long")).cast("bigint").alias("n_kept"),
            F.sum("score").cast("bigint").alias("sum_score"),
        )
    )


# --------------------------------------------------------------------
# 159. T5-style span-corruption mask generation — the pretraining
# objective's data side: deterministic mask spans per document
# (span length 3, start-coin rate 5% ~= 15% corruption target),
# derived entirely from md5 coins on (doc_id, position) so every
# re-run, engine, and partitioning produces the same masks. All
# higher-order array functions — filter(sequence) for starts,
# flatten/transform/array_distinct for coverage — pure codegen, zero
# Python, zero shuffle before the per-source audit. Overlapping spans
# merge via the distinct-position union (documented simplification vs
# T5's sequential sentinel packing, which is inherently stateful).
@query(
    "span_corruption_masks",
    oracle="""
WITH d AS (
  SELECT doc_id, source,
         LEN(string_split_regex(TRIM(text), '\\s+')) AS n_tok
  FROM documents),
m AS (
  SELECT doc_id, source, n_tok,
         LEN(list_distinct(flatten(list_transform(
             list_filter(range(0, GREATEST(n_tok - 2, 0)),
                 p -> substr(md5(CAST(doc_id AS VARCHAR) || ':' || CAST(p AS VARCHAR)), 1, 4)
                      < '0ccd'),
             p -> [p, p + 1, p + 2])))) AS n_masked
  FROM d)
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS sum_tokens,
       CAST(SUM(n_masked) AS BIGINT) AS sum_masked,
       CAST((SUM(n_masked) * 10000) // SUM(n_tok) AS BIGINT) AS masked_bp
FROM m GROUP BY source
""",
)
def span_corruption_masks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from koalas_spark.functions.textfn import token_count

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", "source", token_count(F.col("text")).alias("n_tok")
    )
    # coin('doc:pos') < 0x0ccd/0x10000 ~= 5% start rate
    starts = F.filter(
        F.when(
            F.col("n_tok") >= 3, F.sequence(F.lit(0), F.col("n_tok") - 3)
        ).otherwise(F.array().cast("array<bigint>")),
        lambda p: F.substring(
            F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":"), p.cast("string"))),
            1,
            4,
        )
        < "0ccd",
    )
    masked = F.array_distinct(
        F.flatten(F.transform(starts, lambda p: F.array(p, p + 1, p + 2)))
    )
    m = d.withColumn("n_masked", F.size(masked).cast("long"))
    return m.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("sum_tokens"),
        F.sum("n_masked").cast("bigint").alias("sum_masked"),
        F.expr("(sum(n_masked) * 10000) div sum(n_tok)").alias("masked_bp"),
    )


# --------------------------------------------------------------------
# 162. small-file compaction — the lakehouse maintenance op every
# 100 TB table needs: a fragmented write (64 tiny parquet files —
# round-robin repartition guarantees all non-empty) is compacted by
# rewriting through repartition(4), and the audit proves BOTH halves
# of the contract: the file count collapses to the target AND the
# data survives bit-for-bit (row count + exact decimal sum of a value
# column, which is what the oracle checks against the source table).
# Both layouts are staged once per session (koalas_spark.memo). At
# cluster scale the same rewrite is
# repartitionByRange on the layout key + a maxRecordsPerFile cap.
@query(
    "compact_small_files",
    oracle="""
SELECT 'small' AS stage, CAST(64 AS BIGINT) AS n_files,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(n_chars AS DECIMAL(25,0))) AS BIGINT) AS sum_chars
FROM documents
UNION ALL
SELECT 'compacted', CAST(4 AS BIGINT), CAST(COUNT(*) AS BIGINT),
       CAST(SUM(CAST(n_chars AS DECIMAL(25,0))) AS BIGINT)
FROM documents
""",
)
def compact_small_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    import glob
    import os

    d = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")

    def write(base: str) -> None:
        d.repartition(64).write.parquet(f"{base}/small")
        spark.read.parquet(f"{base}/small").repartition(4).write.parquet(f"{base}/big")

    base = staged(spark, "compact", (sf_dir, "documents"), write, "big/_SUCCESS")
    small, big = f"{base}/small", f"{base}/big"

    def stats(path: str, label: str):
        n_files = len(glob.glob(os.path.join(path, "part-*.parquet")))
        return (
            spark.read.parquet(path)
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                F.sum(F.col("n_chars").cast("decimal(25,0)"))
                .cast("bigint")
                .alias("sum_chars"),
            )
            .select(
                F.lit(label).alias("stage"),
                F.lit(n_files).cast("bigint").alias("n_files"),
                "n_rows",
                "sum_chars",
            )
        )

    return stats(small, "small").unionByName(stats(big, "compacted"))


# --------------------------------------------------------------------
# 212. systematic PPS (probability-proportional-to-size) corpus
# sampling — the "give me a ~1/1000-of-the-token-budget sample where a
# doc's inclusion chance is proportional to its token count" stage of
# a training-data pipeline (long docs matter more per draw; uniform
# doc sampling under-represents them). Classic systematic PPS: lay
# every doc's tokens end-to-end in stable doc_id order and take one
# hit at every multiple of S=1000 tokens; a doc is drawn with
# multiplicity = number of grid points its token interval covers
# (docs longer than S are drawn with certainty, exactly the
# with-replacement PPS semantics). Fully integer — no rand(), no
# floats — so the sample is reproducible across engines, re-runs, and
# partitionings. The global token offset reuses #118's distributed
# three-level prefix sum (one tiny unpartitioned window over
# |corpus|/2^20 superblock rows); everything else is a per-row
# predicate. Oracle: the plain global-window cumsum formulation.
@query(
    "pps_token_sample",
    oracle=r"""
WITH t AS (
  SELECT doc_id,
         CAST(LEN(string_split_regex(TRIM(text), '\s+')) AS BIGINT) AS tok
  FROM documents),
c AS (
  SELECT doc_id, tok,
         CAST(COALESCE(SUM(tok) OVER (ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS BIGINT) AS tok_offset
  FROM t)
SELECT doc_id, tok, tok_offset,
       CAST((tok_offset + tok) // 1000 - tok_offset // 1000 AS BIGINT)
           AS n_hits
FROM c
WHERE (tok_offset + tok) // 1000 - tok_offset // 1000 > 0
""",
)
def pps_token_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from koalas_spark.functions.textfn import token_count

    S = 1000
    d = _t(spark, sf_dir, "documents")
    t = d.select("doc_id", token_count(F.col("text")).alias("tok"))
    p = _distributed_prior(t)
    n_hits = (
        F.floor((F.col("prior") + F.col("tok")) / S) - F.floor(F.col("prior") / S)
    ).cast("long")
    return (
        p.withColumn("n_hits", n_hits)
        .filter(F.col("n_hits") > 0)
        .select(
            "doc_id",
            "tok",
            F.col("prior").cast("long").alias("tok_offset"),
            "n_hits",
        )
    )


# --------------------------------------------------------------------
# 466. mixture-weight SOLVER — closes the curation loop (VERDICT r11
# item 8): #150 replicates docs by per-source epoch weights, but
# where do the weights come from? This op COMPUTES them from signals
# the repo already emits, re-derived here in ONE corpus pass:
#   quality  — pass-rate of the #129 funnel's token>=20 gate (ppm)
#   uniqueness — 1e6 minus #415's exact-dup rate (ppm; dup groups
#     counted per (source, md5) via COUNT(DISTINCT h), exactly #415)
#   diversity — #441's inverse-Simpson effective-language count
#     (Hill q=2, milli; DECIMAL(38) squares + FLOOR-double division,
#     the same expression shape as #441 so the two agree bit-for-bit)
# Objective (exact integers end-to-end): score = (quality *
# uniqueness div 1e6) * diversity, floored at 1 so no source is
# silenced; a fixed budget of B = 10 * n_sources TENTHS (mean 1.0
# epoch) is apportioned proportionally by the largest-remainder
# (Hamilton) method — base = B*score div total, the B - sum(base)
# leftover tenths go to the largest remainders (ties to the smaller
# source id) — so SUM(w10) == B exactly, auditable, and w10 feeds
# #150's integer-tenths contract directly.
# Plan: one (source, lang, md5) map-side-combined groupBy over the
# corpus, two bounded rollups (sourcexlang, source) joined on source,
# then partition-less windows over the <=|sources| frame (bounded
# domain — the #441/#129 rollup collapse runs first). Overflow:
# score <= 1e6 * (n_langs*1000) ~ 5e9; B*score <= 200 * 5e9 = 1e12.
@query(
    "mixture_weight_solver",
    oracle="""
WITH g AS (
  SELECT source, lang, md5(text) AS h,
         CAST(COUNT(*) AS BIGINT) AS c,
         MIN(LEN(string_split_regex(TRIM(text), '\\s+'))) AS tok
  FROM documents GROUP BY 1, 2, 3),
sl AS (
  SELECT source, lang, CAST(SUM(c) AS BIGINT) AS nl
  FROM g GROUP BY 1, 2),
div2 AS (
  SELECT source,
         CAST(SUM(nl) AS BIGINT) AS n_docs,
         CAST(SUM(CAST(nl AS DECIMAL(38,0)) * nl) AS DECIMAL(38,0))
           AS sum2
  FROM sl GROUP BY source),
base AS (
  SELECT source,
         CAST(SUM(c) AS BIGINT) AS n_docs,
         CAST(SUM(CASE WHEN tok >= 20 THEN c ELSE 0 END) AS BIGINT)
           AS n_pass,
         CAST(COUNT(DISTINCT h) AS BIGINT) AS n_hash
  FROM g GROUP BY source),
sig AS (
  SELECT b.source, b.n_docs,
         CAST(b.n_pass * 1000000 // b.n_docs AS BIGINT) AS qual_ppm,
         CAST(1000000 - ((b.n_docs - b.n_hash) * 1000000 // b.n_docs)
           AS BIGINT) AS uniq_ppm,
         CAST(FLOOR(CAST(d.n_docs AS DOUBLE) * d.n_docs * 1000
               / CAST(CAST(d.sum2 AS VARCHAR) AS DOUBLE)) AS BIGINT)
           AS eff_langs_milli
  FROM base b JOIN div2 d ON d.source = b.source),
sc AS (
  SELECT *, GREATEST((qual_ppm * uniq_ppm // 1000000)
                     * eff_langs_milli, 1) AS score
  FROM sig),
ap AS (
  SELECT *,
         10 * COUNT(*) OVER () AS b_tenths,
         SUM(score) OVER () AS total
  FROM sc),
ap2 AS (
  SELECT *,
         CAST(b_tenths * score // total AS BIGINT) AS base_w,
         CAST(b_tenths * score % total AS BIGINT) AS rem
  FROM ap),
ap3 AS (
  SELECT *,
         CAST(b_tenths - SUM(base_w) OVER () AS BIGINT) AS extra,
         ROW_NUMBER() OVER (ORDER BY rem DESC, source ASC) AS rk
  FROM ap2)
SELECT source, n_docs, qual_ppm, uniq_ppm, eff_langs_milli,
       CAST(score AS BIGINT) AS score,
       CAST(base_w + CASE WHEN rk <= extra THEN 1 ELSE 0 END
         AS BIGINT) AS w10
FROM ap3 ORDER BY source
""",
)
def mixture_weight_solver(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from koalas_spark.functions.textfn import token_count

    d = _t(spark, sf_dir, "documents")
    g = d.groupBy("source", "lang", F.md5("text").alias("h")).agg(
        F.count(F.lit(1)).cast("bigint").alias("c"),
        F.min(token_count(F.col("text"))).alias("tok"),
    )
    sl = g.groupBy("source", "lang").agg(
        F.sum("c").cast("bigint").alias("nl")
    )
    div2 = sl.groupBy("source").agg(
        F.sum("nl").cast("bigint").alias("d_docs"),
        F.sum(F.col("nl").cast("decimal(38,0)") * F.col("nl"))
        .cast("decimal(38,0)")
        .alias("sum2"),
    )
    base = g.groupBy("source").agg(
        F.sum("c").cast("bigint").alias("n_docs"),
        F.sum(F.when(F.col("tok") >= 20, F.col("c")).otherwise(F.lit(0)))
        .cast("bigint")
        .alias("n_pass"),
        F.countDistinct("h").cast("bigint").alias("n_hash"),
    )
    sig = base.join(div2, "source").select(
        "source",
        "n_docs",
        F.expr("CAST(n_pass * 1000000 div n_docs AS BIGINT)").alias(
            "qual_ppm"
        ),
        F.expr(
            "CAST(1000000 - ((n_docs - n_hash) * 1000000 div n_docs)"
            " AS BIGINT)"
        ).alias("uniq_ppm"),
        F.floor(
            F.col("d_docs").cast("double") * F.col("d_docs") * 1000
            / F.col("sum2").cast("string").cast("double")
        )
        .cast("bigint")
        .alias("eff_langs_milli"),
    )
    sc = sig.withColumn(
        "score",
        F.greatest(
            F.expr(
                "(qual_ppm * uniq_ppm div 1000000) * eff_langs_milli"
            ),
            F.lit(1).cast("bigint"),
        ),
    )
    # bounded-domain windows: the frame is one row per source (~20),
    # collapsed by the aggregates above — the #441 rollup argument
    wall = Window.partitionBy()
    ap = sc.withColumn(
        "b_tenths", F.lit(10) * F.count(F.lit(1)).over(wall)
    ).withColumn("total", F.sum("score").over(wall))
    ap2 = ap.withColumn(
        "base_w",
        F.expr("CAST(b_tenths * score div total AS BIGINT)"),
    ).withColumn(
        "rem", F.expr("CAST(b_tenths * score % total AS BIGINT)")
    )
    ap3 = ap2.withColumn(
        "extra",
        (F.col("b_tenths") - F.sum("base_w").over(wall)).cast("bigint"),
    ).withColumn(
        "rk",
        F.row_number().over(
            Window.orderBy(F.col("rem").desc(), F.col("source").asc())
        ),
    )
    return ap3.select(
        "source",
        "n_docs",
        "qual_ppm",
        "uniq_ppm",
        "eff_langs_milli",
        F.col("score").cast("bigint").alias("score"),
        (
            F.col("base_w")
            + F.when(F.col("rk") <= F.col("extra"), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("w10"),
    ).orderBy("source")


# --------------------------------------------------------------------
# 478. DSIR importance resampling (Xie et al. 2023, "Data Selection
# for Language Models via Importance Resampling") — the standard
# target-domain data-selection step of an LLM pretraining pipeline:
# fit two hashed-bigram bag-of-ngrams models (target = the 'en'
# slice, raw = the whole corpus), score every doc with the summed
# log-likelihood ratio, and draw a 100-doc sample WITHOUT replacement
# by Gumbel-top-k over the log weights (exactly the paper's sampler;
# Gumbel keys avoid exp() so the weights never leave log space).
# Determinism: 256 md5-prefix feature buckets, add-one smoothing over
# the fixed 256-bucket domain, #221 nano-ln quantization of both
# model log-probs (so doc scores are BIGINT sums of identical
# integers in both engines), and the repo-wide md5-coin rule for the
# per-doc Gumbel draw — floor-quantized, added to the integer weight.
# Scale shape: the corpus contributes ONE (doc, bucket) map-side-
# combined aggregate (post-shuffle rows <= |docs| x 256) from which
# BOTH 256-row models and the per-doc scores derive; the model join
# is a 256-row broadcast; selection is TakeOrdered O(k) — no global
# sort, no second corpus pass. At 100 TB nothing here exceeds one
# shuffle of bounded (doc, bucket) partials.
@query(
    "dsir_importance_resample",
    oracle="""
WITH tk AS (
  SELECT doc_id, lang, string_split_regex(TRIM(text), '\\s+') AS t
  FROM documents),
bg AS (
  SELECT doc_id, lang,
         substr(md5(t[i] || ' ' || t[i + 1]), 1, 2) AS bucket
  FROM tk, unnest(range(1, GREATEST(LEN(t), 1))) AS u(i)),
dbc AS (
  SELECT doc_id, bucket, CAST(COUNT(*) AS BIGINT) AS c
  FROM bg GROUP BY 1, 2),
rawc AS (
  SELECT bucket, CAST(COUNT(*) AS BIGINT) AS cr FROM bg GROUP BY 1),
tgtc AS (
  SELECT bucket, CAST(COUNT(*) AS BIGINT) AS ct
  FROM bg WHERE lang = 'en' GROUP BY 1),
tot AS (
  SELECT CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
           AS tt,
         CAST(COUNT(*) AS BIGINT) AS tr
  FROM bg),
model AS (
  SELECT r.bucket,
         CAST(FLOOR(LN((COALESCE(t.ct, 0) + 1.0) / (tot.tt + 256))
                    * 1000000000) AS BIGINT)
         - CAST(FLOOR(LN((r.cr + 1.0) / (tot.tr + 256))
                      * 1000000000) AS BIGINT) AS delta_nano
  FROM rawc r LEFT JOIN tgtc t ON t.bucket = r.bucket CROSS JOIN tot),
w AS (
  SELECT dbc.doc_id,
         CAST(SUM(dbc.c * m.delta_nano) AS BIGINT) AS logw_nano
  FROM dbc JOIN model m ON m.bucket = dbc.bucket GROUP BY 1),
k AS (
  SELECT d.doc_id, d.lang,
         CAST(COALESCE(w.logw_nano, 0) AS BIGINT) AS logw_nano,
         CAST(('0x' || substr(md5('dsir:' || CAST(d.doc_id AS VARCHAR)),
                              1, 8)) AS BIGINT) AS u
  FROM documents d LEFT JOIN w ON w.doc_id = d.doc_id)
SELECT doc_id, lang, logw_nano,
       CAST(logw_nano
            - CAST(FLOOR(LN(-LN((2 * u + 1) / 8589934592.0))
                         * 1000000000) AS BIGINT) AS BIGINT) AS key_q
FROM k ORDER BY key_q DESC, doc_id LIMIT 100
""",
)
def dsir_importance_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from koalas_spark.functions.textfn import tokens

    d = _t(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    tk = d.select("doc_id", "lang", tokens(F.col("text")).alias("t"))
    bg = tk.select(
        "doc_id",
        "lang",
        F.explode(
            F.when(
                F.size("t") >= 2,
                F.transform(
                    F.sequence(F.lit(1), F.size("t") - 1),
                    lambda i: F.substring(
                        F.md5(
                            F.concat(
                                F.element_at("t", i),
                                F.lit(" "),
                                F.element_at("t", i + 1),
                            )
                        ),
                        1,
                        2,
                    ),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("bucket"),
    )
    # ONE corpus-explode pass (r13): the bucket domain is 256 values
    # (two hex chars), so the raw/target bucket counts AND the global
    # totals all derive from the per-(doc, lang, bucket) rollup — the
    # previous shape re-ran the tokenize + bigram-md5 explode FOUR
    # times (dbc, rawc, tgtc, tot). Counts are identical integers;
    # per-bucket en-count coalesces to 0 exactly like the old left
    # join's NULL -> coalesce(ct, 0).
    # lazy checkpoint: the rollup feeds the per-doc weight join AND the
    # bucket model (plus its totals aggregate) — materialize the single
    # explode pass as local blocks instead of re-running it per subtree
    dlb = (
        bg.groupBy("doc_id", "lang", "bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .localCheckpoint(eager=False)
    )
    dbc = dlb.select("doc_id", "bucket", "c")
    bcounts = dlb.groupBy("bucket").agg(
        F.sum("c").cast("bigint").alias("cr"),
        F.sum(F.when(F.col("lang") == "en", F.col("c")).otherwise(0))
        .cast("bigint")
        .alias("ct"),
    )
    tot = bcounts.agg(
        F.sum("ct").cast("bigint").alias("tt"),
        F.sum("cr").cast("bigint").alias("tr"),
    )
    nano = F.lit(1000000000)
    model = (
        bcounts.crossJoin(F.broadcast(tot))
        .select(
            "bucket",
            (
                F.floor(
                    F.log(
                        (F.coalesce(F.col("ct"), F.lit(0)) + F.lit(1.0))
                        / (F.col("tt") + 256)
                    )
                    * nano
                ).cast("bigint")
                - F.floor(
                    F.log(
                        (F.col("cr") + F.lit(1.0)) / (F.col("tr") + 256)
                    )
                    * nano
                ).cast("bigint")
            ).alias("delta_nano"),
        )
    )
    w = (
        dbc.join(F.broadcast(model), "bucket")
        .groupBy("doc_id")
        .agg(
            F.sum(F.col("c") * F.col("delta_nano"))
            .cast("bigint")
            .alias("logw_nano")
        )
    )
    k = (
        d.select("doc_id", "lang")
        .join(w, "doc_id", "left")
        .select(
            "doc_id",
            "lang",
            F.coalesce("logw_nano", F.lit(0))
            .cast("bigint")
            .alias("logw_nano"),
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.lit("dsir:"), F.col("doc_id").cast("string")
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            )
            .cast("bigint")
            .alias("u"),
        )
    )
    return (
        k.select(
            "doc_id",
            "lang",
            "logw_nano",
            (
                F.col("logw_nano")
                - F.floor(
                    F.log(
                        -F.log(
                            (2 * F.col("u") + 1) / F.lit(8589934592.0)
                        )
                    )
                    * nano
                ).cast("bigint")
            )
            .cast("bigint")
            .alias("key_q"),
        )
        .orderBy(F.col("key_q").desc(), F.col("doc_id"))
        .limit(100)
    )
