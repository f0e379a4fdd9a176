"""Corpus-index operators (SURVEY.md §2.5/§2.3 extension): TF-IDF
scoring, inverted-index construction, and connected-components dup
clustering — the retrieval/dedup layer of a training-data pipeline.

Cross-engine determinism: idf uses an integer-scaled rational
(N*1e6 div df) instead of ln() — libm log is not required to be
correctly rounded, so JVM vs DuckDB could differ in the last ulp;
integer division cannot. Posting lists compare as sorted arrays.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from koalas_spark.queries import query
from koalas_spark.queries.analytics import _t
from koalas_spark.functions.textfn import tokens, word_shingles


# --------------------------------------------------------------------
# 109. TF-IDF top terms per language. ONE pass over the exploded
# tokens: pre-aggregate to (term, lang, doc_id) counts (map-side
# combine collapses repeated terms per doc before the shuffle), then
# both tf (sum over docs) and df (distinct docs) derive from the
# materialized pre-agg — deriving them from the raw token frame would
# tokenize+explode the corpus twice. N broadcasts as a 1-row frame.
# The final per-lang top-3 is a WindowGroupLimit rank (each partition
# ships 3 rows, not its vocabulary). Score = tf * (N*1e6 div df):
# exact integers end-to-end.
@query(
    "tfidf_top_terms",
    oracle="""
WITH tok AS (
  SELECT doc_id, lang, unnest(string_split_regex(TRIM(text), '\\s+')) AS term
  FROM documents),
tf AS (SELECT lang, term, COUNT(*) AS tf FROM tok GROUP BY lang, term),
df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY term),
n AS (SELECT COUNT(*) AS n FROM documents),
scored AS (
  SELECT tf.lang, tf.term, tf.tf, df.df,
         tf.tf * ((n.n * 1000000) // df.df) AS score
  FROM tf JOIN df ON tf.term = df.term CROSS JOIN n)
SELECT lang, term, tf, df, score FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY lang
                               ORDER BY score DESC, term) AS rk
  FROM scored) t
WHERE rk <= 3
""",
    # scalar-subquery sides (1-row count/avg frames) joined without a
    # key — a broadcast nested loop over a single row is the plan
    allow={"BroadcastNestedLoopJoin"},
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", "lang", F.explode(tokens(F.col("text"))).alias("term")
    )
    g1 = (
        tok.groupBy("term", "lang", "doc_id")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=False)
    )
    tf = g1.groupBy("lang", "term").agg(F.sum("c").alias("tf"))
    df_ = g1.groupBy("term").agg(F.count_distinct("doc_id").alias("df"))
    n = d.agg(F.count(F.lit(1)).alias("n"))
    scored = (
        tf.join(df_, "term")
        .crossJoin(n)
        .withColumn("score", F.col("tf") * F.expr("(n * 1000000) div df"))
    )
    w = Window.partitionBy("lang").orderBy(F.col("score").desc(), F.col("term"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("lang", "term", "tf", "df", "score")
    )


# --------------------------------------------------------------------
# 110. inverted index — sharded postings: (token, shard) ->
# (shard_df, shard_tf, sorted shard-local posting list), where
# shard = doc_id DIV 128. One explode + ONE groupBy(token, shard):
# map-side combine dedups per partition before the shuffle, and every
# aggregation buffer is bounded by the shard width (<= 128 distinct
# ids per array) — a stopword's postings land in n_docs/128 separate
# rows across separate reducers instead of one multi-GB collect_set
# buffer (Spark's 2 GB array limit dies long before 100 TB on the
# unsharded plan). Shards partition the doc-id space disjointly, so
# global df/total_tf per token are exact SUMs of the (array-free)
# shard stats — a separate tiny rollup when scoring needs them (see
# tfidf_top_terms); deliberately NOT joined back onto shard rows,
# which would re-co-locate all of a hot token's arrays in one task.
@query(
    "inverted_index",
    oracle="""
SELECT token, doc_id // 128 AS shard,
       COUNT(DISTINCT doc_id) AS shard_df, COUNT(*) AS shard_tf,
       list_sort(list(DISTINCT doc_id)) AS postings
FROM (SELECT doc_id, unnest(string_split_regex(TRIM(text), '\\s+')) AS token
      FROM documents) t
GROUP BY token, doc_id // 128
""",
    bench=False,
)
def inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(tokens(F.col("text"))).alias("token"))
    return tok.withColumn("shard", F.expr("doc_id div 128")).groupBy(
        "token", "shard"
    ).agg(
        F.count_distinct("doc_id").alias("shard_df"),
        F.count(F.lit(1)).alias("shard_tf"),
        F.sort_array(F.collect_set("doc_id")).alias("postings"),
    )


# --------------------------------------------------------------------
# 111. near-dup clustering — lang-blocked 3-gram Jaccard >= 0.25
# pairs, then distributed connected components (operators/graph.py),
# then one row per dup cluster with the canonical (min) doc id. This
# is the full dedup decision: pair detection alone over-deletes when
# A~B and B~C but A!~C — clustering keeps ONE doc per transitive
# group. Oracle: recursive-CTE min-label propagation (the min label
# always reaches every member because no intermediate node is smaller
# than the component minimum).
_CLUSTER_ORACLE = """
WITH sh AS (
  SELECT doc_id, lang,
         list_distinct(list_transform(
             range(1, GREATEST(LEN(toks) - 1, 1)),
             i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingles
  FROM (SELECT doc_id, lang, string_split_regex(TRIM(text), '\\s+') AS toks
        FROM documents) t
  WHERE LEN(toks) >= 3),
pairs AS (
  SELECT a.doc_id AS src, b.doc_id AS dst
  FROM sh a JOIN sh b ON a.lang = b.lang AND a.doc_id < b.doc_id
  WHERE CAST(LEN(list_filter(a.shingles, x -> list_contains(b.shingles, x)))
             AS DOUBLE)
        / (LEN(a.shingles) + LEN(b.shingles)
           - LEN(list_filter(a.shingles, x -> list_contains(b.shingles, x))))
        >= 0.25),
edges AS (SELECT src, dst FROM pairs UNION SELECT dst, src FROM pairs),
nodes AS (SELECT DISTINCT src AS node FROM edges),
lp AS (
  WITH RECURSIVE walk(node, lbl) AS (
    SELECT node, node FROM nodes
    UNION
    SELECT e.src, walk.lbl FROM edges e JOIN walk ON walk.node = e.dst
    WHERE walk.lbl < e.src)
  SELECT node, MIN(lbl) AS comp FROM walk GROUP BY node)
SELECT comp AS canonical_id, COUNT(*) AS n_docs,
       list_sort(list(node)) AS members
FROM lp GROUP BY comp HAVING COUNT(*) >= 2
"""


@query("dedup_cluster_canonical", oracle=_CLUSTER_ORACLE)
def dedup_cluster_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    from koalas_spark.operators.dedup import exact_jaccard_pairs
    from koalas_spark.operators.graph import connected_components

    d = _t(spark, sf_dir, "documents")
    # exact_jaccard_pairs is the inverted-index pair generator: cost
    # scales with Σ_shingle df² (326k pair-slots, max df 14 at sf0.1)
    # instead of the largest language block squared (2.6M pairs), and
    # the shingle equi-join is a uniform shuffle at any scale
    pairs = exact_jaccard_pairs(
        d, "doc_id", "text", block_col="lang", shingle_n=3, threshold=0.25
    )
    comps = connected_components(pairs)
    return (
        comps.groupBy("comp")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sort_array(F.collect_list("node")).alias("members"),
        )
        .filter(F.col("n_docs") >= 2)
        .select(
            F.col("comp").alias("canonical_id"),
            "n_docs",
            "members",
        )
    )


# --------------------------------------------------------------------
# 129. end-to-end corpus curation funnel — the operators composed the
# way a production pre-training pipeline chains them: token-count
# quality gate → exact dedup (min-id per normalized fingerprint,
# computed among survivors via a conditional window min) → transitive
# near-dup removal (exact_jaccard_pairs → connected components, drop
# non-canonical members) → deterministic 50% hash sample. One wide
# pass carries boolean stage flags so all five stage counts come from
# a single aggregate; the only side plan is the (tiny, broadcast)
# drop-list from the cluster pass. Oracle: the same funnel as chained
# CTEs with a recursive-CTE cluster step.
@query(
    "pipeline_curation_funnel",
    oracle=r"""
WITH s1 AS (
  SELECT doc_id, lang, text FROM documents
  WHERE LEN(string_split_regex(TRIM(text), '\s+')) >= 20),
s2 AS (
  SELECT doc_id, lang, text FROM (
    SELECT doc_id, lang, text,
           MIN(doc_id) OVER (PARTITION BY
             md5(LOWER(TRIM(regexp_replace(text, '\s+', ' ', 'g'))))) AS m
    FROM s1) t WHERE doc_id = m),
sh AS (
  SELECT doc_id, lang,
         list_distinct(list_transform(
             range(1, GREATEST(LEN(toks) - 1, 1)),
             i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingles
  FROM (SELECT doc_id, lang, string_split_regex(TRIM(text), '\s+') AS toks
        FROM s2) t
  WHERE LEN(toks) >= 3),
pairs AS (
  SELECT a.doc_id AS src, b.doc_id AS dst
  FROM sh a JOIN sh b ON a.lang = b.lang AND a.doc_id < b.doc_id
  WHERE CAST(LEN(list_filter(a.shingles, x -> list_contains(b.shingles, x)))
             AS DOUBLE)
        / (LEN(a.shingles) + LEN(b.shingles)
           - LEN(list_filter(a.shingles, x -> list_contains(b.shingles, x))))
        >= 0.25),
edges AS (SELECT src, dst FROM pairs UNION SELECT dst, src FROM pairs),
nodes AS (SELECT DISTINCT src AS node FROM edges),
lp AS (
  WITH RECURSIVE walk(node, lbl) AS (
    SELECT node, node FROM nodes
    UNION
    SELECT e.src, walk.lbl FROM edges e JOIN walk ON walk.node = e.dst
    WHERE walk.lbl < e.src)
  SELECT node, MIN(lbl) AS comp FROM walk GROUP BY node),
dropd AS (SELECT node FROM lp WHERE node != comp),
s3 AS (SELECT doc_id FROM s2
       WHERE doc_id NOT IN (SELECT node FROM dropd)),
s4 AS (SELECT doc_id FROM s3
       WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '8000')
SELECT 'corpus' AS stage,
       CAST((SELECT COUNT(*) FROM documents) AS BIGINT) AS n_docs
UNION ALL SELECT 'quality', CAST((SELECT COUNT(*) FROM s1) AS BIGINT)
UNION ALL SELECT 'exact_dedup', CAST((SELECT COUNT(*) FROM s2) AS BIGINT)
UNION ALL SELECT 'neardup_dedup', CAST((SELECT COUNT(*) FROM s3) AS BIGINT)
UNION ALL SELECT 'sampled', CAST((SELECT COUNT(*) FROM s4) AS BIGINT)
""",
)
def pipeline_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from koalas_spark.functions.textfn import normalize_text, token_count
    from koalas_spark.operators.dedup import exact_jaccard_pairs
    from koalas_spark.operators.graph import connected_components

    from pyspark import StorageLevel

    d = _t(spark, sf_dir, "documents")
    wide = d.select(
        "doc_id",
        "lang",
        "text",
        (token_count(F.col("text")) >= 20).alias("q_ok"),
        F.md5(normalize_text(F.col("text"))).alias("fp"),
    )
    w = Window.partitionBy("fp")
    keep_min = F.min(F.when(F.col("q_ok"), F.col("doc_id"))).over(w)
    # persist: the flagged frame feeds BOTH sides of the pair join,
    # the cluster pass's edge materialization, and the final stage
    # aggregate — without reuse the fingerprint window and scan re-run
    # once per consumer (measured 20s vs ~4s at sf0.1)
    wide = wide.withColumn(
        "ex_keep", F.col("q_ok") & (F.col("doc_id") == keep_min)
    ).persist(StorageLevel.MEMORY_AND_DISK)
    s2 = wide.filter(F.col("ex_keep")).select("doc_id", "lang", "text")
    pairs = exact_jaccard_pairs(
        s2, "doc_id", "text", block_col="lang", shingle_n=3, threshold=0.25
    )
    drop = (
        connected_components(pairs)
        .filter(F.col("node") != F.col("comp"))
        .select(F.col("node").alias("doc_id"), F.lit(True).alias("nd_drop"))
    )
    # no forced broadcast: the near-dup drop set scales with the corpus
    # (web corpora run 20-50% near-dups), so a mandatory broadcast OOMs
    # executors at 100 TB. Left join + AQE: broadcast while small,
    # shuffled join once it isn't — flags are computed identically.
    flagged = wide.join(drop, "doc_id", "left")
    nd_keep = F.col("ex_keep") & F.col("nd_drop").isNull()
    samp = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4) < "8000"
    counts = flagged.agg(
        F.count(F.lit(1)).alias("n0"),
        F.sum(F.col("q_ok").cast("long")).alias("n1"),
        F.sum(F.col("ex_keep").cast("long")).alias("n2"),
        F.sum(nd_keep.cast("long")).alias("n3"),
        F.sum((nd_keep & samp).cast("long")).alias("n4"),
    )
    stages = F.array(
        *[
            F.struct(
                F.lit(name).alias("stage"),
                F.col(col).cast("bigint").alias("n_docs"),
            )
            for name, col in [
                ("corpus", "n0"),
                ("quality", "n1"),
                ("exact_dedup", "n2"),
                ("neardup_dedup", "n3"),
                ("sampled", "n4"),
            ]
        ]
    )
    return counts.select(F.explode(stages).alias("s")).select(
        "s.stage", "s.n_docs"
    )
