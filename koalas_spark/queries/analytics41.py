"""Round-9 batch-19 additions (SURVEY.md §2 extensions): a
metadata-only parquet footer audit, Jaccard link prediction on the
co-purchase graph, and two document-corpus profiling operators.

Reference parity note: not in the reference (its surface is the frame
ops in source/koalas/dataframe.d:73-311); these extend the
storage/graph/text shelves under the repo determinism rules
(queries/__init__.py docstring): exact integer cross-multiplied
ratios (no doubles in Jaccard/ratio outputs), the #221 nano-ln
quantization for entropy, and Arrow-batched Python only where the JVM
genuinely cannot reach (parquet footer bytes).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from koalas_spark.queries import query
from koalas_spark.queries.analytics import _t


# --------------------------------------------------------------------
# 352. parquet footer-stats integrity audit — the metadata-only scan:
# row counts and key min/max come from ROW-GROUP FOOTER STATISTICS
# read distributively (one mapInPandas over the file list, pyarrow
# footer parse — at 100 TB this touches kilobytes per file instead of
# the data pages; it is how a catalog validates zone maps after a
# write job). The oracle recomputes the same facts FROM THE DATA
# (COUNT/MIN/MAX per table), so a footer that disagrees with its
# pages — the corruption this audit exists to catch — fails the gate.
# Handles both single-file tables (driver testdata) and
# directory-of-part-files tables (Spark-written sf1+).
_FOOTER_TABLES = (
    ("customer", "c_custkey"),
    ("lineitem", "l_orderkey"),
    ("orders", "o_orderkey"),
    ("part", "p_partkey"),
)


@query(
    "footer_stats_integrity_audit",
    oracle="""
SELECT 'customer' AS tbl, CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(MIN(c_custkey) AS BIGINT) AS min_key,
       CAST(MAX(c_custkey) AS BIGINT) AS max_key FROM customer
UNION ALL
SELECT 'lineitem', CAST(COUNT(*) AS BIGINT),
       CAST(MIN(l_orderkey) AS BIGINT),
       CAST(MAX(l_orderkey) AS BIGINT) FROM lineitem
UNION ALL
SELECT 'orders', CAST(COUNT(*) AS BIGINT),
       CAST(MIN(o_orderkey) AS BIGINT),
       CAST(MAX(o_orderkey) AS BIGINT) FROM orders
UNION ALL
SELECT 'part', CAST(COUNT(*) AS BIGINT),
       CAST(MIN(p_partkey) AS BIGINT),
       CAST(MAX(p_partkey) AS BIGINT) FROM part
ORDER BY 1
""",
    # parquet footer parse (pyarrow) runs in mapInPandas over the
    # FILE LIST — metadata-only by design, never touches data pages
    allow={"Python"},
)
def footer_stats_integrity_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from koalas_spark.sources.io import source_files, source_path

    rows = [
        (t, key, f)
        for t, key in _FOOTER_TABLES
        for f in source_files(source_path(sf_dir, t))
    ]
    fdf = spark.createDataFrame(
        rows, "tbl string, key string, path string"
    ).repartition(min(len(rows), 32))

    def read_footers(it):
        import pandas as pd
        import pyarrow.parquet as pq

        for pdf in it:
            out = []
            for t, k, path in pdf.itertuples(index=False):
                md = pq.ParquetFile(path).metadata
                mn = mx = None
                nrows = 0
                for g in range(md.num_row_groups):
                    rg = md.row_group(g)
                    nrows += rg.num_rows
                    for i in range(rg.num_columns):
                        col = rg.column(i)
                        if col.path_in_schema != k:
                            continue
                        st = col.statistics
                        mn = st.min if mn is None else min(mn, st.min)
                        mx = st.max if mx is None else max(mx, st.max)
                out.append((t, nrows, mn, mx))
            yield pd.DataFrame(
                out, columns=["tbl", "n_rows", "min_key", "max_key"]
            )

    per_file = fdf.mapInPandas(
        read_footers,
        "tbl string, n_rows long, min_key long, max_key long",
    )
    return (
        per_file.groupBy("tbl")
        .agg(
            F.sum("n_rows").cast("bigint").alias("n_rows"),
            F.min("min_key").cast("bigint").alias("min_key"),
            F.max("max_key").cast("bigint").alias("max_key"),
        )
        .orderBy("tbl")
    )


# --------------------------------------------------------------------
# 353. capped Jaccard link prediction — the set-overlap twin of #299's
# Adamic-Adar on the same co-purchase graph (#170 artifact): for each
# probe item, score open pairs by |common| / (deg u + deg v -
# |common|). Same production caps as #299 (probe set partkey % 97 = 0,
# wedge centers with 2 <= deg <= 256 — bounds wedge fanout under
# skew); unlike AA the score is an EXACT RATIONAL, so it ships as a
# cross-multiplied ppm integer — no doubles anywhere. True
# (uncapped) degrees in the denominator. Top-5 per probe,
# (ppm desc, v) tie-break.
@query(
    "jaccard_link_copurchase",
    oracle="""
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
e AS MATERIALIZED (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
adj AS MATERIALIZED (
  SELECT u AS c, v AS x FROM e UNION ALL SELECT v, u FROM e),
deg AS MATERIALIZED (
  SELECT c AS x, CAST(COUNT(*) AS BIGINT) AS dg FROM adj GROUP BY c),
ctr AS MATERIALIZED (
  SELECT x AS c FROM deg WHERE dg >= 2 AND dg <= 256),
cand AS MATERIALIZED (
  SELECT a1.x AS u, a2.x AS v, CAST(COUNT(*) AS BIGINT) AS n_common
  FROM adj a1
  JOIN ctr ON ctr.c = a1.c
  JOIN adj a2 ON a2.c = a1.c AND a2.x <> a1.x
  WHERE a1.x % 97 = 0
  GROUP BY 1, 2),
open_pairs AS (
  SELECT cand.u, cand.v, cand.n_common,
         CAST((cand.n_common * 1000000)
              // (du.dg + dv.dg - cand.n_common) AS BIGINT) AS jac_ppm
  FROM cand
  JOIN deg du ON du.x = cand.u
  JOIN deg dv ON dv.x = cand.v
  WHERE NOT EXISTS (SELECT 1 FROM e
                    WHERE e.u = LEAST(cand.u, cand.v)
                      AND e.v = GREATEST(cand.u, cand.v)))
SELECT u, v, n_common, jac_ppm, rk FROM (
  SELECT u, v, n_common, jac_ppm,
         CAST(ROW_NUMBER() OVER (PARTITION BY u
                                 ORDER BY jac_ppm DESC, v ASC) AS INT)
           AS rk
  FROM open_pairs) t
WHERE rk <= 5
""",
)
def jaccard_link_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    from koalas_spark.queries.mining import (
        _copurchase_edge_set,
        bcast_v,
        copurchase_degree_table,
        open_pairs,
        probe_wedges,
        symmetric,
    )

    e = _copurchase_edge_set(spark, sf_dir)
    # degrees come from the shared |V|-sized degree table instead of a
    # fresh 2|E|-row aggregate (r13); the cap filter (ctr) and both
    # denominator lookups ride the |V| gate.
    deg = copurchase_degree_table(spark, sf_dir)
    ctr = deg.filter((F.col("dg") >= 2) & (F.col("dg") <= 256)).select(
        F.col("x").alias("c")
    )
    cand = (
        probe_wedges(symmetric(e).toDF("c", "x"), ctr, sf_dir)
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_common"))
    )
    du = bcast_v(
        deg.select(F.col("x").alias("u"), F.col("dg").alias("dg_u")), sf_dir
    )
    dv = bcast_v(
        deg.select(F.col("x").alias("v"), F.col("dg").alias("dg_v")), sf_dir
    )
    scored = open_pairs(cand.join(du, "u").join(dv, "v"), e, sf_dir).select(
        "u",
        "v",
        "n_common",
        F.expr(
            "CAST((n_common * 1000000)"
            " div (dg_u + dg_v - n_common) AS BIGINT)"
        ).alias("jac_ppm"),
    )
    wk = Window.partitionBy("u").orderBy(
        F.col("jac_ppm").desc(), F.col("v").asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(wk).cast("int"))
        .filter(F.col("rk") <= 5)
        .select("u", "v", "n_common", "jac_ppm", "rk")
    )


# --------------------------------------------------------------------
# 354. per-source language-mix entropy — how monolingual is each
# ingest source? Shannon entropy (nats, nano-quantized) of the lang
# distribution per source, via the #221/#250 identity
# H = ln(n) - (1/n) * sum c*ln(c): per-term c*ln(c) is floored to
# integer nanos BEFORE the sum (float sums are addend-order-dependent;
# integer sums are not), the final division is non-negative exact //.
# One bounded (source x lang) groupBy over the corpus.
@query(
    "doc_lang_source_entropy",
    oracle="""
WITH ct AS (
  SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS c
  FROM documents GROUP BY 1, 2),
terms AS (
  SELECT source, c,
         CAST(FLOOR(1000000000 * (c * LN(CAST(c AS DOUBLE))))
              AS BIGINT) AS clnc_nano
  FROM ct),
s AS (
  SELECT source, CAST(SUM(c) AS BIGINT) AS n,
         CAST(COUNT(*) AS BIGINT) AS n_langs,
         CAST(SUM(clnc_nano) AS BIGINT) AS t
  FROM terms GROUP BY source)
SELECT source, n AS n_docs, n_langs,
       CAST(FLOOR(1000000000 * LN(CAST(n AS DOUBLE))) AS BIGINT)
         - t // n AS entropy_nano
FROM s ORDER BY source
""",
)
def doc_lang_source_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    ct = d.groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    terms = ct.select(
        "source",
        "c",
        F.floor(
            1000000000
            * (F.col("c") * F.log(F.col("c").cast("double")))
        )
        .cast("bigint")
        .alias("clnc_nano"),
    )
    s = terms.groupBy("source").agg(
        F.sum("c").cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("n_langs"),
        F.sum("clnc_nano").cast("bigint").alias("t"),
    )
    return s.select(
        "source",
        F.col("n").alias("n_docs"),
        "n_langs",
        (
            F.floor(1000000000 * F.log(F.col("n").cast("double"))).cast(
                "bigint"
            )
            - F.expr("t div n")
        ).alias("entropy_nano"),
    ).orderBy("source")


# --------------------------------------------------------------------
# 355. sentence-mark stats per source — the naive-segmentation corpus
# profile (sentence-boundary density feeds the #117 quality score's
# readability family): terminal-mark counts via the portable
# LENGTH - LENGTH(REPLACE(...)) arithmetic (codepoint semantics agree
# across engines), density as an exact cross-multiplied
# marks-per-100k-chars integer. One map-side-combined groupBy.
@query(
    "sentence_stats_docs",
    oracle="""
WITH per_doc AS (
  SELECT source,
         CAST(LENGTH(text) - LENGTH(REPLACE(text, '.', ''))
              + LENGTH(text) - LENGTH(REPLACE(text, '!', ''))
              + LENGTH(text) - LENGTH(REPLACE(text, '?', ''))
              AS BIGINT) AS marks,
         CAST(LENGTH(text) AS BIGINT) AS chars
  FROM documents)
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(marks) AS BIGINT) AS n_marks,
       CAST(SUM(chars) AS BIGINT) AS n_chars,
       CAST((SUM(marks) * 100000) // SUM(chars) AS BIGINT)
         AS marks_per_100kchars
FROM per_doc GROUP BY source ORDER BY source
""",
)
def sentence_stats_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    per_doc = d.select(
        "source",
        (
            F.length("text")
            - F.length(F.regexp_replace("text", r"\.", ""))
            + F.length("text")
            - F.length(F.regexp_replace("text", r"!", ""))
            + F.length("text")
            - F.length(F.regexp_replace("text", r"\?", ""))
        )
        .cast("bigint")
        .alias("marks"),
        F.length("text").cast("bigint").alias("chars"),
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("marks").cast("bigint").alias("n_marks"),
            F.sum("chars").cast("bigint").alias("n_chars"),
            F.expr(
                "CAST((SUM(marks) * 100000) div SUM(chars) AS BIGINT)"
            ).alias("marks_per_100kchars"),
        )
        .orderBy("source")
    )
