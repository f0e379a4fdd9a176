"""Round-9 batch-12 additions (SURVEY.md §2 extensions): weekly
type-mix KL drift, per-source token JSD, dedup cluster-size
histogram.

Reference parity note: none of these exist in the reference (its
surface is the frame ops in source/koalas/dataframe.d:73-311); they
extend the drift-monitoring / corpus-curation shelves under the repo
determinism rules (queries/__init__.py docstring): per-value
nano-quantized ln (#221), exact integer ppm cross-multiplication,
bounded-domain windows, composition of already-portable pipelines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from koalas_spark.queries import query
from koalas_spark.queries.analytics import _t
from koalas_spark.queries.corpus import _CLUSTER_ORACLE


# --------------------------------------------------------------------
# 332. weekly type-mix KL drift — the live-traffic drift monitor: per
# ISO week of the event stream, KL(week ‖ baseline) of the event-type
# distribution against the FIRST week (the deploy-time reference).
# One (week × type) groupBy collapses the corpus (bounded: weeks ×
# 5 types); the per-cell log-ratio ln((c_w·n_0)/(c_0·n_w)) is
# nano-quantized per cell (#221 — the argument is a ratio of exact
# integers, identical in both engines) and the expectation is an
# exact-integer sum. Types absent from a week contribute zero (the
# standard plug-in estimator); types absent from the BASELINE would
# be infinite and are reported via n_unseen instead of poisoning the
# sum.
@query(
    "weekly_type_kl_drift",
    oracle="""
WITH s AS (
  SELECT CAST(FLOOR(epoch(ts)) AS BIGINT) // 604800 AS wk, event_type
  FROM events),
c AS (
  SELECT wk, event_type, CAST(COUNT(*) AS BIGINT) AS c
  FROM s GROUP BY 1, 2),
w0 AS (SELECT MIN(wk) AS wk0 FROM c),
base AS (
  SELECT event_type, c AS c0,
         CAST(SUM(c) OVER () AS BIGINT) AS n0
  FROM c, w0 WHERE c.wk = w0.wk0),
cur AS (
  SELECT wk, event_type, c,
         CAST(SUM(c) OVER (PARTITION BY wk) AS BIGINT) AS nw
  FROM c),
j AS (
  SELECT cur.wk, cur.c, cur.nw, base.c0, base.n0,
         CASE WHEN base.c0 IS NOT NULL THEN
           CAST(FLOOR(LN(CAST(cur.c AS DOUBLE) * CAST(base.n0 AS DOUBLE)
                         / (CAST(base.c0 AS DOUBLE)
                            * CAST(cur.nw AS DOUBLE)))
                      * 1000000000 + 0.5) AS BIGINT)
         END AS lr_nano
  FROM cur LEFT JOIN base ON cur.event_type = base.event_type)
SELECT wk, CAST(MAX(nw) AS BIGINT) AS n_events,
       CAST(SUM(CASE WHEN lr_nano IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_unseen,
       CAST(SUM(CASE WHEN lr_nano IS NOT NULL THEN
              CASE WHEN lr_nano >= 0 THEN (c * lr_nano) // nw
                   ELSE -((c * (-lr_nano)) // nw) END ELSE 0 END)
            AS BIGINT) AS kl_nano
FROM j GROUP BY wk
""",
    # per-week KL over the bounded (week x type) domain
    allow={"GlobalWindow"},
)
def weekly_type_kl_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select(
        F.expr("CAST(CAST(ts AS LONG) div 604800 AS BIGINT)").alias("wk"),
        "event_type",
    )
    c = ev.groupBy("wk", "event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    w0 = c.agg(F.min("wk").alias("wk0"))
    base = (
        c.crossJoin(w0)
        .filter(F.col("wk") == F.col("wk0"))
        .select(
            "event_type",
            F.col("c").alias("c0"),
            F.sum("c").over(Window.partitionBy()).cast("bigint").alias("n0"),
        )
    )
    cur = c.select(
        "wk",
        "event_type",
        "c",
        F.sum("c").over(Window.partitionBy("wk")).cast("bigint").alias("nw"),
    )
    j = cur.join(F.broadcast(base), "event_type", "left").withColumn(
        "lr_nano",
        F.when(
            F.col("c0").isNotNull(),
            F.floor(
                F.log(
                    F.expr(
                        "CAST(c AS DOUBLE) * CAST(n0 AS DOUBLE)"
                        " / (CAST(c0 AS DOUBLE) * CAST(nw AS DOUBLE))"
                    )
                )
                * 1000000000
                + 0.5
            ).cast("bigint"),
        ),
    )
    return j.groupBy("wk").agg(
        F.max("nw").cast("bigint").alias("n_events"),
        F.sum(F.when(F.col("lr_nano").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_unseen"),
        F.sum(
            F.when(
                F.col("lr_nano").isNotNull(),
                F.expr(
                    "CASE WHEN lr_nano >= 0 THEN (c * lr_nano) div nw"
                    " ELSE -((c * (-lr_nano)) div nw) END"
                ),
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("kl_nano"),
    )


# --------------------------------------------------------------------
# 333. per-source token JSD — the distributional twin of the
# set-based vocabulary Jaccard (#326): Jensen-Shannon divergence
# between each source's token distribution and the corpus-wide one.
# One (source × token) groupBy; per-term masses are exact integers;
# the two KL halves use per-term nano-quantized ln over
# cross-multiplied exact-integer ratios (m is the EQUAL-WEIGHT
# mixture (p+q)/2 expressed as cross-products, so no fractions
# materialize); bounded output (20 sources). JSD is what mixture
# designers threshold when down-weighting an outlier crawl source.
@query(
    "source_token_jsd",
    oracle="""
WITH tok AS (
  SELECT CAST(SUBSTR(source, 4) AS INT) AS src, u.tok
  FROM documents, UNNEST(string_split_regex(TRIM(text), '\\s+')) AS u(tok)
  WHERE LENGTH(u.tok) > 0),
st AS (
  SELECT src, tok, CAST(COUNT(*) AS BIGINT) AS c FROM tok GROUP BY 1, 2),
tot AS (
  SELECT tok, CAST(SUM(c) AS BIGINT) AS g FROM st GROUP BY tok),
n AS (
  SELECT CAST(SUM(c) AS BIGINT) AS n_all FROM st),
sn AS (
  SELECT src, CAST(SUM(c) AS BIGINT) AS n_src FROM st GROUP BY src),
terms AS (
  SELECT st.src, st.c, tot.g, sn.n_src, n.n_all,
         CAST(FLOOR(LN(2.0 * CAST(st.c AS DOUBLE) * CAST(n.n_all AS DOUBLE)
                 / (CAST(st.c AS DOUBLE) * CAST(n.n_all AS DOUBLE)
                    + CAST(tot.g AS DOUBLE) * CAST(sn.n_src AS DOUBLE)))
               * 1000000000 + 0.5) AS BIGINT) AS lp_nano,
         CAST(FLOOR(LN(2.0 * CAST(tot.g AS DOUBLE) * CAST(sn.n_src AS DOUBLE)
                 / (CAST(st.c AS DOUBLE) * CAST(n.n_all AS DOUBLE)
                    + CAST(tot.g AS DOUBLE) * CAST(sn.n_src AS DOUBLE)))
               * 1000000000 + 0.5) AS BIGINT) AS lq_nano
  FROM st JOIN tot ON tot.tok = st.tok
  JOIN sn ON sn.src = st.src, n),
halves AS (
  SELECT src, n_src, n_all,
         CAST(SUM(CASE WHEN lp_nano >= 0 THEN (c * lp_nano) // n_src
                       ELSE -((c * (-lp_nano)) // n_src) END) AS BIGINT)
           AS klp_nano,
         CAST(SUM(CASE WHEN lq_nano >= 0 THEN (g * lq_nano) // n_all
                       ELSE -((g * (-lq_nano)) // n_all) END) AS BIGINT)
           AS klq_nano
  FROM terms GROUP BY src, n_src, n_all)
SELECT src, n_src,
       CAST((klp_nano + klq_nano) // 2 AS BIGINT) AS jsd_nano
FROM halves
""",
    # 1-row corpus-token-total frame cross-joined onto per-term rows
    allow={"BroadcastNestedLoopJoin"},
)
def source_token_jsd(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select("source", "text")
    tok = docs.select(
        F.expr("CAST(SUBSTR(source, 4) AS INT)").alias("src"),
        F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("tok"),
    ).filter(F.length("tok") > 0)
    st = tok.groupBy("src", "tok").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    tot = st.groupBy("tok").agg(F.sum("c").cast("bigint").alias("g"))
    n = st.agg(F.sum("c").cast("bigint").alias("n_all"))
    sn = st.groupBy("src").agg(F.sum("c").cast("bigint").alias("n_src"))
    terms = (
        st.join(tot, "tok")
        .join(F.broadcast(sn), "src")
        .crossJoin(n)
        .select(
            "src",
            "c",
            "g",
            "n_src",
            "n_all",
            F.floor(
                F.log(
                    F.expr(
                        "2.0 * CAST(c AS DOUBLE) * CAST(n_all AS DOUBLE)"
                        " / (CAST(c AS DOUBLE) * CAST(n_all AS DOUBLE)"
                        "    + CAST(g AS DOUBLE) * CAST(n_src AS DOUBLE))"
                    )
                )
                * 1000000000
                + 0.5
            )
            .cast("bigint")
            .alias("lp_nano"),
            F.floor(
                F.log(
                    F.expr(
                        "2.0 * CAST(g AS DOUBLE) * CAST(n_src AS DOUBLE)"
                        " / (CAST(c AS DOUBLE) * CAST(n_all AS DOUBLE)"
                        "    + CAST(g AS DOUBLE) * CAST(n_src AS DOUBLE))"
                    )
                )
                * 1000000000
                + 0.5
            )
            .cast("bigint")
            .alias("lq_nano"),
        )
    )
    halves = terms.groupBy("src", "n_src", "n_all").agg(
        F.sum(
            F.expr(
                "CASE WHEN lp_nano >= 0 THEN (c * lp_nano) div n_src"
                " ELSE -((c * (-lp_nano)) div n_src) END"
            )
        )
        .cast("bigint")
        .alias("klp_nano"),
        F.sum(
            F.expr(
                "CASE WHEN lq_nano >= 0 THEN (g * lq_nano) div n_all"
                " ELSE -((g * (-lq_nano)) div n_all) END"
            )
        )
        .cast("bigint")
        .alias("klq_nano"),
    )
    return halves.select(
        "src",
        "n_src",
        F.expr("CAST((klp_nano + klq_nano) div 2 AS BIGINT)").alias(
            "jsd_nano"
        ),
    )


# --------------------------------------------------------------------
# 334. dedup cluster-size histogram — the "how much does dedup shrink
# the corpus" report every curation run publishes: the near-dup
# clusters from #111's inverted-index + connected-components pipeline
# collapsed to a size histogram with per-size removable-document
# counts (size − 1 non-canonical members per cluster). Composes the
# already-portable cluster pipeline; everything after the CC runs on
# the tiny cluster table. Oracle shares #111's recursive-CTE cluster
# replay verbatim.
@query(
    "dedup_cluster_size_histogram",
    oracle=f"""
WITH clusters AS ({_CLUSTER_ORACLE})
SELECT n_docs AS cluster_size,
       CAST(COUNT(*) AS BIGINT) AS n_clusters,
       CAST(SUM(n_docs) AS BIGINT) AS n_docs_total,
       CAST(SUM(n_docs - 1) AS BIGINT) AS n_removable
FROM clusters GROUP BY 1
""",
)
def dedup_cluster_size_histogram(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from koalas_spark.queries.corpus import dedup_cluster_canonical

    clusters = dedup_cluster_canonical(spark, sf_dir)
    return clusters.groupBy(
        F.col("n_docs").alias("cluster_size")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_clusters"),
        F.sum("n_docs").cast("bigint").alias("n_docs_total"),
        F.sum(F.col("n_docs") - 1).cast("bigint").alias("n_removable"),
    )
