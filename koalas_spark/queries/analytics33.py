"""Round-9 batch-11 additions (SURVEY.md §2 extensions): ANN recall
audit (LSH vs exact) and a shuffle-partition advisor.

Reference parity note: none of these exist in the reference (its
surface is the frame ops in source/koalas/dataframe.d:73-311); they
extend the retrieval-QA and planner-engineering shelves under the
repo determinism rules (queries/__init__.py docstring): exact integer
ppm, non-negative integer division, composition of already-portable
pipelines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from koalas_spark.queries import query
from koalas_spark.queries.analytics import _t
from koalas_spark.queries.similarity import (
    _BF_ORACLE,
    _LSH_ORACLE,
    ann_bruteforce_topk,
    ann_lsh_topk,
)


# --------------------------------------------------------------------
# 330. ANN recall audit — the evaluation step every approximate index
# ships with: per probe, how many of the exact top-5 neighbors does
# the LSH index return? Composes the two already-portable pipelines
# (#42 exact, #43 LSH — both oracle-exact since r7's portable
# hyperplanes) and joins their result sets; recall is exact integer
# ppm. This is the number that tunes num_planes/bands before a 100 TB
# index build — the audit runs on a sample, the setting ships to the
# full corpus.
@query(
    "ann_recall_audit",
    oracle=f"""
WITH bf AS (SELECT probe_id, neighbor_id FROM ({_BF_ORACLE}) bfq),
lsh AS (SELECT probe_id, neighbor_id FROM ({_LSH_ORACLE}) lshq),
m AS (
  SELECT bf.probe_id,
         CAST(COUNT(*) AS BIGINT) AS n_exact,
         CAST(SUM(CASE WHEN lsh.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS n_matched
  FROM bf LEFT JOIN lsh
    ON bf.probe_id = lsh.probe_id AND bf.neighbor_id = lsh.neighbor_id
  GROUP BY bf.probe_id)
SELECT probe_id, n_exact, n_matched,
       CAST(n_matched * 1000000 // n_exact AS BIGINT) AS recall_ppm
FROM m
""",
    # inherits #42's bounded probe-side nested loop (5-probe frame)
    allow={"BroadcastNestedLoopJoin"},
)
def ann_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    bf = ann_bruteforce_topk(spark, sf_dir).select("probe_id", "neighbor_id")
    lsh = (
        ann_lsh_topk(spark, sf_dir)
        .select("probe_id", "neighbor_id")
        .withColumn("_hit", F.lit(1))
    )
    m = (
        bf.join(lsh, ["probe_id", "neighbor_id"], "left")
        .groupBy("probe_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_exact"),
            F.sum(F.when(F.col("_hit").isNotNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_matched"),
        )
    )
    return m.select(
        "probe_id",
        "n_exact",
        "n_matched",
        F.expr("CAST(n_matched * 1000000 div n_exact AS BIGINT)").alias(
            "recall_ppm"
        ),
    )


# --------------------------------------------------------------------
# 331. shuffle-partition advisor — the sizing decision this repo's
# own session config hard-codes (plans/session.py sets
# spark.sql.shuffle.partitions to the core count): estimate each
# table's in-memory bytes FROM THE DATA (fixed per-type widths +
# exact string lengths — engine-independent, unlike file sizes) and
# recommend ceil(bytes / 128 MiB) shuffle partitions. One map-side-
# combined aggregate per table; at 100 TB this is the query a
# scheduler runs before picking a job's partitioning.
@query(
    "shuffle_partition_advisor",
    oracle="""
SELECT tbl, n_rows, est_bytes,
       CAST(GREATEST(1, (est_bytes + 134217727) // 134217728) AS BIGINT)
         AS recommended_partitions
FROM (
  SELECT 'orders' AS tbl, CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(SUM(8 + 8 + LENGTH(o_orderstatus) + 8 + 8
                  + LENGTH(o_orderpriority)) AS BIGINT) AS est_bytes
  FROM orders
  UNION ALL
  SELECT 'lineitem', CAST(COUNT(*) AS BIGINT),
         CAST(SUM(8 + 8 + 8 + 4 + 8 + 8 + 8 + 8
                  + LENGTH(l_returnflag) + LENGTH(l_linestatus) + 8)
              AS BIGINT)
  FROM lineitem
  UNION ALL
  SELECT 'events', CAST(COUNT(*) AS BIGINT),
         CAST(SUM(8 + 8 + 8 + LENGTH(event_type) + 8 + LENGTH(props))
              AS BIGINT)
  FROM events) t
""",
)
def shuffle_partition_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").agg(
        F.lit("orders").alias("tbl"),
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(
            F.lit(8 + 8 + 8 + 8)
            + F.length("o_orderstatus")
            + F.length("o_orderpriority")
        )
        .cast("bigint")
        .alias("est_bytes"),
    )
    li = _t(spark, sf_dir, "lineitem").agg(
        F.lit("lineitem").alias("tbl"),
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(
            F.lit(8 + 8 + 8 + 4 + 8 + 8 + 8 + 8 + 8)
            + F.length("l_returnflag")
            + F.length("l_linestatus")
        )
        .cast("bigint")
        .alias("est_bytes"),
    )
    ev = _t(spark, sf_dir, "events").agg(
        F.lit("events").alias("tbl"),
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(
            F.lit(8 + 8 + 8 + 8)
            + F.length("event_type")
            + F.length("props")
        )
        .cast("bigint")
        .alias("est_bytes"),
    )
    u = o.unionAll(li).unionAll(ev)
    return u.select(
        "tbl",
        "n_rows",
        "est_bytes",
        F.expr(
            "CAST(GREATEST(1, (est_bytes + 134217727) div 134217728)"
            " AS BIGINT)"
        ).alias("recommended_partitions"),
    )
