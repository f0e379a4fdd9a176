"""Round-10 batch-10 additions (SURVEY.md §2 extensions): behavioral
journey edit-distance clustering and a PERMISSIVE-mode malformed-CSV
audit.

Reference parity note: not in the reference (its surface is the frame
ops in source/koalas/dataframe.d:73-311); determinism per the repo
rules (queries/__init__.py docstring).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from koalas_spark.queries import query
from koalas_spark.queries.analytics import _t


# --------------------------------------------------------------------
# 429. journey edit-distance histogram — how far does each user's
# behavior stray from the MODAL journey (the behavioral-cohort
# question #179's transition matrix answers only pairwise)? Journey =
# the first 8 event-type initials in (ts, event_id) order (full
# tie-break — collect order is never trusted); modal journey = most
# frequent string, ties to the lexicographically smallest; distance =
# levenshtein (identical builtin in both engines, integer-exact).
# Shuffles: one user-keyed window + two bounded journey rollups; the
# modal row broadcasts back.
@query(
    "event_journey_edit_distance",
    oracle="""
WITH e AS (
  SELECT user_id, substring(event_type, 1, 1) AS c,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS rn
  FROM events),
j AS (
  SELECT user_id, string_agg(c, '' ORDER BY rn) AS journey
  FROM e WHERE rn <= 8 GROUP BY user_id),
m AS (
  SELECT journey AS modal FROM (
    SELECT journey, COUNT(*) AS cnt FROM j GROUP BY journey
    ORDER BY cnt DESC, journey ASC LIMIT 1)),
d AS (
  SELECT j.user_id, levenshtein(j.journey, m.modal) AS dist
  FROM j, m)
SELECT CAST(dist AS INT) AS dist, CAST(COUNT(*) AS BIGINT) AS n_users
FROM d GROUP BY dist ORDER BY dist
""",
    # 1-row modal-journey frame cross-joined onto the per-user journeys
    allow={"BroadcastNestedLoopJoin"},
)
def event_journey_edit_distance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    e = _t(spark, sf_dir, "events").select(
        "user_id",
        F.substring("event_type", 1, 1).alias("c"),
        "ts",
        "event_id",
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    j = (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 8)
        .groupBy("user_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("rn", "c"))),
                    lambda s: s["c"],
                ),
                "",
            ).alias("journey")
        )
    )
    m = (
        j.groupBy("journey")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("journey").asc())
        .limit(1)
        .select(F.col("journey").alias("modal"))
    )
    d = j.crossJoin(m).select(F.levenshtein("journey", "modal").alias("dist"))
    return (
        d.groupBy(F.col("dist").cast("int").alias("dist"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_users"))
        .orderBy("dist")
    )


# --------------------------------------------------------------------
# 430. PERMISSIVE-mode malformed-record audit — ingest never gets
# clean files: from_csv with a _corrupt_record column is the
# engine-level quarantine path (bad rows survive as raw text instead
# of killing the job or silently dropping). The fixture injects a
# deterministic corruption — every 7th order's amount field becomes
# non-numeric — and the audit proves the quarantine catches exactly
# those rows: corrupt/clean counts per priority plus the clean-side
# cents sum. Oracle replicates the injection predicate. All JVM-side
# (from_csv is codegen); one bounded rollup.
@query(
    "csv_corrupt_record_audit",
    oracle="""
SELECT o_orderpriority AS priority,
       CAST(SUM(CASE WHEN o_orderkey % 7 = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_corrupt,
       CAST(SUM(CASE WHEN o_orderkey % 7 = 0 THEN 0 ELSE 1 END) AS BIGINT)
         AS n_clean,
       CAST(SUM(CASE WHEN o_orderkey % 7 <> 0
                THEN CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)
                ELSE 0 END) AS BIGINT) AS clean_cents
FROM orders GROUP BY 1 ORDER BY 1
""",
)
def csv_corrupt_record_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_orderpriority").alias("priority"),
        F.floor(F.col("o_totalprice") * 100 + 0.5)
        .cast("bigint")
        .alias("cents"),
    )
    lines = o.select(
        "priority",
        F.concat_ws(
            ",",
            F.col("o_orderkey").cast("string"),
            F.when(F.col("o_orderkey") % 7 == 0, F.lit("corrupted!"))
            .otherwise(F.col("cents").cast("string")),
        ).alias("line"),
    )
    parsed = lines.select(
        "priority",
        F.from_csv(
            "line",
            "o_orderkey BIGINT, cents BIGINT, _corrupt_record STRING",
            {
                "mode": "PERMISSIVE",
                "columnNameOfCorruptRecord": "_corrupt_record",
            },
        ).alias("r"),
    )
    return (
        parsed.groupBy("priority")
        .agg(
            F.sum(
                F.when(F.col("r._corrupt_record").isNotNull(), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_corrupt"),
            F.sum(
                F.when(F.col("r._corrupt_record").isNull(), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_clean"),
            F.sum(
                F.when(
                    F.col("r._corrupt_record").isNull(), F.col("r.cents")
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("clean_cents"),
        )
        .orderBy("priority")
    )
