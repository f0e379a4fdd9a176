"""Round-10 batch-8 additions (SURVEY.md §2 extensions): cogrouped
Arrow applyInPandas reconciliation (the last grouped-Python API shape
the registry didn't exercise).

Reference parity note: not in the reference (its surface is the frame
ops in source/koalas/dataframe.d:73-311); determinism per the repo
rules (queries/__init__.py docstring).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from koalas_spark.queries import query
from koalas_spark.queries.analytics import _t


# --------------------------------------------------------------------
# 425. cogrouped reconciliation — df.groupBy(k).cogroup(other
# .groupBy(k)).applyInPandas: BOTH sides of a key arrive as pandas
# frames in ONE function call (the API for per-entity logic that
# needs two tables at once — alignment, merging, custom matching —
# without a pre-join blowing up rows). Here: per customer, align
# monthly order revenue against monthly event activity and count
# matched/order-only/event-only months. Both inputs pre-aggregate to
# (key, month) BEFORE the cogroup, so per-key pandas frames are
# months-bounded (<= ~28 rows), never raw-corpus sized — the
# discipline that keeps grouped-Python viable at 100 TB. The SECOND
# bound (VERDICT r10 #1): the demo runs over a deterministic
# md5-coin PROBE subset of customers (substr(md5('cgr:'||k),1,2) <
# '08', p = 1/32 — the #220 fixed-permutation device), because the
# API's cost floor is one Python call PER KEY: linear in |customers|
# is exactly the term you would not pay corpus-wide at 100 TB when
# the JVM join twin (#113) exists. The probe set still exercises
# every cogroup path (both-sides, order-only and event-only keys all
# survive the coin); the coin is applied BEFORE the pre-aggregations
# so both shuffles also carry only probe rows. Oracle: the same
# reconciliation as a SQL FULL OUTER join under the same coin.
@query(
    "cogroup_monthly_reconciliation",
    oracle="""
WITH om AS (
  SELECT o_custkey AS k, CAST(strftime(o_orderdate, '%Y-%m') AS VARCHAR)
           AS m,
         CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
           AS BIGINT) AS cents
  FROM orders
  WHERE substr(md5('cgr:' || CAST(o_custkey AS VARCHAR)), 1, 2) < '08'
  GROUP BY 1, 2),
em AS (
  SELECT user_id AS k, CAST(strftime(ts, '%Y-%m') AS VARCHAR) AS m,
         CAST(COUNT(*) AS BIGINT) AS nev
  FROM events
  WHERE substr(md5('cgr:' || CAST(user_id AS VARCHAR)), 1, 2) < '08'
  GROUP BY 1, 2),
j AS (
  SELECT COALESCE(om.k, em.k) AS k,
         om.m AS om_m, em.m AS em_m,
         om.cents, em.nev
  FROM om FULL OUTER JOIN em ON em.k = om.k AND em.m = om.m)
SELECT k AS custkey,
       CAST(SUM(CASE WHEN om_m IS NOT NULL AND em_m IS NOT NULL
                     THEN 1 ELSE 0 END) AS BIGINT) AS months_both,
       CAST(SUM(CASE WHEN em_m IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS months_orders_only,
       CAST(SUM(CASE WHEN om_m IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS months_events_only,
       CAST(COALESCE(SUM(cents), 0) AS BIGINT) AS cents_total,
       CAST(COALESCE(SUM(nev), 0) AS BIGINT) AS events_total
FROM j GROUP BY k
""",
    # the cogrouped applyInPandas (FlatMapCoGroupsInPandas) is the API
    # under test; its per-key frames are months-bounded
    allow={"Python"},
)
def cogroup_monthly_reconciliation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import pandas as pd

    def probe_coin(col):
        return (
            F.substring(
                F.md5(F.concat(F.lit("cgr:"), col.cast("string"))), 1, 2
            )
            < "08"
        )

    om = (
        _t(spark, sf_dir, "orders")
        .filter(probe_coin(F.col("o_custkey")))
        .groupBy(
            F.col("o_custkey").alias("k"),
            F.date_format("o_orderdate", "yyyy-MM").alias("m"),
        )
        .agg(
            F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint"))
            .cast("bigint")
            .alias("cents")
        )
    )
    em = (
        _t(spark, sf_dir, "events")
        .filter(probe_coin(F.col("user_id")))
        .groupBy(
            F.col("user_id").alias("k"),
            F.date_format("ts", "yyyy-MM").alias("m"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("nev"))
    )

    def reconcile(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        # set arithmetic, not pd.merge: the per-GROUP call overhead is
        # the API's cost floor (~ms/key), so the body must not add a
        # frame-construction tax on top (merge+indicator measured ~3x
        # slower per call at sf0.1's 15k keys)
        k = left["k"].iloc[0] if len(left) else right["k"].iloc[0]
        lm = set(left["m"])
        rm = set(right["m"])
        return pd.DataFrame(
            {
                "custkey": [int(k)],
                "months_both": [len(lm & rm)],
                "months_orders_only": [len(lm - rm)],
                "months_events_only": [len(rm - lm)],
                "cents_total": [int(left["cents"].sum()) if len(left) else 0],
                "events_total": [int(right["nev"].sum()) if len(right) else 0],
            }
        )

    return (
        om.groupBy("k")
        .cogroup(em.groupBy("k"))
        .applyInPandas(
            reconcile,
            schema=(
                "custkey bigint, months_both bigint,"
                " months_orders_only bigint, months_events_only bigint,"
                " cents_total bigint, events_total bigint"
            ),
        )
    )
