"""Round-9 batch-5 additions (SURVEY.md §2 extensions): probe-set
harmonic centrality and quantile-normalization reference.

Reference parity note: none of these exist in the reference (its
surface is the frame ops in source/koalas/dataframe.d:73-311); they
extend the graph and ML-preprocessing shelves under the repo
determinism rules (queries/__init__.py docstring): exact integer
nano/micro quantization, non-negative integer division, bounded-
domain windows, MATERIALIZED iterative oracle CTEs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from koalas_spark.frame import local_rows
from koalas_spark.queries import query
from koalas_spark.queries.analytics import _t


# --------------------------------------------------------------------
# 310. probe-set harmonic centrality — "how central are these items"
# over the co-purchase graph (#170 artifact): for 5 deterministic
# probe nodes, the BFS layer sizes at distance 1/2/3 and the harmonic
# score Σ 1/d = n1·1e9 + n2·5e8 + n3·333333333 (per-distance nano
# weights are exact integer constants, so the additive score is
# exact). Same 3-fixed-frontier-expansion BFS shape as #258 — per-hop
# cost |frontier| × avg-degree — but a different measure: distances
# decompose the reach into layers and weight them. Probes are the 5
# smallest node ids ≡ 0 (mod 97) (deterministic, no sampling).
@query(
    "harmonic_centrality_probes",
    oracle="""
WITH li AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
e0 AS MATERIALIZED (
  SELECT a.l_partkey AS u, b.l_partkey AS v
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2),
e AS MATERIALIZED (SELECT u, v FROM e0 UNION ALL SELECT v AS u, u AS v FROM e0),
probes AS MATERIALIZED (
  SELECT u AS s FROM (SELECT DISTINCT u FROM e WHERE u % 97 = 0
                      ORDER BY u LIMIT 5)),
r0 AS MATERIALIZED (SELECT s, s AS node FROM probes),
r1 AS MATERIALIZED (
  SELECT DISTINCT s, node FROM (
    SELECT s, node FROM r0
    UNION ALL
    SELECT r0.s, e.v AS node FROM r0 JOIN e ON e.u = r0.node)),
r2 AS MATERIALIZED (
  SELECT DISTINCT s, node FROM (
    SELECT s, node FROM r1
    UNION ALL
    SELECT r1.s, e.v AS node FROM r1 JOIN e ON e.u = r1.node)),
r3 AS MATERIALIZED (
  SELECT DISTINCT s, node FROM (
    SELECT s, node FROM r2
    UNION ALL
    SELECT r2.s, e.v AS node FROM r2 JOIN e ON e.u = r2.node)),
sizes AS (
  SELECT p.s,
         (SELECT COUNT(*) FROM r1 WHERE r1.s = p.s) - 1 AS c1,
         (SELECT COUNT(*) FROM r2 WHERE r2.s = p.s)
           - (SELECT COUNT(*) FROM r1 WHERE r1.s = p.s) AS c2,
         (SELECT COUNT(*) FROM r3 WHERE r3.s = p.s)
           - (SELECT COUNT(*) FROM r2 WHERE r2.s = p.s) AS c3
  FROM probes p)
SELECT s AS probe,
       CAST(c1 AS BIGINT) AS n_d1, CAST(c2 AS BIGINT) AS n_d2,
       CAST(c3 AS BIGINT) AS n_d3,
       CAST(c1 * 1000000000 + c2 * 500000000 + c3 * 333333333 AS BIGINT)
         AS harmonic_nano
FROM sizes
""",
    audit=False,
)
def harmonic_centrality_probes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from koalas_spark.queries.mining import (
        _bfs_layer_counts,
        copurchase_adjacency,
    )

    e = copurchase_adjacency(spark, sf_dir)
    probes = (
        e.select("u")
        .filter(F.col("u") % 97 == 0)
        .distinct()
        .orderBy("u")
        .limit(5)
        .select(F.col("u").alias("s"))
    )
    # 15 (probe, hop, n) integers of driver state; the helper rotates
    # the hop checkpoints and the adjacency is released here
    counts = _bfs_layer_counts(e, probes.select("s"), hops=3)
    e.unpersist()
    rows = []
    for s in sorted({s for s, _ in counts}):
        r1, r2, r3 = (counts[(s, h)] for h in (1, 2, 3))
        rows.append(
            (
                int(s),
                int(r1 - 1),
                int(r2 - r1),
                int(r3 - r2),
                int(
                    (r1 - 1) * 1000000000
                    + (r2 - r1) * 500000000
                    + (r3 - r2) * 333333333
                ),
            )
        )
    return local_rows(
        spark,
        rows,
        "probe bigint, n_d1 bigint, n_d2 bigint, n_d3 bigint,"
        " harmonic_nano bigint",
    )


# --------------------------------------------------------------------
# 311. quantile-normalization reference — the cross-sample calibrator
# (bioinformatics/feature-store staple): per event type, the value
# distribution collapses to its CENTS histogram first (a bounded
# value domain, the same collapse discipline as the day-domain
# queries), centiles are assigned by exact-integer prefix counts over
# that histogram, and the reference distribution is the across-type
# mean of per-(type, centile) means — all integer micro-unit math.
# The corpus is touched by ONE map-side-combined groupBy; every
# window runs over the bounded (type × cents) domain table.
@query(
    "quantile_normalization_reference",
    oracle="""
WITH h AS (
  SELECT event_type AS t,
         CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents,
         CAST(COUNT(*) AS BIGINT) AS c,
         CAST(SUM(CAST(FLOOR(value * 1000000 + 0.5) AS BIGINT)) AS BIGINT)
           AS s_micro
  FROM events GROUP BY 1, 2),
cum AS (
  SELECT t, cents, c, s_micro,
         CAST(SUM(c) OVER (PARTITION BY t ORDER BY cents
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              AS BIGINT) AS before_c,
         CAST(SUM(c) OVER (PARTITION BY t) AS BIGINT) AS n_t
  FROM h),
cent AS (
  SELECT t,
         CAST((COALESCE(before_c, 0) * 100) // n_t AS INT) AS centile,
         CAST(SUM(c) AS BIGINT) AS c,
         CAST(SUM(s_micro) AS BIGINT) AS s_micro
  FROM cum GROUP BY 1, 2),
tm AS (
  SELECT t, centile,
         CAST(s_micro // c AS BIGINT) AS mean_micro
  FROM cent)
SELECT centile,
       CAST(COUNT(*) AS BIGINT) AS n_types,
       CAST(SUM(mean_micro) // COUNT(*) AS BIGINT) AS ref_micro
FROM tm GROUP BY 1
""",
)
def quantile_normalization_reference(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select(
        F.col("event_type").alias("t"),
        F.floor(F.col("value") * 100 + 0.5).cast("bigint").alias("cents"),
        F.floor(F.col("value") * 1000000 + 0.5).cast("bigint").alias("micro"),
    )
    h = ev.groupBy("t", "cents").agg(
        F.count(F.lit(1)).cast("bigint").alias("c"),
        F.sum("micro").cast("bigint").alias("s_micro"),
    )
    # windows over the bounded (type x cents) histogram domain
    wb = (
        Window.partitionBy("t")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wt = Window.partitionBy("t")
    cum = h.select(
        "t",
        "cents",
        "c",
        "s_micro",
        F.sum("c").over(wb).cast("bigint").alias("before_c"),
        F.sum("c").over(wt).cast("bigint").alias("n_t"),
    )
    cent = cum.groupBy(
        "t",
        F.expr(
            "CAST((COALESCE(before_c, 0) * 100) div n_t AS INT)"
        ).alias("centile"),
    ).agg(
        F.sum("c").cast("bigint").alias("c"),
        F.sum("s_micro").cast("bigint").alias("s_micro"),
    )
    tm = cent.select(
        "t", "centile", F.expr("CAST(s_micro div c AS BIGINT)").alias("mean_micro")
    )
    return tm.groupBy("centile").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_types"),
        F.expr("CAST(SUM(mean_micro) div COUNT(1) AS BIGINT)").alias(
            "ref_micro"
        ),
    )
