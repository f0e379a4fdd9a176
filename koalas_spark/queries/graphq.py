"""Graph analytics queries (§2.2 extension): link-analysis ranking
over a trade graph derived from the fact tables.

Reference parity note: the reference (blachlylab/koalas) has no graph
layer; this extends the engine the same way operators/graph.py's
connected components does, and follows the repo-wide determinism rule:
iterative numeric fixpoints run in SCALED INTEGER arithmetic so sums
are order-independent and the DuckDB oracle reproduces every rank
bit-for-bit (a double-valued PageRank would depend on aggregation
order — not reproducible across engines or cluster layouts).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from koalas_spark.queries import query
from koalas_spark.queries.analytics import _t

_SCALE = 1_000_000_000_000  # rank fixed-point: 1.0 == 10^12
_PSCALE = 1_000_000  # edge-probability fixed-point: 1.0 == 10^6


def _iter_sql(prev: str, out: str) -> str:
    return f"""
{out} AS (
  SELECT nn.n_nationkey AS node,
         (15 * {_SCALE}) // (100 * n.n)
         + (85 * COALESCE(s.m, 0)) // 100 AS r
  FROM nation nn CROSS JOIN n
  LEFT JOIN (SELECT p.v, SUM(({prev}.r * p.p) // {_PSCALE}) AS m
             FROM p JOIN {prev} ON {prev}.node = p.u
             GROUP BY p.v) s
    ON s.v = nn.n_nationkey)"""


# --------------------------------------------------------------------
# 152. PageRank over the supplier-nation -> customer-nation trade
# graph (edge weight = lineitem count), 3 unrolled iterations, damping
# 0.85, dangling mass dropped (documented simplification — ranks need
# not sum to 1). Plan shape at 100 TB: the EXPENSIVE part is the edge
# aggregate — one fact-fact shuffle (lineitem joins orders on
# orderkey; AQE picks the strategy) with the customer/supplier
# nation maps broadcast, collapsing immediately to a <= N^2-row edge
# list. Every iteration after that is arithmetic on the tiny
# node/edge frames with the rank vector BROADCAST into the join — the
# corpus is never re-scanned and nothing iterates over big data. The
# fixpoint math is exact fixed-point: p_uv = w*10^6 div out_u
# (precomputed once), r' = 0.15*S div N + 0.85 * sum((r*p) div 10^6);
# integer sums are associative, so any partitioning gives identical
# ranks, and r*p <= 10^12 * 10^6 stays well inside int64.
@query(
    "pagerank_nations",
    oracle=f"""
WITH e AS (
  SELECT s.s_nationkey AS u, c.c_nationkey AS v, COUNT(*) AS w
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  GROUP BY 1, 2),
p AS (SELECT u, v,
             (w * {_PSCALE}) // SUM(w) OVER (PARTITION BY u) AS p
      FROM e),
n AS (SELECT COUNT(*) AS n FROM nation),
r0 AS (SELECT n_nationkey AS node, {_SCALE} // n.n AS r
       FROM nation CROSS JOIN n),
{_iter_sql("r0", "r1")},
{_iter_sql("r1", "r2")},
{_iter_sql("r2", "r3")}
SELECT nn.n_name AS nation, CAST(r3.r AS BIGINT) AS rank_scaled
FROM r3 JOIN nation nn ON r3.node = nn.n_nationkey
""",
    # 1-row node-count frame cross-joined onto the 25-row nation frame
    allow={"BroadcastNestedLoopJoin"},
)
def pagerank_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")

    edges = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy(
            F.col("s_nationkey").alias("u"), F.col("c_nationkey").alias("v")
        )
        .agg(F.count(F.lit(1)).alias("w"))
    )
    p = edges.select(
        "u",
        "v",
        F.expr(f"(w * {_PSCALE}) div (sum(w) over (partition by u))").alias(
            "p"
        ),
    ).localCheckpoint(eager=False)  # freeze the edge pass: 3 consumers

    n = nation.agg(F.count(F.lit(1)).alias("n"))
    ranks = nation.crossJoin(n).select(
        F.col("n_nationkey").alias("node"), F.expr(f"{_SCALE} div n").alias("r")
    )
    for _ in range(3):
        contrib = (
            p.join(F.broadcast(ranks), p.u == F.col("node"))
            .select("v", F.expr(f"(r * p) div {_PSCALE}").alias("m"))
            .groupBy("v")
            .agg(F.sum("m").alias("m"))
        )
        ranks = (
            nation.crossJoin(n)
            .join(F.broadcast(contrib), F.col("n_nationkey") == F.col("v"), "left")
            .select(
                F.col("n_nationkey").alias("node"),
                (
                    F.expr(f"(15 * {_SCALE}) div (100 * n)")
                    + F.expr("(85 * coalesce(m, 0)) div 100")
                ).alias("r"),
            )
        )
    return ranks.join(nation, ranks.node == nation.n_nationkey).select(
        F.col("n_name").alias("nation"), F.col("r").alias("rank_scaled")
    )
