"""Round-8 batch-12 additions (SURVEY.md §2 extensions):
association-rule lift/confidence mining, ordered string aggregation,
and a multi-metric pivot.

Reference parity note: none of these exist in the reference (its
surface is the frame ops in source/koalas/dataframe.d:73-311); they
round out the market-basket / reporting surface under the repo
determinism rules (queries/__init__.py docstring): exact integer
reductions and ppm ratios, non-negative integer division only,
deterministic total orderings everywhere a LIMIT or an ordered
aggregation appears.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from koalas_spark.queries import query
from koalas_spark.queries.analytics import _t


# --------------------------------------------------------------------
# 275. association-rule lift — the OTHER canonical market-basket
# metric next to #264's cosine: for part pairs with support >= 3,
# lift = P(u,v) / (P(u) P(v)) = cooc * N / (deg_u * deg_v) and
# confidence(u->v) = cooc / deg_u, both exact integer ppm. Same
# bounded per-order pair enumeration as #264 (baskets are
# business-bounded); N (basket count) is a 1-row frame broadcast
# back. Report = top-10 pairs by (lift, tiebreak) — lift > 1e6 ppm
# means the pair co-occurs MORE than independence predicts, the
# actionable signal.
@query(
    "basket_affinity_lift",
    oracle="""
WITH li AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
nb AS (SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n FROM li),
cooc AS MATERIALIZED (
  SELECT a.l_partkey AS u, b.l_partkey AS v, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2),
deg AS MATERIALIZED (
  SELECT l_partkey AS p, CAST(COUNT(*) AS BIGINT) AS d FROM li GROUP BY 1),
scored AS (
  SELECT cooc.u, cooc.v, cooc.cnt,
         1000000 * cooc.cnt * nb.n // (du.d * dv.d) AS lift_ppm,
         1000000 * cooc.cnt // du.d AS conf_ppm
  FROM cooc
  JOIN deg du ON du.p = cooc.u
  JOIN deg dv ON dv.p = cooc.v
  CROSS JOIN nb
  WHERE cooc.cnt >= 3)
SELECT u, v, cnt AS support,
       CAST(lift_ppm AS BIGINT) AS lift_ppm,
       CAST(conf_ppm AS BIGINT) AS conf_ppm
FROM scored ORDER BY lift_ppm DESC, u, v LIMIT 10
""",
    # 1-row basket-count frame cross-joined onto the scored pairs
    allow={"BroadcastNestedLoopJoin"},
)
def basket_affinity_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = (
        _t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
        .localCheckpoint(eager=False)
    )
    nb = li.agg(
        F.countDistinct("l_orderkey").cast("bigint").alias("n")
    )
    # co-occurrence counts from the once-per-sf_dir materialized pair
    # artifact (mining.copurchase_pair_table); the support filter
    # prunes on the compact artifact scan instead of after a fresh
    # quadratic pair enumeration.
    from koalas_spark.queries.mining import copurchase_pair_table

    cooc = copurchase_pair_table(spark, sf_dir).filter(F.col("cnt") >= 3)
    deg = li.groupBy(F.col("l_partkey").alias("p")).agg(
        F.count(F.lit(1)).cast("bigint").alias("d")
    )
    du = deg.select(F.col("p").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("p").alias("v"), F.col("d").alias("dv"))
    scored = (
        cooc.join(du, "u")
        .join(dv, "v")
        .crossJoin(nb)
        .select(
            "u",
            "v",
            F.col("cnt").alias("support"),
            F.expr("1000000 * cnt * n div (du * dv)")
            .cast("bigint")
            .alias("lift_ppm"),
            F.expr("1000000 * cnt div du").cast("bigint").alias("conf_ppm"),
        )
    )
    return scored.orderBy(F.col("lift_ppm").desc(), "u", "v").limit(10)


# --------------------------------------------------------------------
# 276. ordered string aggregation — the LISTAGG / string_agg report
# shape: each nation's top-3 parts by revenue, comma-joined IN RANK
# ORDER into one display string. The corpus collapses to (nation,
# part) revenue cells first; rank<=3 runs as WindowGroupLimit
# (map-side top-k per nation); the string assembly is a bounded
# sort_array + array_join over <=3-element arrays — Spark has no
# ordered string_agg, so the portable form is collect_list of
# (rank, name) structs sorted post-hoc, which is also the only
# DETERMINISTIC form (concat order under shuffle is not). Output: 25
# rows at any corpus scale.
@query(
    "top_parts_string_agg",
    oracle="""
WITH cell AS (
  SELECT n.n_name, l.l_partkey,
         CAST(SUM(CAST(FLOOR(l.l_extendedprice * 100 + 0.5) AS BIGINT))
           AS BIGINT) AS rev
  FROM lineitem l
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN nation n ON n.n_nationkey = s.s_nationkey
  GROUP BY n.n_name, l.l_partkey),
rk AS (
  SELECT n_name, l_partkey, rev,
         ROW_NUMBER() OVER (PARTITION BY n_name
                            ORDER BY rev DESC, l_partkey) AS r
  FROM cell),
top3 AS (
  SELECT rk.n_name, rk.r, rk.rev, p.p_name
  FROM rk JOIN part p ON p.p_partkey = rk.l_partkey
  WHERE rk.r <= 3)
SELECT n_name,
       string_agg(p_name, ', ' ORDER BY r) AS top_parts,
       CAST(SUM(rev) AS BIGINT) AS top3_rev_cents
FROM top3 GROUP BY n_name
""",
)
def top_parts_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    p = _t(spark, sf_dir, "part")
    cell = (
        l.join(s, l.l_suppkey == s.s_suppkey)
        .join(n, s.s_nationkey == n.n_nationkey)
        .groupBy("n_name", "l_partkey")
        .agg(
            F.sum(
                F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("bigint")
            )
            .cast("bigint")
            .alias("rev")
        )
    )
    w = Window.partitionBy("n_name").orderBy(
        F.col("rev").desc(), F.col("l_partkey")
    )
    top3 = (
        cell.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= 3)
        .join(p, F.col("l_partkey") == p.p_partkey)
        .select("n_name", "r", "rev", "p_name")
    )
    return top3.groupBy("n_name").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("r"), F.col("p_name")))
                ),
                lambda x: x.getField("p_name"),
            ),
            ", ",
        ).alias("top_parts"),
        F.sum("rev").cast("bigint").alias("top3_rev_cents"),
    )


# --------------------------------------------------------------------
# 277. multi-metric pivot — the reporting shape #31's single-metric
# pivot doesn't cover: per nation, 1995 revenue AND order count
# pivoted across the four quarters (8 output measures per row).
# Spark's pivot() with multiple aggregates expands to
# measure-suffixed columns; the oracle states the same thing as
# conditional aggregation — which is ALSO what Catalyst lowers pivot
# to (one pass, map-side combinable), so the plan is a single
# aggregate over the corpus, 25-row output.
@query(
    "pivot_quarter_metrics",
    oracle="""
SELECT n.n_name,
       CAST(SUM(CASE WHEN EXTRACT(QUARTER FROM CAST(o.o_orderdate AS DATE)) = 1
            THEN CAST(FLOOR(o.o_totalprice * 100 + 0.5) AS BIGINT) END)
         AS BIGINT) AS q1_rev,
       CAST(COALESCE(SUM(CASE WHEN EXTRACT(QUARTER FROM CAST(o.o_orderdate AS DATE)) = 1
            THEN 1 END), 0) AS BIGINT) AS q1_orders,
       CAST(SUM(CASE WHEN EXTRACT(QUARTER FROM CAST(o.o_orderdate AS DATE)) = 2
            THEN CAST(FLOOR(o.o_totalprice * 100 + 0.5) AS BIGINT) END)
         AS BIGINT) AS q2_rev,
       CAST(COALESCE(SUM(CASE WHEN EXTRACT(QUARTER FROM CAST(o.o_orderdate AS DATE)) = 2
            THEN 1 END), 0) AS BIGINT) AS q2_orders,
       CAST(SUM(CASE WHEN EXTRACT(QUARTER FROM CAST(o.o_orderdate AS DATE)) = 3
            THEN CAST(FLOOR(o.o_totalprice * 100 + 0.5) AS BIGINT) END)
         AS BIGINT) AS q3_rev,
       CAST(COALESCE(SUM(CASE WHEN EXTRACT(QUARTER FROM CAST(o.o_orderdate AS DATE)) = 3
            THEN 1 END), 0) AS BIGINT) AS q3_orders,
       CAST(SUM(CASE WHEN EXTRACT(QUARTER FROM CAST(o.o_orderdate AS DATE)) = 4
            THEN CAST(FLOOR(o.o_totalprice * 100 + 0.5) AS BIGINT) END)
         AS BIGINT) AS q4_rev,
       CAST(COALESCE(SUM(CASE WHEN EXTRACT(QUARTER FROM CAST(o.o_orderdate AS DATE)) = 4
            THEN 1 END), 0) AS BIGINT) AS q4_orders
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON n.n_nationkey = c.c_nationkey
WHERE EXTRACT(YEAR FROM CAST(o.o_orderdate AS DATE)) = 1995
GROUP BY n.n_name
""",
)
def pivot_quarter_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    base = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(n, c.c_nationkey == n.n_nationkey)
        .filter(F.year(F.col("o_orderdate").cast("date")) == 1995)
        .select(
            "n_name",
            F.quarter(F.col("o_orderdate").cast("date")).alias("q"),
            F.floor(F.col("o_totalprice") * 100 + 0.5)
            .cast("bigint")
            .alias("cents"),
        )
    )
    piv = (
        base.groupBy("n_name")
        .pivot("q", [1, 2, 3, 4])
        .agg(
            F.sum("cents").alias("rev"),
            F.count(F.lit(1)).alias("orders"),
        )
    )
    return piv.select(
        "n_name",
        *[
            col
            for q in (1, 2, 3, 4)
            for col in (
                F.col(f"{q}_rev").cast("bigint").alias(f"q{q}_rev"),
                F.coalesce(F.col(f"{q}_orders"), F.lit(0))
                .cast("bigint")
                .alias(f"q{q}_orders"),
            )
        ],
    )
