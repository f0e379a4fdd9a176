"""Round-9 batch-24 additions (SURVEY.md §2 extensions): SAX symbolic
transitions, Burrows' delta stylometry, per-customer order-gap
arrays, and brand price percentiles.

Reference parity note: not in the reference (its surface is the frame
ops in source/koalas/dataframe.d:73-311); these extend the
time-series/corpus/array/window shelves under the repo determinism
rules (queries/__init__.py docstring): per-value nano quantization
before any cross-row double sum, exact integer array math, and
standard-SQL window semantics (percent_rank/cume_dist agree by
definition across engines).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from koalas_spark.queries import query
from koalas_spark.queries.analytics import _t, daily_revenue_table


# --------------------------------------------------------------------
# 367. SAX symbolic transition matrix of daily revenue — the symbolic
# discretization used to index time series at scale (4 symbols at the
# N(0,1) quartile breakpoints +/-0.6745 and 0): the day series
# z-scores against exact global moments, each day maps to a symbol by
# THREE double comparisons (identical shapes — m + bp*sd on both
# engines), and the 4x4 transition counts come from one positional
# LAG over the bounded day domain. One corpus groupBy total (the
# shared daily artifact).
_SAX_SYM = (
    "CASE WHEN x_d < m - 0.6745 * sd THEN 0"
    " WHEN x_d < m THEN 1"
    " WHEN x_d < m + 0.6745 * sd THEN 2"
    " ELSE 3 END"
)


@query(
    "sax_transition_daily",
    oracle=f"""
WITH daily AS MATERIALIZED (
  SELECT datediff('day', DATE '1995-01-01', o_orderdate) AS d,
         CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
              AS BIGINT) AS x
  FROM orders GROUP BY 1),
g AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS s1,
         CAST(CAST(SUM(CAST(x AS DECIMAL(38,0)) * x) AS VARCHAR)
              AS DOUBLE) AS ss_d
  FROM daily),
ms AS (
  SELECT CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS m,
         SQRT((ss_d - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
                      / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE)) AS sd
  FROM g),
sym AS (
  SELECT d, CAST({_SAX_SYM} AS INT) AS s
  FROM (SELECT d, CAST(x AS DOUBLE) AS x_d FROM daily) t, ms),
tr AS (
  SELECT LAG(s) OVER (ORDER BY d) AS s_from, s AS s_to FROM sym)
SELECT s_from, s_to, CAST(COUNT(*) AS BIGINT) AS n
FROM tr WHERE s_from IS NOT NULL
GROUP BY 1, 2 ORDER BY 1, 2
""",
    # 1-row moment frame cross-joined onto the bounded day table
    allow={"BroadcastNestedLoopJoin", "GlobalWindow"},
)
def sax_transition_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = daily_revenue_table(spark, sf_dir)
    g = daily.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("s1"),
        F.sum(F.expr("CAST(x AS DECIMAL(38,0)) * x"))
        .cast("string")
        .cast("double")
        .alias("ss_d"),
    )
    ms = g.select(
        F.expr("CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)").alias("m"),
        F.expr(
            "SQRT((ss_d - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)"
            " / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE))"
        ).alias("sd"),
    )
    sym = (
        daily.select("d", F.col("x").cast("double").alias("x_d"))
        .crossJoin(ms)
        .select("d", F.expr(f"CAST({_SAX_SYM} AS INT)").alias("s"))
    )
    # domain-bounded window (~2.4k day rows)
    tr = sym.select(
        F.lag("s").over(Window.orderBy("d")).alias("s_from"),
        F.col("s").alias("s_to"),
    ).filter(F.col("s_from").isNotNull())
    return (
        tr.groupBy("s_from", "s_to")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .orderBy("s_from", "s_to")
    )


# --------------------------------------------------------------------
# 368. Burrows' delta between ingest sources — the stylometric
# distance used for authorship/provenance auditing: relative
# frequencies of the corpus top-30 tokens are nano-quantized PER CELL
# (#221 — the per-source n_s denominators differ, so frequencies are
# only portable as quantized integers), token-level mean/std across
# the 20 sources come from exact integer sums, z-scores and |za - zb|
# are identical-shape doubles quantized to micros per token before
# the final exact mean over 30 tokens. 190 source pairs out; the
# corpus is tokenized once.
@query(
    "burrows_delta_sources",
    oracle="""
WITH tok AS (
  SELECT source, unnest(string_split_regex(TRIM(text), '\\s+')) AS token
  FROM documents),
st AS MATERIALIZED (
  SELECT source, token, CAST(COUNT(*) AS BIGINT) AS c
  FROM tok GROUP BY 1, 2),
top AS MATERIALIZED (
  SELECT token FROM (
    SELECT token, SUM(c) AS tc,
           ROW_NUMBER() OVER (ORDER BY SUM(c) DESC, token ASC) AS rk
    FROM st GROUP BY token) t
  WHERE rk <= 30),
ns AS MATERIALIZED (
  SELECT source, CAST(SUM(c) AS BIGINT) AS n_s FROM st GROUP BY 1),
q AS MATERIALIZED (
  SELECT ns.source, top.token,
         CAST(FLOOR(1000000000 * CAST(COALESCE(st.c, 0) AS DOUBLE)
                    / CAST(ns.n_s AS DOUBLE)) AS BIGINT) AS qf
  FROM ns CROSS JOIN top
  LEFT JOIN st ON st.source = ns.source AND st.token = top.token),
tm AS MATERIALIZED (
  SELECT token, CAST(COUNT(*) AS BIGINT) AS k,
         CAST(SUM(qf) AS BIGINT) AS sq,
         CAST(CAST(SUM(CAST(qf AS DECIMAL(38,0)) * qf) AS VARCHAR)
              AS DOUBLE) AS sqq_d
  FROM q GROUP BY token),
z AS MATERIALIZED (
  SELECT q.source, q.token,
         (CAST(q.qf AS DOUBLE) - CAST(tm.sq AS DOUBLE)
                                 / CAST(tm.k AS DOUBLE))
         / SQRT((tm.sqq_d - CAST(tm.sq AS DOUBLE) * CAST(tm.sq AS DOUBLE)
                            / CAST(tm.k AS DOUBLE))
                / CAST(tm.k AS DOUBLE)) AS zv
  FROM q JOIN tm ON q.token = tm.token),
pairs AS (
  SELECT a.source AS src_a, b.source AS src_b,
         CAST(FLOOR(1000000 * ABS(a.zv - b.zv)) AS BIGINT) AS d_micro
  FROM z a JOIN z b ON a.token = b.token AND a.source < b.source)
SELECT src_a, src_b,
       CAST(SUM(d_micro) // COUNT(*) AS BIGINT) AS delta_micro
FROM pairs GROUP BY 1, 2 ORDER BY 1, 2
""",
    # 30-row top-token frame cross-joined onto the 20 sources
    allow={"BroadcastNestedLoopJoin"},
)
def burrows_delta_sources(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from koalas_spark.functions.textfn import tokens

    d = _t(spark, sf_dir, "documents")
    st = (
        d.select(
            "source", F.explode(tokens(F.col("text"))).alias("token")
        )
        .groupBy("source", "token")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .localCheckpoint()
    )
    top = (
        st.groupBy("token")
        .agg(F.sum("c").alias("tc"))
        .orderBy(F.col("tc").desc(), F.col("token").asc())
        .limit(30)
        .select("token")
    )
    ns = st.groupBy("source").agg(
        F.sum("c").cast("bigint").alias("n_s")
    )
    q = (
        ns.crossJoin(top)
        .join(st, ["source", "token"], "left")
        .select(
            "source",
            "token",
            F.floor(
                1000000000
                * F.expr(
                    "CAST(COALESCE(c, 0) AS DOUBLE)"
                    " / CAST(n_s AS DOUBLE)"
                )
            )
            .cast("bigint")
            .alias("qf"),
        )
    )
    tm = q.groupBy("token").agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("qf").cast("bigint").alias("sq"),
        F.sum(F.expr("CAST(qf AS DECIMAL(38,0)) * qf"))
        .cast("string")
        .cast("double")
        .alias("sqq_d"),
    )
    z = q.join(tm, "token").select(
        "source",
        "token",
        F.expr(
            "(CAST(qf AS DOUBLE) - CAST(sq AS DOUBLE) / CAST(k AS DOUBLE))"
            " / SQRT((sqq_d - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE)"
            "         / CAST(k AS DOUBLE)) / CAST(k AS DOUBLE))"
        ).alias("zv"),
    )
    a = z.select(
        F.col("token"), F.col("source").alias("src_a"), F.col("zv").alias("za")
    )
    b = z.select(
        F.col("token"), F.col("source").alias("src_b"), F.col("zv").alias("zb")
    )
    pairs = a.join(b, "token").filter(
        F.col("src_a") < F.col("src_b")
    ).select(
        "src_a",
        "src_b",
        F.floor(1000000 * F.abs(F.col("za") - F.col("zb")))
        .cast("bigint")
        .alias("d_micro"),
    )
    return (
        pairs.groupBy("src_a", "src_b")
        .agg(
            F.expr("CAST(SUM(d_micro) div COUNT(*) AS BIGINT)").alias(
                "delta_micro"
            )
        )
        .orderBy("src_a", "src_b")
    )


# --------------------------------------------------------------------
# 369. per-customer order-gap arrays — the array-function showcase
# with real semantics (inter-purchase cadence per probe customer):
# order days collect per customer, array_sort makes the collect_list
# order-independent (collect order is nondeterministic under
# parallelism — sorting restores determinism), and the max gap is
# exact integer zip_with math over adjacent elements. Probe sample
# (custkey % 997 = 0) bounds the output, not the computation shape.
@query(
    "customer_order_gap_arrays",
    oracle="""
WITH probe AS (
  SELECT o_custkey AS c,
         datediff('day', DATE '1995-01-01', o_orderdate) AS d
  FROM orders WHERE o_custkey % 997 = 0),
arr AS (
  SELECT c, list(d ORDER BY d) AS ds,
         CAST(COUNT(*) AS BIGINT) AS n_orders
  FROM probe GROUP BY c)
SELECT c AS custkey, n_orders,
       CAST(ds[1] AS BIGINT) AS first_day,
       CAST(ds[-1] AS BIGINT) AS last_day,
       CAST(list_max(list_transform(range(2, CAST(n_orders AS INT) + 1),
                                    i -> ds[i] - ds[i - 1]))
            AS BIGINT) AS max_gap_days
FROM arr WHERE n_orders >= 2 ORDER BY custkey
""",
)
def customer_order_gap_arrays(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_custkey") % 997 == 0
    )
    probe = o.select(
        F.col("o_custkey").alias("c"),
        F.datediff(
            F.col("o_orderdate").cast("date"),
            F.lit("1995-01-01").cast("date"),
        ).alias("d"),
    )
    arr = probe.groupBy("c").agg(
        F.array_sort(F.collect_list("d")).alias("ds"),
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
    )
    return (
        arr.filter(F.col("n_orders") >= 2)
        .select(
            F.col("c").alias("custkey"),
            "n_orders",
            F.element_at("ds", 1).cast("bigint").alias("first_day"),
            F.element_at("ds", -1).cast("bigint").alias("last_day"),
            F.array_max(
                F.zip_with(
                    F.slice(
                        F.col("ds"), 2, F.size("ds") - 1
                    ),
                    F.slice(
                        F.col("ds"), 1, F.size("ds") - 1
                    ),
                    lambda x, y: x - y,
                )
            )
            .cast("bigint")
            .alias("max_gap_days"),
        )
        .orderBy("custkey")
    )


# --------------------------------------------------------------------
# 370. brand price percentiles — percent_rank and cume_dist of probe
# parts' retail price WITHIN their brand (the SQL-standard rank
# family #68's ntile doesn't cover): windows partition by brand (25
# keys — key-partitioned, never a global single partition), rank
# semantics under ties are SQL-defined so both engines agree, and the
# ratios (rank-1)/(n-1), cum/n are exact rationals evaluated
# identically. Probe filter applies AFTER the window (the percentile
# must see the whole brand).
@query(
    "brand_price_percentile",
    oracle="""
SELECT p_partkey, brand, price_cents,
       ROUND(pr, 6) AS pct_rank, ROUND(cd, 6) AS cume
FROM (
  SELECT p_partkey, p_brand AS brand,
         CAST(FLOOR(p_retailprice * 100 + 0.5) AS BIGINT)
           AS price_cents,
         PERCENT_RANK() OVER (PARTITION BY p_brand
                              ORDER BY p_retailprice) AS pr,
         CUME_DIST() OVER (PARTITION BY p_brand
                           ORDER BY p_retailprice) AS cd
  FROM part) t
WHERE p_partkey % 499 = 0 ORDER BY p_partkey
""",
)
def brand_price_percentile(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    p = _t(spark, sf_dir, "part")
    w = Window.partitionBy("p_brand").orderBy("p_retailprice")
    ranked = p.select(
        "p_partkey",
        F.col("p_brand").alias("brand"),
        F.floor(F.col("p_retailprice") * 100 + 0.5)
        .cast("bigint")
        .alias("price_cents"),
        F.percent_rank().over(w).alias("pr"),
        F.cume_dist().over(w).alias("cd"),
    )
    return (
        ranked.filter(F.col("p_partkey") % 499 == 0)
        .select(
            "p_partkey",
            "brand",
            "price_cents",
            F.round(F.col("pr"), 6).alias("pct_rank"),
            F.round(F.col("cd"), 6).alias("cume"),
        )
        .orderBy("p_partkey")
    )
