"""Round-9 batch-7 additions (SURVEY.md §2 extensions): order-total
consistency audit, top-k churn between time halves, quantity↔return
mutual information, day-of-week ANOVA F-test.

Reference parity note: none of these exist in the reference (its
surface is the frame ops in source/koalas/dataframe.d:73-311); they
extend the data-quality / drift / feature-selection / statistics
shelves under the repo determinism rules (queries/__init__.py
docstring): exact integer cents/ppm, per-value nano-quantized ln
(#221), identical double expression shapes, bounded-domain windows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from koalas_spark.queries import query
from koalas_spark.queries.analytics import _t


# --------------------------------------------------------------------
# 316. order-total consistency audit — the TPC-H ACID-style invariant
# check a warehouse runs after every load: does o_totalprice equal
# the sum of its lineitems' extendedprice·(1−disc)·(1+tax)? Both
# sides quantize to cents per the repo rule (per-row double products
# are IEEE-identical across engines, then FLOOR(x·100+0.5)); one
# orderkey-partitioned join+groupBy (the natural co-partitioning —
# at 100 TB both tables would be bucketed by orderkey and this audit
# is shuffle-free). Output: match/mismatch counts and the worst
# absolute drift in cents.
@query(
    "order_total_consistency_audit",
    oracle="""
WITH ls AS (
  SELECT l_orderkey,
         CAST(SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount)
                             * (1 + l_tax) * 100 + 0.5) AS BIGINT))
              AS BIGINT) AS li_cents
  FROM lineitem GROUP BY 1),
j AS (
  SELECT o.o_orderkey,
         CAST(FLOOR(o.o_totalprice * 100 + 0.5) AS BIGINT) AS o_cents,
         ls.li_cents
  FROM orders o JOIN ls ON o.o_orderkey = ls.l_orderkey)
SELECT CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CASE WHEN o_cents = li_cents THEN 1 ELSE 0 END) AS BIGINT)
         AS n_consistent,
       CAST(SUM(CASE WHEN o_cents = li_cents THEN 1 ELSE 0 END) * 1000000
            // COUNT(*) AS BIGINT) AS consistent_ppm,
       CAST(MAX(ABS(o_cents - li_cents)) AS BIGINT) AS max_abs_diff_cents
FROM j
""",
)
def order_total_consistency_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.floor(
            F.col("l_extendedprice")
            * (1 - F.col("l_discount"))
            * (1 + F.col("l_tax"))
            * 100
            + 0.5
        )
        .cast("bigint")
        .alias("c"),
    )
    ls = li.groupBy("l_orderkey").agg(
        F.sum("c").cast("bigint").alias("li_cents")
    )
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.floor(F.col("o_totalprice") * 100 + 0.5)
        .cast("bigint")
        .alias("o_cents"),
    )
    j = o.join(ls, o.o_orderkey == ls.l_orderkey)
    return j.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum(F.when(F.col("o_cents") == F.col("li_cents"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_consistent"),
        F.expr(
            "CAST(SUM(CASE WHEN o_cents = li_cents THEN 1 ELSE 0 END)"
            " * 1000000 div COUNT(1) AS BIGINT)"
        ).alias("consistent_ppm"),
        F.max(F.abs(F.col("o_cents") - F.col("li_cents")))
        .cast("bigint")
        .alias("max_abs_diff_cents"),
    )


# --------------------------------------------------------------------
# 317. top-k churn between time halves — leaderboard stability: the
# top-20 revenue parts in the first half of the order timeline vs
# the second. Reports set churn (entered/left/stayed) AND rank
# agreement over the stayers via Kendall's tau-a (concordant minus
# discordant pairs over the ≤190-pair bounded domain — exact
# integers, computed by a self-join of the 20-row frame, never the
# corpus). Two corpus groupBys (one per half, filter pushed to scan);
# everything downstream runs on 20-row tables.
@query(
    "topk_churn_halves",
    oracle="""
WITH h1 AS (
  SELECT l_partkey, CAST(SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5)
                                  AS BIGINT)) AS BIGINT) AS cents
  FROM lineitem WHERE l_shipdate < DATE '1998-07-01' GROUP BY 1),
h2 AS (
  SELECT l_partkey, CAST(SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5)
                                  AS BIGINT)) AS BIGINT) AS cents
  FROM lineitem WHERE l_shipdate >= DATE '1998-07-01' GROUP BY 1),
t1 AS (
  SELECT l_partkey, ROW_NUMBER() OVER (ORDER BY cents DESC, l_partkey ASC)
           AS rk
  FROM h1 QUALIFY rk <= 20),
t2 AS (
  SELECT l_partkey, ROW_NUMBER() OVER (ORDER BY cents DESC, l_partkey ASC)
           AS rk
  FROM h2 QUALIFY rk <= 20),
stay AS (
  SELECT t1.l_partkey, t1.rk AS r1, t2.rk AS r2
  FROM t1 JOIN t2 ON t1.l_partkey = t2.l_partkey),
pairs AS (
  SELECT CAST(SUM(CASE WHEN (a.r1 < b.r1 AND a.r2 < b.r2)
                         OR (a.r1 > b.r1 AND a.r2 > b.r2)
                       THEN 1 ELSE 0 END) AS BIGINT) AS conc,
         CAST(SUM(CASE WHEN (a.r1 < b.r1 AND a.r2 > b.r2)
                         OR (a.r1 > b.r1 AND a.r2 < b.r2)
                       THEN 1 ELSE 0 END) AS BIGINT) AS disc
  FROM stay a JOIN stay b ON a.l_partkey < b.l_partkey)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM stay) AS n_stayed,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM t2
        WHERE l_partkey NOT IN (SELECT l_partkey FROM t1)) AS n_entered,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM t1
        WHERE l_partkey NOT IN (SELECT l_partkey FROM t2)) AS n_left,
       pairs.conc, pairs.disc
FROM pairs
""",
    # 20-row top-k frames: non-equi Kendall pair self-join + 1-row
    # churn-count frames cross-joined for the single summary row
    allow={"BroadcastNestedLoopJoin", "GlobalWindow"},
)
def topk_churn_halves(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.col("l_shipdate").cast("date").alias("d"),
        F.floor(F.col("l_extendedprice") * 100 + 0.5)
        .cast("bigint")
        .alias("c"),
    )
    split = F.lit("1998-07-01").cast("date")

    def topk(df: DataFrame) -> DataFrame:
        agg = df.groupBy("l_partkey").agg(
            F.sum("c").cast("bigint").alias("cents")
        )
        wk = Window.orderBy(F.col("cents").desc(), F.col("l_partkey").asc())
        return (
            agg.withColumn("rk", F.row_number().over(wk))
            .filter(F.col("rk") <= 20)
            .select("l_partkey", "rk")
        )

    t1 = topk(li.filter(F.col("d") < split))
    t2 = topk(li.filter(F.col("d") >= split))
    stay = t1.select("l_partkey", F.col("rk").alias("r1")).join(
        t2.select("l_partkey", F.col("rk").alias("r2")), "l_partkey"
    )
    a = stay.alias("a")
    b = stay.alias("b")
    pairs = a.join(b, F.col("a.l_partkey") < F.col("b.l_partkey")).agg(
        F.sum(
            F.when(
                ((F.col("a.r1") < F.col("b.r1")) & (F.col("a.r2") < F.col("b.r2")))
                | ((F.col("a.r1") > F.col("b.r1")) & (F.col("a.r2") > F.col("b.r2"))),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("conc"),
        F.sum(
            F.when(
                ((F.col("a.r1") < F.col("b.r1")) & (F.col("a.r2") > F.col("b.r2")))
                | ((F.col("a.r1") > F.col("b.r1")) & (F.col("a.r2") < F.col("b.r2"))),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("disc"),
    )
    n_stay = stay.agg(F.count(F.lit(1)).cast("bigint").alias("n_stayed"))
    n_ent = (
        t2.join(t1, "l_partkey", "left_anti")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_entered"))
    )
    n_left = (
        t1.join(t2, "l_partkey", "left_anti")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_left"))
    )
    return (
        n_stay.crossJoin(n_ent)
        .crossJoin(n_left)
        .crossJoin(pairs)
        .select("n_stayed", "n_entered", "n_left", "conc", "disc")
    )


# --------------------------------------------------------------------
# 318. quantity↔return mutual information — the information-theoretic
# dependence measure feature selectors rank by (complements the chi²
# selector #250, which only tests independence): I(X;Y) over the
# bounded (quantity bin × returnflag) contingency table. Cell and
# marginal masses are exact integer ppm; each cell's
# ln(p_xy/(p_x·p_y)) is nano-quantized PER CELL (#221) before the
# exact-integer expectation sum. One corpus groupBy; ≤150 cells.
@query(
    "quantity_return_mutual_info",
    oracle="""
WITH cells AS (
  SELECT CAST(l_quantity AS INT) AS x, l_returnflag AS y,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM lineitem GROUP BY 1, 2),
tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM cells),
p AS (
  SELECT x, y, c,
         CAST(SUM(c) OVER (PARTITION BY x) AS BIGINT) AS cx,
         CAST(SUM(c) OVER (PARTITION BY y) AS BIGINT) AS cy
  FROM cells),
w AS (
  SELECT x, y, c, cx, cy, tot.n,
         CAST(FLOOR(LN(CAST(c AS DOUBLE) * CAST(tot.n AS DOUBLE)
                       / (CAST(cx AS DOUBLE) * CAST(cy AS DOUBLE)))
                    * 1000000000 + 0.5) AS BIGINT) AS lr_nano
  FROM p, tot)
SELECT x, y, c AS n_cell, lr_nano,
       CAST(CASE WHEN lr_nano >= 0 THEN (c * lr_nano) // n
                 ELSE -((c * (-lr_nano)) // n) END AS BIGINT)
         AS mi_contrib_nano
FROM w
""",
    # 1-row contingency-total frame + <=150-cell domain cross-join
    allow={"BroadcastNestedLoopJoin"},
)
def quantity_return_mutual_info(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("int").alias("x"),
        F.col("l_returnflag").alias("y"),
    )
    cells = li.groupBy("x", "y").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    # marginals via windows over the <=150-cell contingency domain
    wx = Window.partitionBy("x")
    wy = Window.partitionBy("y")
    tot = cells.agg(F.sum("c").cast("bigint").alias("n"))
    p = cells.select(
        "x",
        "y",
        "c",
        F.sum("c").over(wx).cast("bigint").alias("cx"),
        F.sum("c").over(wy).cast("bigint").alias("cy"),
    ).crossJoin(tot)
    w = p.withColumn(
        "lr_nano",
        F.floor(
            F.log(
                F.expr(
                    "CAST(c AS DOUBLE) * CAST(n AS DOUBLE)"
                    " / (CAST(cx AS DOUBLE) * CAST(cy AS DOUBLE))"
                )
            )
            * 1000000000
            + 0.5
        ).cast("bigint"),
    )
    return w.select(
        "x",
        "y",
        F.col("c").alias("n_cell"),
        "lr_nano",
        F.expr(
            "CAST(CASE WHEN lr_nano >= 0 THEN (c * lr_nano) div n"
            "           ELSE -((c * (-lr_nano)) div n) END AS BIGINT)"
        ).alias("mi_contrib_nano"),
    )


# --------------------------------------------------------------------# 319. day-of-week ANOVA F — does weekday significantly move daily
# revenue? One-way ANOVA over the 7 dow groups of the day-domain
# daily-revenue table (seasonal #244 reports the means; this reports
# the significance). Group moments are exact integers (cents sums as
# BIGINT, squared sums as DECIMAL(38)) over the bounded day domain,
# pivoted to ONE row so every double in the F statistic
# (SSB/(k-1))/(SSW/(n-k)) evaluates in a FIXED left-to-right order —
# a SUM over the 7 group rows would add inexact (>2^53) doubles in
# engine-dependent order (the ab_test #216 pivot discipline). The
# corpus is touched by exactly one map-side-combined groupBy.
_DOW_S = " + ".join(f"s{i}_d" for i in range(7))
_DOW_SS = " + ".join(f"ss{i}_d" for i in range(7))
_DOW_SQN = " + ".join(f"s{i}_d * s{i}_d / n{i}_d" for i in range(7))
_DOW_PIVOT_SQL = ",\n         ".join(
    f"MAX(CASE WHEN dow = {i} THEN n_g END) AS n{i},\n"
    f"         MAX(CASE WHEN dow = {i} THEN s_g END) AS s{i},\n"
    f"         MAX(CASE WHEN dow = {i} THEN ss_g END) AS ss{i}"
    for i in range(7)
)
_DOW_CAST_SQL = ",\n       ".join(
    f"CAST(n{i} AS DOUBLE) AS n{i}_d,\n"
    f"       CAST(CAST(s{i} AS VARCHAR) AS DOUBLE) AS s{i}_d,\n"
    f"       CAST(CAST(ss{i} AS VARCHAR) AS DOUBLE) AS ss{i}_d"
    for i in range(7)
)


@query(
    "dow_anova_f_test",
    oracle=f"""
WITH daily AS (
  SELECT datediff('day', DATE '1995-01-01', o_orderdate) AS d,
         CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
              AS BIGINT) AS x
  FROM orders GROUP BY 1),
g AS (
  SELECT CAST(d % 7 AS INT) AS dow,
         CAST(COUNT(*) AS BIGINT) AS n_g,
         CAST(SUM(x) AS BIGINT) AS s_g,
         SUM(CAST(x AS DECIMAL(38,0)) * x) AS ss_g
  FROM daily GROUP BY 1),
pv AS (
  SELECT {_DOW_PIVOT_SQL},
         CAST(SUM(n_g) AS BIGINT) AS n
  FROM g),
cd AS (
  SELECT n, CAST(n AS DOUBLE) AS n_d,
       {_DOW_CAST_SQL}
  FROM pv)
SELECT n, CAST(7 AS BIGINT) AS k,
       ROUND(((({_DOW_SQN}) - ({_DOW_S}) * ({_DOW_S}) / n_d) / 6.0)
             / ((({_DOW_SS}) - ({_DOW_SQN})) / (n_d - 7.0)), 6) AS f_stat
FROM cd
""",
)
def dow_anova_f_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    from koalas_spark.queries.analytics import daily_revenue_table

    daily = daily_revenue_table(spark, sf_dir)
    g = daily.groupBy(F.expr("CAST(d % 7 AS INT)").alias("dow")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_g"),
        F.sum("x").cast("bigint").alias("s_g"),
        F.sum(F.expr("CAST(x AS DECIMAL(38,0)) * x")).alias("ss_g"),
    )
    pv = g.agg(
        *[
            c
            for i in range(7)
            for c in (
                F.max(F.when(F.col("dow") == i, F.col("n_g"))).alias(f"n{i}"),
                F.max(F.when(F.col("dow") == i, F.col("s_g"))).alias(f"s{i}"),
                F.max(F.when(F.col("dow") == i, F.col("ss_g"))).alias(
                    f"ss{i}"
                ),
            )
        ],
        F.sum("n_g").cast("bigint").alias("n"),
    )
    cd = pv.select(
        "n",
        F.col("n").cast("double").alias("n_d"),
        *[
            c
            for i in range(7)
            for c in (
                F.col(f"n{i}").cast("double").alias(f"n{i}_d"),
                F.col(f"s{i}").cast("string").cast("double").alias(f"s{i}_d"),
                F.col(f"ss{i}")
                .cast("string")
                .cast("double")
                .alias(f"ss{i}_d"),
            )
        ],
    )
    return cd.select(
        "n",
        F.lit(7).cast("bigint").alias("k"),
        F.round(
            F.expr(
                f"((({_DOW_SQN}) - ({_DOW_S}) * ({_DOW_S}) / n_d) / 6.0)"
                f" / ((({_DOW_SS}) - ({_DOW_SQN})) / (n_d - 7.0))"
            ),
            6,
        ).alias("f_stat"),
    )
