"""Round-11 batch-2 additions (SURVEY.md §2 extensions): two-sample
Cramér–von Mises, rich-club coefficients, split-conformal prediction
intervals, and a Heaps'-law vocabulary-growth fit.

Reference parity note: none of these exist in the reference (its
surface is the frame ops in source/koalas/dataframe.d:73-311); they
extend the statistics / graph / ML-eval / corpus shelves under the
repo determinism rules (queries/__init__.py docstring): exact
integer / DECIMAL(38) reductions, value-DOMAIN histogram collapses
before any window, #221 nano-ln quantization, #220 md5 coins, and
single identical-shape double exits (VARCHAR hop for DECIMALs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from koalas_spark.queries import query
from koalas_spark.queries.analytics import _t


# --------------------------------------------------------------------
# 448. two-sample Cramér–von Mises on the 1997-vs-1998 quantity
# distributions — completes the distribution-distance triad: KS #260
# reports the WORST CDF gap, Wasserstein #386 how far mass moved, CvM
# the INTEGRATED squared gap (sensitive to many small shifts KS
# misses). On the bounded 1..50 quantity domain:
#   omega^2 = sum_v (a_v + b_v) * (A_v*m - B_v*n)^2 / (n*m*(n+m)^2)
# with A/B the prefix counts — the numerator is an exact DECIMAL(38)
# sum over the value domain ((A*m)^2 ~ 1.3e27 at sf1, x counts, well
# inside 38 digits), the denominator one identical-shape double.
# Corpus work: one map-side-combined (quantity, year) groupBy; the
# prefix windows run over the 50-cell domain table.
@query(
    "cramer_von_mises_quantity_years",
    oracle="""
WITH s AS (
  SELECT CAST(FLOOR(l_quantity + 0.5) AS BIGINT) AS q,
         EXTRACT(year FROM l_shipdate) AS yr
  FROM lineitem WHERE EXTRACT(year FROM l_shipdate) IN (1997, 1998)),
h AS (
  SELECT q,
         CAST(SUM(CASE WHEN yr = 1997 THEN 1 ELSE 0 END) AS BIGINT) AS a,
         CAST(SUM(CASE WHEN yr = 1998 THEN 1 ELSE 0 END) AS BIGINT) AS b
  FROM s GROUP BY q),
c AS (
  SELECT q, a, b,
         CAST(SUM(a) OVER (ORDER BY q) AS BIGINT) AS ca,
         CAST(SUM(b) OVER (ORDER BY q) AS BIGINT) AS cb,
         CAST(SUM(a) OVER () AS BIGINT) AS n,
         CAST(SUM(b) OVER () AS BIGINT) AS m
  FROM h),
agg AS (
  SELECT MAX(n) AS n, MAX(m) AS m,
         CAST(SUM((a + b)
              * (CAST(ca AS DECIMAL(38,0)) * m - CAST(cb AS DECIMAL(38,0)) * n)
              * (CAST(ca AS DECIMAL(38,0)) * m - CAST(cb AS DECIMAL(38,0)) * n))
           AS DECIMAL(38,0)) AS num
  FROM c)
SELECT n AS n_1997, m AS n_1998,
       ROUND(CAST(CAST(num AS VARCHAR) AS DOUBLE)
             / (CAST(n AS DOUBLE) * m * (n + m) * (n + m)), 6) AS omega2
FROM agg
""",
    allow={"GlobalWindow"},
)
def cramer_von_mises_quantity_years(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select(
        F.floor(F.col("l_quantity") + 0.5).cast("bigint").alias("q"),
        F.year("l_shipdate").alias("yr"),
    ).filter(F.col("yr").isin(1997, 1998))
    h = li.groupBy("q").agg(
        F.sum(F.when(F.col("yr") == 1997, 1).otherwise(0))
        .cast("bigint")
        .alias("a"),
        F.sum(F.when(F.col("yr") == 1998, 1).otherwise(0))
        .cast("bigint")
        .alias("b"),
    )
    wq = Window.orderBy("q").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.partitionBy()
    c = h.select(
        "q",
        "a",
        "b",
        F.sum("a").over(wq).cast("bigint").alias("ca"),
        F.sum("b").over(wq).cast("bigint").alias("cb"),
        F.sum("a").over(wall).cast("bigint").alias("n"),
        F.sum("b").over(wall).cast("bigint").alias("m"),
    )
    gap = (
        F.col("ca").cast("decimal(38,0)") * F.col("m")
        - F.col("cb").cast("decimal(38,0)") * F.col("n")
    )
    agg = c.agg(
        F.max("n").alias("n"),
        F.max("m").alias("m"),
        F.sum((F.col("a") + F.col("b")) * gap * gap)
        .cast("decimal(38,0)")
        .alias("num"),
    )
    return agg.select(
        F.col("n").alias("n_1997"),
        F.col("m").alias("n_1998"),
        F.round(
            F.col("num").cast("string").cast("double")
            / (
                F.col("n").cast("double")
                * F.col("m")
                * (F.col("n") + F.col("m"))
                * (F.col("n") + F.col("m"))
            ),
            6,
        ).alias("omega2"),
    )


# --------------------------------------------------------------------
# 449. rich-club coefficients on the co-purchase graph — "do the hubs
# trade among themselves": for degree thresholds k in {4,8,16,32},
# phi(k) = 2*E_k / (N_k*(N_k-1)) where N_k = nodes with deg > k and
# E_k = edges with BOTH endpoints deg > k. NO subgraph is ever
# materialized: both counts come from suffix sums over two bounded
# DOMAIN histograms — the degree histogram and the per-edge
# min(deg_u, deg_v) histogram — probed by the 4-row threshold dim
# (broadcast nested loop over a literal frame, the #56 device).
# Corpus work: the deg build + one edge-to-degree join pass.
@query(
    "rich_club_copurchase",
    oracle="""
WITH li AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
e AS MATERIALIZED (
  SELECT a.l_partkey AS u, b.l_partkey AS v
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2),
deg AS MATERIALIZED (
  SELECT x, CAST(COUNT(*) AS BIGINT) AS dg FROM (
    SELECT u AS x FROM e UNION ALL SELECT v FROM e) t GROUP BY x),
dh AS (SELECT dg, CAST(COUNT(*) AS BIGINT) AS c FROM deg GROUP BY dg),
em AS (
  SELECT LEAST(du.dg, dv.dg) AS mind, CAST(COUNT(*) AS BIGINT) AS c
  FROM e JOIN deg du ON du.x = e.u JOIN deg dv ON dv.x = e.v
  GROUP BY 1),
ks AS (SELECT unnest([4, 8, 16, 32]) AS k),
agg AS (
  SELECT ks.k,
         CAST((SELECT COALESCE(SUM(c), 0) FROM dh WHERE dg > ks.k)
           AS BIGINT) AS n_nodes,
         CAST((SELECT COALESCE(SUM(c), 0) FROM em WHERE mind > ks.k)
           AS BIGINT) AS n_edges
  FROM ks)
SELECT CAST(k AS BIGINT) AS k, n_nodes, n_edges,
       CAST(CASE WHEN n_nodes >= 2 THEN
         (2 * n_edges * 1000000) // (n_nodes * (n_nodes - 1))
         ELSE 0 END AS BIGINT) AS phi_ppm
FROM agg
""",
    allow={"BroadcastNestedLoopJoin"},
)
def rich_club_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    from koalas_spark.queries.mining import (
        _copurchase_edge_set,
        copurchase_degree_table,
    )

    from koalas_spark.queries.mining import bcast_v

    e = _copurchase_edge_set(spark, sf_dir)
    # degrees from the materialized |V|-sized artifact (round 12) —
    # the 2|E|-row degree shuffle no longer re-runs per consumer
    deg = copurchase_degree_table(spark, sf_dir)
    dh = deg.groupBy("dg").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    du = deg.select(F.col("x").alias("u"), F.col("dg").alias("du"))
    dv = deg.select(F.col("x").alias("v"), F.col("dg").alias("dv"))
    # r14 (guide §3.1, the jaccard-family r13 treatment): both degree
    # lookups are |V|-sized — under the bcast_v gate the |E|-row edge
    # frame STREAMS through them with no exchange (was: e sort-merge-
    # shuffled on u, then again on v). Above the gate the shuffle
    # joins return unchanged.
    em = (
        e.join(bcast_v(du, sf_dir), "u")
        .join(bcast_v(dv, sf_dir), "v")
        .groupBy(F.least("du", "dv").alias("mind"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    ks = spark.createDataFrame([(4,), (8,), (16,), (32,)], "k bigint")
    nn = (
        F.broadcast(ks)
        .join(dh, dh["dg"] > ks["k"], "left")
        .groupBy("k")
        .agg(F.coalesce(F.sum("c"), F.lit(0)).cast("bigint").alias("n_nodes"))
    )
    ne = (
        F.broadcast(ks)
        .join(em, em["mind"] > ks["k"], "left")
        .groupBy("k")
        .agg(F.coalesce(F.sum("c"), F.lit(0)).cast("bigint").alias("n_edges"))
    )
    agg = nn.join(ne, "k")
    return agg.select(
        "k",
        "n_nodes",
        "n_edges",
        F.when(
            F.col("n_nodes") >= 2,
            F.expr(
                "CAST((2 * n_edges * 1000000)"
                " div (n_nodes * (n_nodes - 1)) AS BIGINT)"
            ),
        )
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("phi_ppm"),
    )


# --------------------------------------------------------------------
# 450. split-conformal prediction interval for order value — the
# distribution-free ML-eval wrapper every regression deployment
# should ship (finite-sample coverage guarantee with NO model
# assumptions): md5-coin calibration/test split (#220 device, p=1/2),
# predictor = per-priority calibration mean (exact integer cents),
# q_hat = the ceil(0.9*(n_cal+1))-th smallest absolute residual via a
# prefix sum over the residual-cents DOMAIN histogram (#227's
# no-corpus-sort discipline), then the TEST-set empirical coverage of
# pred +- q_hat in exact ppm — the number that must land near 900000
# for the guarantee to be honest (validity check, not a tautology:
# test residuals never touch the quantile).
@query(
    "conformal_interval_order_value",
    oracle="""
WITH o AS (
  SELECT o_custkey,
         CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
         o_orderpriority AS pr,
         substr(md5('conf:' || CAST(o_orderkey AS VARCHAR)), 1, 1)
           < '8' AS is_cal
  FROM orders),
pred AS (
  SELECT pr, CAST(SUM(cents) // COUNT(*) AS BIGINT) AS p
  FROM o WHERE is_cal GROUP BY pr),
res AS (
  SELECT o.is_cal, ABS(o.cents - pred.p) AS r
  FROM o JOIN pred ON pred.pr = o.pr),
nc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_cal FROM res WHERE is_cal),
rh AS (
  SELECT r, CAST(COUNT(*) AS BIGINT) AS c
  FROM res WHERE is_cal GROUP BY r),
cum AS (
  SELECT r, CAST(SUM(c) OVER (ORDER BY r) AS BIGINT) AS cr FROM rh),
qh AS (
  SELECT MIN(r) AS q_hat FROM cum, nc
  WHERE cr >= CAST(CEIL(0.9 * (nc.n_cal + 1)) AS BIGINT)),
tst AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_test,
         CAST(SUM(CASE WHEN res.r <= qh.q_hat THEN 1 ELSE 0 END)
           AS BIGINT) AS n_cov
  FROM res, qh WHERE NOT is_cal)
SELECT nc.n_cal, tst.n_test,
       CAST(qh.q_hat AS BIGINT) AS q_hat_cents,
       CAST(tst.n_cov * 1000000 // tst.n_test AS BIGINT) AS coverage_ppm
FROM nc, qh, tst
""",
    # 1-row n_cal/q_hat/test frames crossed; prefix over the
    # residual-cents DOMAIN histogram
    allow={"BroadcastNestedLoopJoin", "GlobalWindow"},
)
def conformal_interval_order_value(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    o = _t(spark, sf_dir, "orders").select(
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint").alias(
            "cents"
        ),
        F.col("o_orderpriority").alias("pr"),
        (
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("conf:"), F.col("o_orderkey").cast("string")
                    )
                ),
                1,
                1,
            )
            < "8"
        ).alias("is_cal"),
    )
    pred = (
        o.filter("is_cal")
        .groupBy("pr")
        .agg(
            F.expr("CAST(SUM(cents) div COUNT(*) AS BIGINT)").alias("p")
        )
    )
    res = o.join(F.broadcast(pred), "pr").select(
        "is_cal", F.abs(F.col("cents") - F.col("p")).alias("r")
    )
    nc = res.filter("is_cal").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_cal")
    )
    rh = (
        res.filter("is_cal")
        .groupBy("r")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    cum = rh.select(
        "r",
        F.sum("c")
        .over(Window.orderBy("r").rowsBetween(Window.unboundedPreceding, 0))
        .cast("bigint")
        .alias("cr"),
    )
    qh = (
        cum.crossJoin(nc)
        .filter(
            F.col("cr")
            >= F.ceil(0.9 * (F.col("n_cal") + 1)).cast("bigint")
        )
        .agg(F.min("r").alias("q_hat"))
    )
    tst = (
        res.filter(~F.col("is_cal"))
        .crossJoin(qh)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_test"),
            F.sum(F.when(F.col("r") <= F.col("q_hat"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_cov"),
        )
    )
    return (
        nc.crossJoin(qh)
        .crossJoin(tst)
        .select(
            "n_cal",
            "n_test",
            F.col("q_hat").cast("bigint").alias("q_hat_cents"),
            F.expr(
                "CAST(n_cov * 1000000 div n_test AS BIGINT)"
            ).alias("coverage_ppm"),
        )
    )


# --------------------------------------------------------------------
# 451. Heaps'-law vocabulary-growth fit — V(N) ~ K * N^beta, the
# corpus-planning curve ("how much NEW vocabulary will 10x more data
# bring"), companion to Zipf #163 and the novelty curve #193. Growth
# points at power-of-2 doc-rank checkpoints: V(c) = tokens whose
# FIRST document (min doc_id) is <= checkpoint c, N(c) = total tokens
# in docs <= c — both from range probes of the 14-row checkpoint dim
# against two bounded aggregates (first-doc histogram via one
# (token -> min doc) collapse; per-doc token counts), NEVER a prefix
# window over the doc stream. beta by exact-integer OLS on the
# (ln N, ln V) points: lns nano-quantized (#221), slope =
# (n*Sxy - Sx*Sy) / (n*Sxx - Sx^2) in DECIMAL(38), one double exit.
@query(
    "heaps_law_fit",
    oracle="""
WITH tok AS (
  SELECT doc_id, unnest(string_split_regex(TRIM(text), '\\s+')) AS token
  FROM documents),
firstd AS (
  SELECT token, CAST(MIN(doc_id) AS BIGINT) AS fd FROM tok GROUP BY token),
dcount AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS nt FROM tok GROUP BY doc_id),
mx AS (SELECT CAST(MAX(doc_id) AS BIGINT) AS md FROM dcount),
cks AS (
  SELECT CAST(POW(2, g) AS BIGINT) AS c
  FROM (SELECT unnest(range(4, 18)) AS g), mx
  WHERE CAST(POW(2, g) AS BIGINT) <= mx.md),
pts AS (
  SELECT cks.c,
         CAST((SELECT COUNT(*) FROM firstd WHERE fd <= cks.c) AS BIGINT) AS v,
         CAST((SELECT SUM(nt) FROM dcount WHERE doc_id <= cks.c) AS BIGINT)
           AS n
  FROM cks),
ln_pts AS (
  SELECT c, n, v,
         CAST(FLOOR(LN(CAST(n AS DOUBLE)) * 1000000000 + 0.5) AS BIGINT)
           AS x,
         CAST(FLOOR(LN(CAST(v AS DOUBLE)) * 1000000000 + 0.5) AS BIGINT)
           AS y
  FROM pts WHERE n > 0 AND v > 0),
fit AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS np,
         CAST(SUM(CAST(x AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sx,
         CAST(SUM(CAST(y AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sy,
         CAST(SUM(CAST(x AS DECIMAL(38,0)) * x) AS DECIMAL(38,0)) AS sxx,
         CAST(SUM(CAST(x AS DECIMAL(38,0)) * y) AS DECIMAL(38,0)) AS sxy
  FROM ln_pts)
SELECT np AS n_points,
       ROUND(CAST(CAST(np * sxy - sx * sy AS VARCHAR) AS DOUBLE)
             / CAST(CAST(np * sxx - sx * sx AS VARCHAR) AS DOUBLE), 6)
         AS beta
FROM fit
""",
    # 14-row power-of-2 checkpoint dim range-probed against the
    # first-doc and per-doc-count aggregates; 1-row max-doc frame
    allow={"BroadcastNestedLoopJoin"},
)
def heaps_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from koalas_spark.functions.textfn import tokens

    d = _t(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("token")
    )
    firstd = tok.groupBy("token").agg(
        F.min("doc_id").cast("bigint").alias("fd")
    )
    dcount = tok.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("nt")
    )
    mx = dcount.agg(F.max("doc_id").cast("bigint").alias("md"))
    cks = (
        spark.range(4, 18)
        .select(F.pow(2, F.col("id")).cast("bigint").alias("c"))
        .crossJoin(mx)
        .filter(F.col("c") <= F.col("md"))
        .select("c")
    )
    v = (
        cks
        .join(firstd, firstd["fd"] <= cks["c"], "left")
        .groupBy("c")
        .agg(F.count("fd").cast("bigint").alias("v"))
    )
    n = (
        cks
        .join(dcount, dcount["doc_id"] <= cks["c"], "left")
        .groupBy("c")
        .agg(F.coalesce(F.sum("nt"), F.lit(0)).cast("bigint").alias("n"))
    )
    pts = v.join(n, "c").filter((F.col("n") > 0) & (F.col("v") > 0))
    ln_pts = pts.select(
        F.floor(F.log(F.col("n").cast("double")) * 1000000000 + 0.5)
        .cast("bigint")
        .alias("x"),
        F.floor(F.log(F.col("v").cast("double")) * 1000000000 + 0.5)
        .cast("bigint")
        .alias("y"),
    )
    fit = ln_pts.agg(
        F.count(F.lit(1)).cast("bigint").alias("np"),
        F.sum(F.col("x").cast("decimal(38,0)"))
        .cast("decimal(38,0)")
        .alias("sx"),
        F.sum(F.col("y").cast("decimal(38,0)"))
        .cast("decimal(38,0)")
        .alias("sy"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("x"))
        .cast("decimal(38,0)")
        .alias("sxx"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("y"))
        .cast("decimal(38,0)")
        .alias("sxy"),
    )
    return fit.select(
        F.col("np").alias("n_points"),
        F.round(
            (F.col("np") * F.col("sxy") - F.col("sx") * F.col("sy"))
            .cast("string")
            .cast("double")
            / (F.col("np") * F.col("sxx") - F.col("sx") * F.col("sx"))
            .cast("string")
            .cast("double"),
            6,
        ).alias("beta"),
    )
