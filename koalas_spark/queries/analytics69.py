"""Round-11 batch-4 additions (SURVEY.md §2 extensions): binaryFile
ingest (the multimodal lake path), Cronbach's alpha reliability,
G-test of independence, a Little's-law steady-state audit, and a
Weibull survival-shape fit.

Reference parity note: none of these exist in the reference (its
surface is the frame ops in source/koalas/dataframe.d:73-311); they
extend the sources / statistics / ops-analytics shelves under the
repo determinism rules (queries/__init__.py docstring): exact
integer / DECIMAL(38) reductions, calendar-free day arithmetic
(datediff from a pre-data epoch so `//` never sees a negative),
#221 nano-ln quantization, identical-shape double expressions.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from koalas_spark.memo import staged
from koalas_spark.queries import query
from koalas_spark.queries.analytics import _t


# --------------------------------------------------------------------
# 456. binaryFile ingest — THE entry path for real multimodal lakes
# (image/audio shards land as FILES; Spark's binaryFile source reads
# (path, modificationTime, length, content) with no row-format
# assumptions). Stages one .bin file per doc for the bounded doc_id <
# 200 probe set (staged once per session), reads them back
# through format("binaryFile"), and proves byte-exact ingest: per-file
# md5(content) must reproduce md5(text bytes) — aggregated order-
# insensitively (sorted-hex concat md5, the #138 device) so the check
# is partition-invariant. At 100 TB this is the same one-pass listing
# + columnar read; pathGlobFilter/recursiveFileLookup prune at the
# listing, maxPartitionBytes bounds per-task blob memory.
@query(
    "binaryfile_ingest_stats",
    oracle="""
WITH src AS (
  SELECT doc_id, text FROM documents WHERE doc_id < 200)
SELECT CAST(COUNT(*) AS BIGINT) AS n_files,
       CAST(SUM(octet_length(encode(text))) AS BIGINT) AS total_bytes,
       md5(string_agg(md5(text), '' ORDER BY md5(text))) AS content_md5
FROM src
""",
)
def binaryfile_ingest_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    def write(stage: str) -> None:
        # bounded staging: exactly the doc_id < 200 probe set (#220
        # discipline — the demo ingests a fixed fleet of files, the
        # PLAN is what scales to millions of shards)
        rows = (
            _t(spark, sf_dir, "documents")
            .filter(F.col("doc_id") < 200)
            .select("doc_id", "text")
            .collect()
        )
        os.makedirs(stage)
        for r in rows:
            with open(os.path.join(stage, f"doc_{r['doc_id']:06d}.bin"), "wb") as f:
                f.write(r["text"].encode("utf-8"))
        with open(os.path.join(stage, "_DONE"), "w") as f:
            f.write("ok")

    stage = staged(spark, "binfiles", (sf_dir, "documents"), write, "_DONE")
    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.bin")
        .load(stage)
    )
    per = files.select(F.md5(F.col("content")).alias("h"), F.col("length"))
    return per.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_files"),
        F.sum("length").cast("bigint").alias("total_bytes"),
        F.md5(
            F.concat_ws("", F.sort_array(F.collect_list("h")))
        ).alias("content_md5"),
    )


# --------------------------------------------------------------------
# 457. Cronbach's alpha over the day-of-week "items" — internal-
# consistency reliability (psychometrics' workhorse, here: do the 7
# weekdays of a week move together as one 'weekly demand' scale?).
# Calendar-free indices (day = datediff from 1992-01-01, week = day
# // 7, item = day % 7 — all non-negative so `//`/`div` agree);
# a missing (week, item) cell IS zero revenue, so the week x item
# matrix is dense over the week SPAN by construction (n = max_wk -
# min_wk + 1; absent cells contribute nothing to any sum — at sparse
# SFs a present-cells-only "complete week" rule returns zero rows).
# alpha = (k/(k-1)) * (1 - NUM/DEN) where NUM =
# sum_d (n*sum x_d^2 - (sum x_d)^2), DEN = n*sum tot^2 - (sum tot)^2
# — the n^2 variance denominators cancel, so both sides are exact
# DECIMAL(38) integers and the single division is one double.
@query(
    "cronbach_alpha_dow",
    oracle="""
WITH d AS (
  SELECT CAST(datediff('day', DATE '1992-01-01',
                       CAST(o_orderdate AS DATE)) AS BIGINT) AS di,
         CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
  FROM orders),
cell AS (
  SELECT di // 7 AS wk, di % 7 AS item,
         CAST(SUM(cents) AS BIGINT) AS x
  FROM d GROUP BY 1, 2),
c AS (SELECT * FROM cell),
tot AS (SELECT wk, CAST(SUM(x) AS BIGINT) AS t FROM c GROUP BY wk),
n AS (SELECT CAST(MAX(wk) - MIN(wk) + 1 AS BIGINT) AS n FROM c),
num AS (
  SELECT CAST(SUM(nv) AS DECIMAL(38,0)) AS v FROM (
    SELECT n.n * SUM(CAST(x AS DECIMAL(38,0)) * x)
           - SUM(CAST(x AS DECIMAL(38,0))) * SUM(CAST(x AS DECIMAL(38,0)))
             AS nv
    FROM c, n GROUP BY item, n.n) q),
den AS (
  SELECT CAST(n.n * SUM(CAST(t AS DECIMAL(38,0)) * t)
         - SUM(CAST(t AS DECIMAL(38,0))) * SUM(CAST(t AS DECIMAL(38,0)))
         AS DECIMAL(38,0)) AS v
  FROM tot, n GROUP BY n.n)
SELECT n.n AS n_weeks,
       ROUND((7.0 / 6.0)
             * (1 - CAST(CAST(num.v AS VARCHAR) AS DOUBLE)
                    / CAST(CAST(den.v AS VARCHAR) AS DOUBLE)), 6)
         AS alpha
FROM n, num, den
""",
)
def cronbach_alpha_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "orders").select(
        F.datediff(
            F.col("o_orderdate").cast("date"), F.lit("1992-01-01").cast("date")
        )
        .cast("bigint")
        .alias("di"),
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint").alias(
            "cents"
        ),
    )
    cell = d.groupBy(
        F.expr("di div 7").alias("wk"), F.expr("di % 7").alias("item")
    ).agg(F.sum("cents").cast("bigint").alias("x"))
    c = cell
    tot = c.groupBy("wk").agg(F.sum("x").cast("bigint").alias("t"))
    n = c.agg(
        (F.max("wk") - F.min("wk") + 1).cast("bigint").alias("n")
    )
    xd = F.col("x").cast("decimal(38,0)")
    num = (
        c.crossJoin(F.broadcast(n))
        .groupBy("item", "n")
        .agg(
            (
                F.col("n") * F.sum(xd * F.col("x"))
                - F.sum(xd) * F.sum(xd)
            ).alias("nv")
        )
        .agg(F.sum("nv").cast("decimal(38,0)").alias("numv"))
    )
    td = F.col("t").cast("decimal(38,0)")
    den = (
        tot.crossJoin(F.broadcast(n))
        .groupBy("n")
        .agg(
            (
                F.col("n") * F.sum(td * F.col("t"))
                - F.sum(td) * F.sum(td)
            )
            .cast("decimal(38,0)")
            .alias("denv")
        )
        .select("denv")
    )
    return (
        n.crossJoin(F.broadcast(num))
        .crossJoin(F.broadcast(den))
        .select(
            F.col("n").alias("n_weeks"),
            F.round(
                (F.lit(7.0) / F.lit(6.0))
                * (
                    1
                    - F.col("numv").cast("string").cast("double")
                    / F.col("denv").cast("string").cast("double")
                ),
                6,
            ).alias("alpha"),
        )
    )


# --------------------------------------------------------------------
# 458. G-test of independence (returnflag x linestatus) — the
# likelihood-ratio twin of Pearson's chi2 #344 (additive across
# partitions of the table, the property chi2 lacks): G = 2 sum_cells
# O * ln(O*N / (R*C)). The log-ratio argument is a ratio of exact
# integers, nano-quantized per CELL (#221 — 6 cells at any corpus
# size); the expectation sum rides DECIMAL(38) (O * 30e9 nanos wraps
# int64 past ~3e8 rows per cell). One corpus groupBy; everything
# after is 6-cell domain math.
@query(
    "g_test_flag_status",
    oracle="""
WITH o AS (
  SELECT l_returnflag AS rf, l_linestatus AS ls,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM lineitem GROUP BY 1, 2),
r AS (SELECT rf, CAST(SUM(c) AS BIGINT) AS rc FROM o GROUP BY rf),
cc AS (SELECT ls, CAST(SUM(c) AS BIGINT) AS cc FROM o GROUP BY ls),
n AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM o),
cells AS (
  SELECT o.c,
         CAST(FLOOR(LN(CAST(o.c AS DOUBLE) * n.n
                       / (CAST(r.rc AS DOUBLE) * cc.cc))
                    * 1000000000 + 0.5) AS BIGINT) AS lr_nano
  FROM o JOIN r ON r.rf = o.rf JOIN cc ON cc.ls = o.ls, n),
agg AS (
  SELECT CAST(SUM(2 * CAST(c AS DECIMAL(38,0)) * lr_nano)
           AS DECIMAL(38,0)) AS g_nano,
         CAST(COUNT(*) AS BIGINT) AS n_cells
  FROM cells)
SELECT n.n AS n_obs, agg.n_cells,
       CAST((SELECT COUNT(*) FROM r) - 1 AS BIGINT)
         * CAST((SELECT COUNT(*) FROM cc) - 1 AS BIGINT) AS dof,
       agg.g_nano
FROM n, agg
""",
)
def g_test_flag_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "lineitem").groupBy(
        F.col("l_returnflag").alias("rf"), F.col("l_linestatus").alias("ls")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    r = o.groupBy("rf").agg(F.sum("c").cast("bigint").alias("rc"))
    cc = o.groupBy("ls").agg(F.sum("c").cast("bigint").alias("cc"))
    n = o.agg(F.sum("c").cast("bigint").alias("n"))
    cells = (
        o.join(F.broadcast(r), "rf")
        .join(F.broadcast(cc), "ls")
        .crossJoin(F.broadcast(n))
        .select(
            "c",
            F.floor(
                F.log(
                    F.expr(
                        "CAST(c AS DOUBLE) * n"
                        " / (CAST(rc AS DOUBLE) * cc)"
                    )
                )
                * 1000000000
                + 0.5
            )
            .cast("bigint")
            .alias("lr_nano"),
        )
    )
    agg = cells.agg(
        F.sum(2 * F.col("c").cast("decimal(38,0)") * F.col("lr_nano"))
        .cast("decimal(38,0)")
        .alias("g_nano"),
        F.count(F.lit(1)).cast("bigint").alias("n_cells"),
    )
    nr = r.agg(F.count(F.lit(1)).alias("nrows"))
    ncl = cc.agg(F.count(F.lit(1)).alias("ncols"))
    return (
        n.crossJoin(F.broadcast(agg))
        .crossJoin(F.broadcast(nr))
        .crossJoin(F.broadcast(ncl))
        .select(
            F.col("n").alias("n_obs"),
            "n_cells",
            ((F.col("nrows") - 1) * (F.col("ncols") - 1))
            .cast("bigint")
            .alias("dof"),
            "g_nano",
        )
    )


# --------------------------------------------------------------------
# 459. Little's-law steady-state audit — ops analytics' L = lambda*W.
# Computed over the time integral the law is an IDENTITY (Fubini on
# sum of residences), so the honest audit compares the INTERIOR-
# window average backlog (middle half of the horizon — steady state)
# against lambda*W computed over the whole horizon: the ratio's
# deviation from 1e6 ppm measures edge effects (ramp-up/drain-down),
# exactly what capacity planning needs to know before trusting the
# law. Residence = order date -> last ship; day-domain backlog via
# bounded prefix sums; all integers until two FLOOR-divisions.
@query(
    "littles_law_audit",
    oracle="""
WITH r AS (
  SELECT o.o_orderkey,
         CAST(datediff('day', DATE '1992-01-01',
                       CAST(o.o_orderdate AS DATE)) AS BIGINT) AS a,
         CAST(MAX(datediff('day', DATE '1992-01-01',
                           CAST(l.l_shipdate AS DATE))) AS BIGINT) AS c
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  GROUP BY 1, 2),
m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(MIN(a) AS BIGINT) AS d0, CAST(MAX(c) AS BIGINT) AS d1,
         CAST(SUM(c - a) AS BIGINT) AS sres
  FROM r),
arr AS (SELECT a AS d, CAST(COUNT(*) AS BIGINT) AS k FROM r GROUP BY a),
cmp AS (SELECT c AS d, CAST(COUNT(*) AS BIGINT) AS k FROM r GROUP BY c),
days AS (
  SELECT d, CAST(COALESCE(SUM(ka), 0) AS BIGINT) AS ka,
         CAST(COALESCE(SUM(kc), 0) AS BIGINT) AS kc
  FROM (SELECT d, k AS ka, 0 AS kc FROM arr
        UNION ALL SELECT d, 0, k FROM cmp) u
  GROUP BY d),
bk AS (
  SELECT d,
         CAST(SUM(ka) OVER (ORDER BY d) AS BIGINT)
           - CAST(SUM(kc) OVER (ORDER BY d) AS BIGINT) AS backlog
  FROM days),
intr AS (
  SELECT CAST(SUM(bk.backlog) AS BIGINT) AS sint,
         CAST(COUNT(*) AS BIGINT) AS nint
  FROM bk, m
  WHERE bk.d >= m.d0 + (m.d1 - m.d0) // 4
    AND bk.d <  m.d0 + (3 * (m.d1 - m.d0)) // 4)
SELECT m.n AS n_orders,
       CAST(m.d1 - m.d0 + 1 AS BIGINT) AS horizon_days,
       CAST(m.sres * 1000 // m.n AS BIGINT) AS w_milli_days,
       CAST(m.n * 1000 // (m.d1 - m.d0 + 1) AS BIGINT) AS lambda_milli,
       CAST(m.sres * 1000 // (m.d1 - m.d0 + 1) AS BIGINT)
         AS l_identity_milli,
       CAST(intr.sint * 1000 // intr.nint AS BIGINT) AS l_interior_milli,
       CAST(FLOOR(CAST(CAST(CAST(intr.sint AS DECIMAL(38,0))
                            * (m.d1 - m.d0 + 1) * 1000000 AS VARCHAR)
                       AS DOUBLE)
             / (CAST(intr.nint AS DOUBLE) * m.sres)) AS BIGINT)
         AS steady_state_ppm
FROM m, intr
""",
)
def littles_law_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.datediff(
            F.col("o_orderdate").cast("date"), F.lit("1992-01-01").cast("date")
        )
        .cast("bigint")
        .alias("a"),
    )
    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"),
        F.datediff(
            F.col("l_shipdate").cast("date"), F.lit("1992-01-01").cast("date")
        )
        .cast("bigint")
        .alias("rd"),
    )
    r = o.join(li, "o_orderkey").groupBy("o_orderkey", "a").agg(
        F.max("rd").cast("bigint").alias("c")
    )
    m = r.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.min("a").cast("bigint").alias("d0"),
        F.max("c").cast("bigint").alias("d1"),
        F.sum(F.col("c") - F.col("a")).cast("bigint").alias("sres"),
    )
    arr = r.groupBy(F.col("a").alias("d")).agg(
        F.count(F.lit(1)).cast("bigint").alias("ka")
    )
    cmp_ = r.groupBy(F.col("c").alias("d")).agg(
        F.count(F.lit(1)).cast("bigint").alias("kc")
    )
    days = (
        arr.join(cmp_, "d", "full")
        .select(
            "d",
            F.coalesce("ka", F.lit(0)).cast("bigint").alias("ka"),
            F.coalesce("kc", F.lit(0)).cast("bigint").alias("kc"),
        )
    )
    wd = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    bk = days.select(
        "d",
        (F.sum("ka").over(wd) - F.sum("kc").over(wd))
        .cast("bigint")
        .alias("backlog"),
    )
    intr = (
        bk.crossJoin(F.broadcast(m))
        .filter(
            (F.col("d") >= F.col("d0") + F.expr("(d1 - d0) div 4"))
            & (F.col("d") < F.col("d0") + F.expr("(3 * (d1 - d0)) div 4"))
        )
        .agg(
            F.sum("backlog").cast("bigint").alias("sint"),
            F.count(F.lit(1)).cast("bigint").alias("nint"),
        )
    )
    return m.crossJoin(F.broadcast(intr)).select(
        F.col("n").alias("n_orders"),
        (F.col("d1") - F.col("d0") + 1).cast("bigint").alias("horizon_days"),
        F.expr("CAST(sres * 1000 div n AS BIGINT)").alias("w_milli_days"),
        F.expr(
            "CAST(n * 1000 div (d1 - d0 + 1) AS BIGINT)"
        ).alias("lambda_milli"),
        F.expr(
            "CAST(sres * 1000 div (d1 - d0 + 1) AS BIGINT)"
        ).alias("l_identity_milli"),
        F.expr(
            "CAST(sint * 1000 div nint AS BIGINT)"
        ).alias("l_interior_milli"),
        # sint*(horizon)*1e6 wraps int64 at sf10 (sint ~ 7e9 there) —
        # DECIMAL(38) cross-product + VARCHAR-hop FLOOR-double division
        # (the headroom discipline; caught by the r11 sf10 grid)
        F.floor(
            F.expr(
                "CAST(CAST(CAST(sint AS DECIMAL(38,0))"
                " * (d1 - d0 + 1) * 1000000 AS STRING) AS DOUBLE)"
            )
            / (F.col("nint").cast("double") * F.col("sres"))
        )
        .cast("bigint")
        .alias("steady_state_ppm"),
    )


# --------------------------------------------------------------------
# 460. Weibull survival-shape fit — parametrizes what Kaplan-Meier
# #256 only tabulates: on the ship-lag survival curve,
# ln(-ln S(t)) is LINEAR in ln t iff lags are Weibull(k, lambda), and
# the slope IS the shape k (k>1 wear-out, k<1 infant mortality, k~1
# memoryless). S(t) = n_gt/n on the bounded lag-day DOMAIN; both lns
# are identical-shape doubles nano-quantized per lag value (#221 —
# the outer ln's argument is itself a deterministic double, fine
# because both engines compute it from the same exact integers);
# shape by exact-integer OLS, one double exit.
@query(
    "weibull_survival_fit",
    oracle="""
WITH r AS (
  SELECT CAST(MAX(datediff('day', CAST(o.o_orderdate AS DATE),
                           CAST(l.l_shipdate AS DATE))) AS BIGINT) AS t
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  GROUP BY o.o_orderkey),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM r WHERE t >= 1),
h AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS c FROM r WHERE t >= 1 GROUP BY t),
surv AS (
  SELECT t,
         CAST((SELECT SUM(c) FROM h h2 WHERE h2.t > h.t) AS BIGINT) AS ngt
  FROM h),
pts AS (
  SELECT CAST(FLOOR(LN(CAST(t AS DOUBLE)) * 1000000000 + 0.5) AS BIGINT)
           AS x,
         CAST(FLOOR(LN(LN(CAST(n.n AS DOUBLE) / ngt)) * 1000000000 + 0.5)
           AS BIGINT) AS y
  FROM surv, n WHERE ngt IS NOT NULL AND ngt > 0 AND ngt < n.n),
fit AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS np,
         CAST(SUM(CAST(x AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sx,
         CAST(SUM(CAST(y AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sy,
         CAST(SUM(CAST(x AS DECIMAL(38,0)) * x) AS DECIMAL(38,0)) AS sxx,
         CAST(SUM(CAST(x AS DECIMAL(38,0)) * y) AS DECIMAL(38,0)) AS sxy
  FROM pts)
SELECT np AS n_points,
       ROUND(CAST(CAST(np * sxy - sx * sy AS VARCHAR) AS DOUBLE)
             / CAST(CAST(np * sxx - sx * sx AS VARCHAR) AS DOUBLE), 6)
         AS k_shape
FROM fit
""",
)
def weibull_survival_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"), "l_shipdate"
    )
    r = (
        o.join(li, "o_orderkey")
        .groupBy("o_orderkey")
        .agg(
            F.max(
                F.datediff(
                    F.col("l_shipdate").cast("date"),
                    F.col("o_orderdate").cast("date"),
                )
            )
            .cast("bigint")
            .alias("t")
        )
        .filter(F.col("t") >= 1)
    )
    n = r.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    h = r.groupBy("t").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    ws = Window.orderBy("t").rowsBetween(1, Window.unboundedFollowing)
    surv = h.select(
        "t", F.sum("c").over(ws).cast("bigint").alias("ngt")
    )
    pts = (
        surv.crossJoin(F.broadcast(n))
        .filter(
            F.col("ngt").isNotNull()
            & (F.col("ngt") > 0)
            & (F.col("ngt") < F.col("n"))
        )
        .select(
            F.floor(F.log(F.col("t").cast("double")) * 1000000000 + 0.5)
            .cast("bigint")
            .alias("x"),
            F.floor(
                F.log(F.log(F.col("n").cast("double") / F.col("ngt")))
                * 1000000000
                + 0.5
            )
            .cast("bigint")
            .alias("y"),
        )
    )
    fit = pts.agg(
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
        ).alias("k_shape"),
    )
