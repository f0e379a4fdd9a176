"""Round-10 batch-3 additions (SURVEY.md §2 extensions): Page-Hinkley
drift detection over the daily revenue series, a customer-decile
Lorenz curve, a source x language enrichment audit, and a dedup
blocking-key workload advisor.

Reference parity note: not in the reference (its surface is the frame
ops in source/koalas/dataframe.d:73-311); determinism per the repo
rules (queries/__init__.py docstring): exact integer cents, floored
running means, DECIMAL(38) cross-multiplications, FLOOR-double ppm
via the VARCHAR hop only where products exceed int64.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from koalas_spark.queries import query
from koalas_spark.queries.analytics import _t


# --------------------------------------------------------------------
# 403. Page-Hinkley drift detector on daily revenue — the sequential
# change-point monitor (#300's binseg finds the break offline; PH is
# what a STREAM would run): m_t = cumsum(x_t - floor-running-mean),
# ph_t = m_t - min(m_<=t), alarm when ph_t exceeds 10x the overall
# daily mean (cross-multiplied — ph * n_days > 10 * total, DECIMAL(38)
# per the int64-headroom audit). The running mean is FLOORED to
# integer cents per prefix (exact // on non-negative sums) so the
# cumsum stays integer-exact on both engines. Day domain is bounded
# (~2.4k rows), so the unpartitioned windows are a domain collapse,
# not a corpus-sized single partition.
@query(
    "page_hinkley_daily_drift",
    oracle="""
WITH d AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
           AS BIGINT) AS cents
  FROM orders GROUP BY 1),
c AS (
  SELECT day, cents,
         CAST(SUM(cents) OVER w AS BIGINT) AS s,
         CAST(COUNT(*) OVER w AS BIGINT) AS n
  FROM d
  WINDOW w AS (ORDER BY day ROWS UNBOUNDED PRECEDING)),
m AS (
  SELECT day, cents,
         CAST(SUM(cents - s // n) OVER
              (ORDER BY day ROWS UNBOUNDED PRECEDING) AS BIGINT) AS mt,
         MAX(n) OVER () AS n_days,
         MAX(s) OVER () AS total
  FROM c),
ph AS (
  SELECT day, cents,
         CAST(mt - MIN(mt) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
           AS BIGINT) AS ph_cents,
         n_days, total
  FROM m)
SELECT day, cents, ph_cents,
       CAST(CAST(ph_cents AS DECIMAL(38,0)) * n_days
            > 10 * CAST(total AS DECIMAL(38,0)) AS INT) AS is_alarm
FROM ph ORDER BY day
""",
    allow={"GlobalWindow"},
)
def page_hinkley_daily_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = (
        _t(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(
            F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint"))
            .cast("bigint")
            .alias("cents")
        )
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    c = d.select(
        "day",
        "cents",
        F.sum("cents").over(w).cast("bigint").alias("s"),
        F.count(F.lit(1)).over(w).cast("bigint").alias("n"),
    )
    m = c.select(
        "day",
        "cents",
        F.sum(F.col("cents") - F.expr("s div n"))
        .over(w)
        .cast("bigint")
        .alias("mt"),
        F.max("n").over(Window.orderBy(F.lit(1)).rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        )).alias("n_days"),
        F.max("s").over(Window.orderBy(F.lit(1)).rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        )).alias("total"),
    )
    ph = m.select(
        "day",
        "cents",
        (F.col("mt") - F.min("mt").over(w)).cast("bigint").alias("ph_cents"),
        "n_days",
        "total",
    )
    return ph.select(
        "day",
        "cents",
        "ph_cents",
        F.expr(
            "CAST(CAST(ph_cents AS DECIMAL(38,0)) * n_days"
            " > 10 * CAST(total AS DECIMAL(38,0)) AS INT)"
        ).alias("is_alarm"),
    ).orderBy("day")


# --------------------------------------------------------------------
# 404. customer-decile Lorenz curve — the curve behind #252's Gini
# scalar (a board wants the "top decile owns X%" points, not just the
# coefficient): exact per-customer cents, NTILE(10) over the fully
# tie-broken (cents, custkey) order, cumulative revenue share as a
# cross-multiplied ppm (DECIMAL(38) product, FLOOR-double division
# — never integer-divide DECIMALs, the r9 `//`-rounding hazard). One customer-keyed shuffle + one 10-row
# domain collapse.
@query(
    "lorenz_curve_customer_deciles",
    oracle="""
WITH sp AS (
  SELECT o_custkey,
         CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
           AS BIGINT) AS cents
  FROM orders GROUP BY o_custkey),
dec AS (
  SELECT cents,
         CAST(NTILE(10) OVER (ORDER BY cents ASC, o_custkey ASC) AS INT)
           AS decile
  FROM sp),
g AS (
  SELECT decile, CAST(COUNT(*) AS BIGINT) AS n_cust,
         CAST(SUM(cents) AS BIGINT) AS decile_cents
  FROM dec GROUP BY decile),
cum AS (
  SELECT decile, n_cust, decile_cents,
         CAST(SUM(decile_cents) OVER (ORDER BY decile
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_cents,
         CAST(SUM(decile_cents) OVER () AS BIGINT) AS total
  FROM g)
SELECT decile, n_cust, decile_cents,
       CAST(FLOOR(
           CAST(CAST(CAST(cum_cents AS DECIMAL(38,0)) * 1000000 AS VARCHAR)
                AS DOUBLE)
           / CAST(total AS DOUBLE)) AS BIGINT) AS cum_share_ppm
FROM cum ORDER BY decile
""",
    # NTILE over the <=customer-domain cents table (decile collapse);
    # bounded: deciles computed on the per-customer AGGREGATE
    allow={"GlobalWindow"},
)
def lorenz_curve_customer_deciles(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    sp = (
        _t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint"))
            .cast("bigint")
            .alias("cents")
        )
    )
    dec = sp.select(
        "cents",
        F.ntile(10)
        .over(Window.orderBy(F.col("cents").asc(), F.col("o_custkey").asc()))
        .cast("int")
        .alias("decile"),
    )
    g = dec.groupBy("decile").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_cust"),
        F.sum("cents").cast("bigint").alias("decile_cents"),
    )
    wc = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    wt = Window.orderBy(F.lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = g.select(
        "decile",
        "n_cust",
        "decile_cents",
        F.sum("decile_cents").over(wc).cast("bigint").alias("cum_cents"),
        F.sum("decile_cents").over(wt).cast("bigint").alias("total"),
    )
    return cum.select(
        "decile",
        "n_cust",
        "decile_cents",
        F.expr(
            "CAST(FLOOR("
            "CAST(CAST(CAST(cum_cents AS DECIMAL(38,0)) * 1000000"
            " AS STRING) AS DOUBLE)"
            " / CAST(total AS DOUBLE)) AS BIGINT)"
        ).alias("cum_share_ppm"),
    ).orderBy("decile")


# --------------------------------------------------------------------
# 405. source x language enrichment audit — which ingest sources are
# over/under-weighted in each language vs the corpus mix (the
# contingency lift behind #250's chi2, kept as a per-cell readout):
# lift = obs * N / (rowTot * colTot), sign via exact DECIMAL(38)
# cross-multiplication, magnitude as FLOOR-double ppm (the triple
# product exceeds int64 at corpus scale, so it rides DECIMAL(38) and
# hops to double via the VARCHAR cast). One bounded (source x lang)
# groupBy; totals broadcast back onto the 25-cell domain.
@query(
    "source_lang_enrichment",
    oracle="""
WITH ct AS (
  SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS obs
  FROM documents GROUP BY 1, 2),
rt AS (SELECT source, CAST(SUM(obs) AS BIGINT) AS r FROM ct GROUP BY 1),
lt AS (SELECT lang, CAST(SUM(obs) AS BIGINT) AS c FROM ct GROUP BY 1),
n AS (SELECT CAST(SUM(obs) AS BIGINT) AS total FROM ct)
SELECT ct.source, ct.lang, ct.obs,
       CASE WHEN CAST(ct.obs AS DECIMAL(38,0)) * n.total
               > CAST(rt.r AS DECIMAL(38,0)) * lt.c THEN 1
            WHEN CAST(ct.obs AS DECIMAL(38,0)) * n.total
               < CAST(rt.r AS DECIMAL(38,0)) * lt.c THEN -1
            ELSE 0 END AS enrich_sign,
       CAST(FLOOR(
           CAST(CAST(CAST(ct.obs AS DECIMAL(38,0)) * n.total * 1000000
                     AS VARCHAR) AS DOUBLE)
           / CAST(CAST(CAST(rt.r AS DECIMAL(38,0)) * lt.c AS VARCHAR)
                  AS DOUBLE)) AS BIGINT) AS lift_ppm
FROM ct JOIN rt ON rt.source = ct.source
        JOIN lt ON lt.lang = ct.lang
        CROSS JOIN n
ORDER BY ct.source, ct.lang
""",
    # 1-row corpus-total frame cross-joined onto the 25-cell domain
    allow={"BroadcastNestedLoopJoin"},
)
def source_lang_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    ct = (
        _t(spark, sf_dir, "documents")
        .groupBy("source", "lang")
        .agg(F.count(F.lit(1)).cast("bigint").alias("obs"))
    )
    rt = ct.groupBy("source").agg(F.sum("obs").cast("bigint").alias("r"))
    lt = ct.groupBy("lang").agg(F.sum("obs").cast("bigint").alias("c"))
    n = ct.agg(F.sum("obs").cast("bigint").alias("total"))
    return (
        ct.join(F.broadcast(rt), "source")
        .join(F.broadcast(lt), "lang")
        .crossJoin(n)
        .select(
            "source",
            "lang",
            "obs",
            F.expr(
                "CASE WHEN CAST(obs AS DECIMAL(38,0)) * total"
                " > CAST(r AS DECIMAL(38,0)) * c THEN 1"
                " WHEN CAST(obs AS DECIMAL(38,0)) * total"
                " < CAST(r AS DECIMAL(38,0)) * c THEN -1 ELSE 0 END"
            ).alias("enrich_sign"),
            F.expr(
                "CAST(FLOOR("
                "CAST(CAST(CAST(obs AS DECIMAL(38,0)) * total * 1000000"
                " AS STRING) AS DOUBLE)"
                " / CAST(CAST(CAST(r AS DECIMAL(38,0)) * c AS STRING)"
                " AS DOUBLE)) AS BIGINT)"
            ).alias("lift_ppm"),
        )
        .orderBy("source", "lang")
    )


# --------------------------------------------------------------------
# 406. dedup blocking-key workload advisor — BEFORE running a pairwise
# dedup at 100 TB, audit each candidate blocking key's pair workload
# sum_b b*(b-1)/2 (the quantity that decides whether the bucket-local
# pair stage is feasible — the same Σb² bound the LSH path caps, see
# operators/dedup.py). Three candidate strategies per the standard
# playbook: content head fingerprint (md5-prefix of the first 32
# chars), length bucket (n_chars div 100), and language. Block sizes
# are corpus-proportional, so the pair products ride DECIMAL(38)
# end-to-end; the per-strategy rollup is a bounded domain collapse.
@query(
    "blocking_key_workload_audit",
    oracle="""
WITH k AS (
  SELECT 'head_md5_2' AS strategy,
         substr(md5(substring(text, 1, 32)), 1, 2) AS blk
  FROM documents
  UNION ALL
  SELECT 'len_bucket', CAST(n_chars // 100 AS VARCHAR) FROM documents
  UNION ALL
  SELECT 'lang', lang FROM documents),
b AS (
  SELECT strategy, blk, CAST(COUNT(*) AS BIGINT) AS sz
  FROM k GROUP BY 1, 2)
SELECT strategy,
       CAST(COUNT(*) AS BIGINT) AS n_blocks,
       CAST(MAX(sz) AS BIGINT) AS max_block,
       CAST(SUM(CAST(sz AS DECIMAL(38,0)) * (sz - 1) / 2)
         AS DECIMAL(38,0)) AS pair_workload
FROM b GROUP BY strategy ORDER BY strategy
""",
)
def blocking_key_workload_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    head = docs.select(
        F.lit("head_md5_2").alias("strategy"),
        F.substring(F.md5(F.substring("text", 1, 32)), 1, 2).alias("blk"),
    )
    lenb = docs.select(
        F.lit("len_bucket").alias("strategy"),
        F.expr("CAST(n_chars div 100 AS STRING)").alias("blk"),
    )
    lang = docs.select(
        F.lit("lang").alias("strategy"), F.col("lang").alias("blk")
    )
    k = head.unionAll(lenb).unionAll(lang)
    b = k.groupBy("strategy", "blk").agg(
        F.count(F.lit(1)).cast("bigint").alias("sz")
    )
    return (
        b.groupBy("strategy")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_blocks"),
            F.max("sz").cast("bigint").alias("max_block"),
            F.sum(
                F.expr("CAST(sz AS DECIMAL(38,0)) * (sz - 1) / 2")
            )
            .cast("decimal(38,0)")
            .alias("pair_workload"),
        )
        .orderBy("strategy")
    )
