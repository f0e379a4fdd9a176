"""Round-8 batch-10 additions (SURVEY.md §2 extensions): tokenizer
vocabulary coverage curve, cohort LTV curve, daily event-type
entropy anomaly, and hierarchical revenue share.

Reference parity note: none of these exist in the reference (its
surface is the frame ops in source/koalas/dataframe.d:73-311); they
extend the engine toward the tokenizer-audit / growth-analytics /
monitoring workloads the brief mandates, under the repo determinism
rules (queries/__init__.py docstring): exact integer reductions,
per-TERM nano-quantized ln (#221 — a SUM of doubles is
order-dependent, a SUM of pre-quantized integers is not), and
non-negative integer division only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from koalas_spark.queries import query
from koalas_spark.queries.analytics import _t


# --------------------------------------------------------------------
# 268. tokenizer vocabulary coverage curve — the "how big must the
# vocab be" audit run before fixing a tokenizer's size: what fraction
# of the corpus token mass do the top-k types cover, at k = 100 /
# 500 / 1000 / 5000. Corpus work is ONE token-count aggregate
# (map-side combined); the curve is computed on the TakeOrdered
# top-5000 frame (O(k) per partition, no global sort of the vocab),
# prefix-summed within the bounded 5000-row frame and probed by a
# 4-row k table. Full (cnt DESC, term) tiebreak keeps boundary ties
# deterministic. Output: 4 rows at any corpus scale.
@query(
    "vocab_coverage_curve",
    oracle="""
WITH tok AS (
  SELECT unnest(string_split_regex(TRIM(text), '\\s+')) AS term
  FROM documents),
cnts AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS cnt FROM tok GROUP BY term),
tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total,
               CAST(COUNT(*) AS BIGINT) AS n_vocab FROM cnts),
top AS (
  SELECT term, cnt,
         CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, term) AS BIGINT) AS rk
  FROM (SELECT term, cnt FROM cnts ORDER BY cnt DESC, term LIMIT 5000)),
ks AS (SELECT CAST(k AS BIGINT) AS k
       FROM (VALUES (100), (500), (1000), (5000)) t(k))
SELECT ks.k,
       CAST(LEAST(ks.k, tot.n_vocab) AS BIGINT) AS n_vocab_used,
       CAST(COALESCE(SUM(CASE WHEN top.rk <= ks.k THEN top.cnt END), 0)
         AS BIGINT) AS covered_cnt,
       tot.total,
       1000000 * CAST(COALESCE(SUM(CASE WHEN top.rk <= ks.k
                                   THEN top.cnt END), 0) AS BIGINT)
         // tot.total AS covered_ppm
FROM ks CROSS JOIN tot LEFT JOIN top ON top.rk <= ks.k
GROUP BY ks.k, tot.n_vocab, tot.total
""",
    # rank window over the TakeOrdered top-5000 vocab frame (bounded,
    # zipf_alpha_fit's shape); 4-row k-table joined on rk<=k (range
    # predicate against a tiny literal side)
    allow={"BroadcastNestedLoopJoin", "GlobalWindow"},
)
def vocab_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from koalas_spark.functions.textfn import tokens

    d = _t(spark, sf_dir, "documents")
    cnts = (
        d.select(F.explode(tokens(F.col("text"))).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        .localCheckpoint(eager=False)
    )
    tot = cnts.agg(
        F.sum("cnt").cast("bigint").alias("total"),
        F.count(F.lit(1)).cast("bigint").alias("n_vocab"),
    )
    top = (
        cnts.orderBy(F.col("cnt").desc(), "term")
        .limit(5000)
        .select(
            "term",
            "cnt",
            F.row_number()
            .over(Window.orderBy(F.col("cnt").desc(), "term"))
            .cast("bigint")
            .alias("rk"),
        )
    )
    ks = spark.createDataFrame([(100,), (500,), (1000,), (5000,)], "k bigint")
    j = ks.crossJoin(tot).join(top, F.col("rk") <= F.col("k"), "left")
    return (
        j.groupBy("k", "n_vocab", "total")
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("rk") <= F.col("k"), F.col("cnt"))),
                F.lit(0),
            )
            .cast("bigint")
            .alias("covered_cnt")
        )
        .select(
            "k",
            F.least(F.col("k"), F.col("n_vocab"))
            .cast("bigint")
            .alias("n_vocab_used"),
            "covered_cnt",
            "total",
            F.expr("1000000 * covered_cnt div total").alias("covered_ppm"),
        )
    )


# --------------------------------------------------------------------
# 269. cohort LTV curve — growth analytics' core artifact: for each
# signup cohort (month of a customer's FIRST order), cumulative
# revenue per customer at month offsets 0..11. The corpus collapses
# to (cohort-month x offset) cells first — a DOMAIN-bounded table
# (~84 x 84 cells at any corpus scale) — and the cumulative curve is
# a prefix sum over the bounded offset axis, per cohort. Month index
# is the integer year*12 + month - 1 (no date arithmetic
# divergence); LTV division is non-negative integer cents-per-
# customer. Offsets with zero revenue in a cohort produce no cell on
# either engine (the prefix sum carries across gaps identically), so
# the outputs match row-for-row.
@query(
    "cohort_ltv_curve",
    oracle="""
WITH idx AS (
  SELECT o_custkey,
         CAST(EXTRACT(YEAR FROM CAST(o_orderdate AS DATE)) * 12
              + EXTRACT(MONTH FROM CAST(o_orderdate AS DATE)) - 1
           AS BIGINT) AS m,
         CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
  FROM orders),
first_m AS (
  SELECT o_custkey, CAST(MIN(m) AS BIGINT) AS cm FROM idx GROUP BY o_custkey),
coh AS (
  SELECT cm, CAST(COUNT(*) AS BIGINT) AS n_cust FROM first_m GROUP BY cm),
cells AS (
  SELECT f.cm, i.m - f.cm AS off, CAST(SUM(i.cents) AS BIGINT) AS rev
  FROM idx i JOIN first_m f ON i.o_custkey = f.o_custkey
  GROUP BY f.cm, i.m - f.cm),
cum AS (
  SELECT cm, off,
         CAST(SUM(rev) OVER (PARTITION BY cm ORDER BY off
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS BIGINT) AS cum_rev
  FROM cells)
SELECT cum.cm AS cohort_month, cum.off AS month_offset, coh.n_cust,
       cum.cum_rev AS cum_rev_cents,
       cum.cum_rev // coh.n_cust AS ltv_cents_per_cust
FROM cum JOIN coh ON cum.cm = coh.cm
WHERE cum.off <= 11
""",
)
def cohort_ltv_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    idx = o.select(
        "o_custkey",
        (
            F.year(F.col("o_orderdate").cast("date")) * 12
            + F.month(F.col("o_orderdate").cast("date"))
            - 1
        )
        .cast("bigint")
        .alias("m"),
        F.floor(F.col("o_totalprice") * 100 + 0.5)
        .cast("bigint")
        .alias("cents"),
    )
    first_m = idx.groupBy("o_custkey").agg(
        F.min("m").cast("bigint").alias("cm")
    )
    coh = first_m.groupBy("cm").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_cust")
    )
    cells = (
        idx.join(first_m, "o_custkey")
        .groupBy("cm", (F.col("m") - F.col("cm")).alias("off"))
        .agg(F.sum("cents").cast("bigint").alias("rev"))
    )
    w = Window.partitionBy("cm").orderBy("off").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = cells.select(
        "cm", "off", F.sum("rev").over(w).cast("bigint").alias("cum_rev")
    )
    return (
        cum.join(coh, "cm")
        .filter(F.col("off") <= 11)
        .select(
            F.col("cm").alias("cohort_month"),
            F.col("off").alias("month_offset"),
            "n_cust",
            F.col("cum_rev").alias("cum_rev_cents"),
            F.expr("cum_rev div n_cust").alias("ltv_cents_per_cust"),
        )
    )


# --------------------------------------------------------------------
# 270. daily event-type entropy anomaly — the monitoring signal that
# catches "one event type suddenly dominates" (bot storm) AND "types
# scrambled" (instrumentation bug) in one number. Shannon entropy per
# day is computed under the #221 discipline with the sum made
# order-independent: H = ln(n) - Sigma c_t ln(c_t) / n, where every
# c ln(c) TERM is nano-quantized to an integer BEFORE the sum (a
# float sum's value depends on addend order across partitionings; a
# sum of integers does not), and the one division is non-negative.
# The anomaly reference is the exact LOWER MEDIAN of the day-domain
# entropy series (#227 histogram trick over the bounded day table);
# report = top-10 days by absolute deviation, full tiebreak. Corpus
# work: one (day, type) count — everything after runs on the bounded
# day/type domain.
@query(
    "type_entropy_anomaly",
    oracle="""
WITH ct AS (
  SELECT CAST(ts AS DATE) AS day, event_type,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2),
terms AS (
  SELECT day, c,
         CAST(FLOOR(1000000000 * (c * LN(CAST(c AS DOUBLE)))) AS BIGINT)
           AS clnc_nano
  FROM ct),
d AS (
  SELECT day, CAST(SUM(c) AS BIGINT) AS n,
         CAST(SUM(clnc_nano) AS BIGINT) AS s
  FROM terms GROUP BY day),
ent AS (
  SELECT day, n,
         CAST(FLOOR(1000000000 * LN(CAST(n AS DOUBLE))) AS BIGINT)
           - s // n AS ent_nano
  FROM d),
h AS (SELECT ent_nano, CAST(COUNT(*) AS BIGINT) AS c FROM ent GROUP BY 1),
cum AS (
  SELECT ent_nano,
         CAST(SUM(c) OVER (ORDER BY ent_nano
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS BIGINT) AS cum
  FROM h),
tot AS (SELECT CAST(SUM(c) AS BIGINT) AS nd FROM h),
med AS (
  SELECT CAST(MIN(ent_nano) AS BIGINT) AS med FROM cum, tot
  WHERE cum >= (tot.nd + 1) // 2)
SELECT day, n AS n_events, ent_nano,
       CAST(ent_nano - med.med AS BIGINT) AS dev_nano
FROM ent, med
ORDER BY ABS(ent_nano - med.med) DESC, day LIMIT 10
""",
    # prefix sum over the day-domain entropy histogram (bounded);
    # 1-row total/median frames cross-joined back
    allow={"BroadcastNestedLoopJoin", "GlobalWindow"},
)
def type_entropy_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    ct = ev.groupBy(
        F.col("ts").cast("date").alias("day"), "event_type"
    ).agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    terms = ct.select(
        "day",
        "c",
        F.floor(1000000000 * (F.col("c") * F.log(F.col("c").cast("double"))))
        .cast("bigint")
        .alias("clnc_nano"),
    )
    d = terms.groupBy("day").agg(
        F.sum("c").cast("bigint").alias("n"),
        F.sum("clnc_nano").cast("bigint").alias("s"),
    )
    ent = d.select(
        "day",
        "n",
        (
            F.floor(1000000000 * F.log(F.col("n").cast("double"))).cast(
                "bigint"
            )
            - F.expr("s div n")
        ).alias("ent_nano"),
    ).localCheckpoint(eager=False)
    h = ent.groupBy("ent_nano").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    wcum = Window.orderBy("ent_nano").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = h.select(
        "ent_nano", F.sum("c").over(wcum).cast("bigint").alias("cum")
    )
    tot = h.agg(F.sum("c").cast("bigint").alias("nd"))
    med = (
        cum.crossJoin(tot)
        .filter(F.col("cum") >= F.expr("(nd + 1) div 2"))
        .agg(F.min("ent_nano").cast("bigint").alias("med"))
    )
    return (
        ent.crossJoin(med)
        .select(
            "day",
            F.col("n").alias("n_events"),
            "ent_nano",
            (F.col("ent_nano") - F.col("med")).cast("bigint").alias(
                "dev_nano"
            ),
        )
        .orderBy(F.abs(F.col("dev_nano")).desc(), "day")
        .limit(10)
    )


# --------------------------------------------------------------------
# 271. hierarchical revenue share — the ratio-to-parent analytic
# every BI layer ships: revenue per nation, each nation's ppm share
# of its region, each region's ppm share of the global total. The
# corpus contributes ONE key-partitioned aggregate (orders joined to
# customer for the nation key); everything after runs on the 25-row
# nation DOMAIN — region totals are a second tiny aggregate joined
# back (no window), shares are exact non-negative integer ppm.
# Constant-size output at any corpus scale.
@query(
    "revenue_share_hierarchy",
    oracle="""
WITH nrev AS (
  SELECT c.c_nationkey AS nk,
         CAST(SUM(CAST(FLOOR(o.o_totalprice * 100 + 0.5) AS BIGINT))
           AS BIGINT) AS rev
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY 1),
nd AS (
  SELECT nrev.nk, n.n_name, n.n_regionkey AS rk, r.r_name, nrev.rev
  FROM nrev JOIN nation n ON n.n_nationkey = nrev.nk
  JOIN region r ON r.r_regionkey = n.n_regionkey),
rrev AS (SELECT rk, CAST(SUM(rev) AS BIGINT) AS rrev FROM nd GROUP BY rk),
grev AS (SELECT CAST(SUM(rev) AS BIGINT) AS grev FROM nd)
SELECT nd.n_name, nd.r_name, nd.rev AS rev_cents,
       1000000 * nd.rev // rrev.rrev AS nation_share_ppm,
       1000000 * rrev.rrev // grev.grev AS region_share_ppm
FROM nd JOIN rrev ON nd.rk = rrev.rk CROSS JOIN grev
""",
    # 1-row global-revenue frame cross-joined onto the 25-row nation
    # domain
    allow={"BroadcastNestedLoopJoin"},
)
def revenue_share_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    nrev = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy(F.col("c_nationkey").alias("nk"))
        .agg(
            F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint"))
            .cast("bigint")
            .alias("rev")
        )
    )
    nd = (
        nrev.join(n, nrev.nk == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .select(
            "nk", "n_name", F.col("n_regionkey").alias("rk"), "r_name", "rev"
        )
        .localCheckpoint(eager=False)
    )
    rrev = nd.groupBy("rk").agg(F.sum("rev").cast("bigint").alias("rrev"))
    grev = nd.agg(F.sum("rev").cast("bigint").alias("grev"))
    return (
        nd.join(F.broadcast(rrev), "rk")
        .crossJoin(grev)
        .select(
            "n_name",
            "r_name",
            F.col("rev").alias("rev_cents"),
            F.expr("1000000 * rev div rrev").alias("nation_share_ppm"),
            F.expr("1000000 * rrev div grev").alias("region_share_ppm"),
        )
    )
