"""Round-9 batch-6 additions (SURVEY.md §2 extensions): mutual-best
co-purchase pairs, Fano-factor burstiness, last-digit uniformity
audit, and a join-cardinality estimator audit.

Reference parity note: none of these exist in the reference (its
surface is the frame ops in source/koalas/dataframe.d:73-311); they
extend the graph / time-series / data-quality / planner-engineering
shelves under the repo determinism rules (queries/__init__.py
docstring): exact integer nano quantization, non-negative integer
division, identical double expression shapes, bounded-domain math.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from koalas_spark.queries import query
from koalas_spark.queries.analytics import _t


# --------------------------------------------------------------------
# 312. mutual-best co-purchase pairs — the "mutual best friend"
# recommendation primitive over the weighted pair table (#170
# artifact): v is u's strongest partner (max co-occurrence, ties to
# the smaller id) AND u is v's. One groupBy per direction over the
# symmetrized pair table (each bounded by the edge count), then an
# equi-join on the reciprocal condition — no wedge stage, no
# quadratic anywhere. Output: the mutual pairs with their support,
# ordered for a deterministic top-50.
@query(
    "mutual_best_copurchase",
    oracle="""
WITH li AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
p AS MATERIALIZED (
  SELECT a.l_partkey AS u, b.l_partkey AS v, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2),
sym AS MATERIALIZED (
  SELECT u, v, cnt FROM p UNION ALL SELECT v, u, cnt FROM p),
best AS MATERIALIZED (
  SELECT u, v AS best_v, cnt FROM (
    SELECT u, v, cnt,
           ROW_NUMBER() OVER (PARTITION BY u ORDER BY cnt DESC, v ASC) AS rk
    FROM sym) t
  WHERE rk = 1)
SELECT a.u AS u, a.best_v AS v, a.cnt AS cnt
FROM best a JOIN best b ON a.best_v = b.u AND b.best_v = a.u
WHERE a.u < a.best_v
ORDER BY cnt DESC, u ASC LIMIT 50
""",
)
def mutual_best_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    from koalas_spark.queries.mining import copurchase_pair_table, symmetric

    sym = symmetric(copurchase_pair_table(spark, sf_dir))
    wk = Window.partitionBy("u").orderBy(F.col("cnt").desc(), F.col("v").asc())
    best = (
        sym.withColumn("rk", F.row_number().over(wk))
        .filter(F.col("rk") == 1)
        .select("u", F.col("v").alias("best_v"), "cnt")
    )
    a = best.alias("a")
    b = best.alias("b")
    mutual = a.join(
        b,
        (F.col("a.best_v") == F.col("b.u")) & (F.col("b.best_v") == F.col("a.u")),
    ).filter(F.col("a.u") < F.col("a.best_v"))
    return (
        mutual.select(
            F.col("a.u").alias("u"),
            F.col("a.best_v").alias("v"),
            F.col("a.cnt").alias("cnt"),
        )
        .orderBy(F.col("cnt").desc(), F.col("u").asc())
        .limit(50)
    )


# --------------------------------------------------------------------
# 313. Fano-factor burstiness — is the event stream Poisson or
# bursty? Per event type, the variance-to-mean ratio of HOURLY counts
# over the full observation span (empty hours included — they carry
# the dispersion signal; n_hours comes from the global min/max, so
# absent hours contribute zero to the sums and their count to n).
# One (type × hour) groupBy collapses the corpus; everything after is
# exact integer moment math on the bounded hour domain; the final
# ratio (n·Σc² − (Σc)²) / (Σc·(n−1)) is ONE double expression with an
# identical shape on both engines (the all-integer nano form would
# overflow int64 at sf10 burstiness levels — Spark wraps silently,
# so the double form is the SAFE one here), rounded to 6 dp.
@query(
    "event_burstiness_fano",
    oracle="""
WITH s AS (
  SELECT event_type, CAST(FLOOR(epoch(ts)) AS BIGINT) // 3600 AS hr
  FROM events),
span AS (
  SELECT MIN(hr) AS h0, MAX(hr) AS h1 FROM s),
h AS (
  SELECT event_type, hr, CAST(COUNT(*) AS BIGINT) AS c
  FROM s GROUP BY 1, 2),
m AS (
  SELECT event_type,
         CAST(SUM(c) AS BIGINT) AS sc,
         CAST(SUM(c * c) AS BIGINT) AS sc2,
         CAST(COUNT(*) AS BIGINT) AS n_occupied
  FROM h GROUP BY 1)
SELECT m.event_type,
       (span.h1 - span.h0 + 1) AS n_hours,
       m.n_occupied, m.sc AS n_events,
       ROUND((CAST(span.h1 - span.h0 + 1 AS DOUBLE) * CAST(m.sc2 AS DOUBLE)
              - CAST(m.sc AS DOUBLE) * CAST(m.sc AS DOUBLE))
             / (CAST(m.sc AS DOUBLE)
                * (CAST(span.h1 - span.h0 + 1 AS DOUBLE) - 1.0)), 6)
         AS fano
FROM m, span
""",
    # 1-row hour-span frame cross-joined onto the 5 type-moment rows
    allow={"BroadcastNestedLoopJoin"},
)
def event_burstiness_fano(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        F.expr("CAST(CAST(ts AS LONG) div 3600 AS BIGINT)").alias("hr"),
    )
    span = ev.agg(
        F.min("hr").alias("h0"), F.max("hr").alias("h1")
    )
    h = ev.groupBy("event_type", "hr").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    m = h.groupBy("event_type").agg(
        F.sum("c").cast("bigint").alias("sc"),
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("sc2"),
        F.count(F.lit(1)).cast("bigint").alias("n_occupied"),
    )
    return m.crossJoin(span).select(
        "event_type",
        (F.col("h1") - F.col("h0") + 1).alias("n_hours"),
        "n_occupied",
        F.col("sc").alias("n_events"),
        F.round(
            F.expr(
                "(CAST(h1 - h0 + 1 AS DOUBLE) * CAST(sc2 AS DOUBLE)"
                " - CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE))"
                " / (CAST(sc AS DOUBLE)"
                "    * (CAST(h1 - h0 + 1 AS DOUBLE) - 1.0))"
            ),
            6,
        ).alias("fano"),
    )


# --------------------------------------------------------------------
# 314. last-digit uniformity audit — the fabricated-data smell test
# that complements Benford (#245): real transaction cents have a
# uniform LAST digit; human-invented figures don't. Per digit 0..9:
# observed count vs n/10, plus the per-cell chi² contribution
# (10·obs − n)² / (10·n) as ONE identical-shape double rounded to
# 6 dp (the all-integer scaled form overflows int64 at large sf —
# Spark wraps silently). One corpus groupBy, 10 output rows.
@query(
    "last_digit_uniformity_audit",
    oracle="""
WITH d AS (
  SELECT CAST(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) % 10
              AS INT) AS digit,
         CAST(COUNT(*) AS BIGINT) AS obs
  FROM lineitem GROUP BY 1),
t AS (SELECT CAST(SUM(obs) AS BIGINT) AS n FROM d)
SELECT d.digit, d.obs,
       CAST((d.obs * 10000000) // t.n AS BIGINT) AS share_e7,
       ROUND((10.0 * CAST(d.obs AS DOUBLE) - CAST(t.n AS DOUBLE))
             * (10.0 * CAST(d.obs AS DOUBLE) - CAST(t.n AS DOUBLE))
             / (10.0 * CAST(t.n AS DOUBLE)), 6) AS chi2_cell
FROM d, t
""",
    # 1-row digit-total frame cross-joined onto the 10 digit rows
    allow={"BroadcastNestedLoopJoin"},
)
def last_digit_uniformity_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select(
        F.expr(
            "CAST(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) % 10"
            " AS INT)"
        ).alias("digit")
    )
    d = li.groupBy("digit").agg(F.count(F.lit(1)).cast("bigint").alias("obs"))
    t = d.agg(F.sum("obs").cast("bigint").alias("n"))
    return d.crossJoin(t).select(
        "digit",
        "obs",
        F.expr("CAST((obs * 10000000) div n AS BIGINT)").alias("share_e7"),
        F.round(
            F.expr(
                "(10.0 * CAST(obs AS DOUBLE) - CAST(n AS DOUBLE))"
                " * (10.0 * CAST(obs AS DOUBLE) - CAST(n AS DOUBLE))"
                " / (10.0 * CAST(n AS DOUBLE))"
            ),
            6,
        ).alias("chi2_cell"),
    )


# --------------------------------------------------------------------
# 315. join-cardinality estimator audit — validating the planner's
# textbook formula |A⋈B| ≈ |A|·|B| / max(ndv_A, ndv_B) against the
# EXACT join size Σ_k cntA(k)·cntB(k) (computed from the two per-key
# histograms — one shuffle each, never by materializing the join).
# The estimator's bias on skewed keys is THE classic mis-plan cause;
# this audit is how an engine regression-tests its stats. Both sides
# bucket into the same %1000 key domain, keeping the natural skew. Exact-integer
# outputs; error in signed ppm via the sign-aware half-up division
# (the repo's signed-div rule).
@query(
    "join_cardinality_estimate_audit",
    oracle="""
WITH a AS (
  SELECT o_custkey % 1000 AS k, CAST(COUNT(*) AS BIGINT) AS ca
  FROM orders GROUP BY 1),
b AS (
  SELECT l_orderkey % 1000 AS k, CAST(COUNT(*) AS BIGINT) AS cb
  FROM lineitem GROUP BY 1),
x AS (
  SELECT CAST(SUM(a.ca * b.cb) AS BIGINT) AS exact_rows
  FROM a JOIN b ON a.k = b.k),
st AS (
  SELECT (SELECT CAST(SUM(ca) AS BIGINT) FROM a) AS na,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM a) AS ndva,
         (SELECT CAST(SUM(cb) AS BIGINT) FROM b) AS nb,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM b) AS ndvb)
SELECT st.na, st.ndva, st.nb, st.ndvb, x.exact_rows,
       CAST((st.na * st.nb) // GREATEST(st.ndva, st.ndvb) AS BIGINT)
         AS est_rows,
       CAST(CASE WHEN ((st.na * st.nb) // GREATEST(st.ndva, st.ndvb))
                      >= x.exact_rows
                 THEN ((((st.na * st.nb) // GREATEST(st.ndva, st.ndvb))
                        - x.exact_rows) * 1000000) // x.exact_rows
                 ELSE -(((x.exact_rows
                        - ((st.na * st.nb) // GREATEST(st.ndva, st.ndvb)))
                         * 1000000) // x.exact_rows)
            END AS BIGINT) AS err_ppm
FROM st, x
""",
    # 1-row stats frames cross-joined together (na/ndv, nb/ndv, exact)
    allow={"BroadcastNestedLoopJoin"},
)
def join_cardinality_estimate_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    o = _t(spark, sf_dir, "orders").select(
        (F.col("o_custkey") % 1000).alias("k")
    )
    li = _t(spark, sf_dir, "lineitem").select(
        (F.col("l_orderkey") % 1000).alias("k")
    )
    a = o.groupBy("k").agg(F.count(F.lit(1)).cast("bigint").alias("ca"))
    b = li.groupBy("k").agg(F.count(F.lit(1)).cast("bigint").alias("cb"))
    x = (
        a.join(b, "k")
        .agg(F.sum(F.col("ca") * F.col("cb")).cast("bigint").alias("exact_rows"))
    )
    sa = a.agg(
        F.sum("ca").cast("bigint").alias("na"),
        F.count(F.lit(1)).cast("bigint").alias("ndva"),
    )
    sb = b.agg(
        F.sum("cb").cast("bigint").alias("nb"),
        F.count(F.lit(1)).cast("bigint").alias("ndvb"),
    )
    st = sa.crossJoin(sb)
    return st.crossJoin(x).select(
        "na",
        "ndva",
        "nb",
        "ndvb",
        "exact_rows",
        F.expr(
            "CAST((na * nb) div GREATEST(ndva, ndvb) AS BIGINT)"
        ).alias("est_rows"),
        F.expr(
            "CAST(CASE WHEN ((na * nb) div GREATEST(ndva, ndvb))"
            "               >= exact_rows"
            "           THEN ((((na * nb) div GREATEST(ndva, ndvb))"
            "                  - exact_rows) * 1000000) div exact_rows"
            "           ELSE -(((exact_rows"
            "                  - ((na * nb) div GREATEST(ndva, ndvb)))"
            "                   * 1000000) div exact_rows)"
            "      END AS BIGINT)"
        ).alias("err_ppm"),
    )
