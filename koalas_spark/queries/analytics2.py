"""Second wave of analytics operators (SURVEY.md §2.2 extensions):
exact percentiles, corpus word-count, anti join, unpivot, range join,
sliding windows, IVF ANN, grouped-map Pandas normalization."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from koalas_spark.queries import query
from koalas_spark.queries.analytics import _t, dsum, _dsum_sql


# --------------------------------------------------------------------
# exact percentiles — interpolating quantiles, identical formula in
# Spark (percentile) and DuckDB (quantile_cont); rounded to absorb
# last-ulp interpolation differences.
@query(
    "percentile_stats",
    oracle="""
SELECT o_orderpriority,
       ROUND(quantile_cont(o_totalprice, 0.25), 4) AS p25,
       ROUND(quantile_cont(o_totalprice, 0.50), 4) AS p50,
       ROUND(quantile_cont(o_totalprice, 0.75), 4) AS p75,
       ROUND(quantile_cont(o_totalprice, 0.95), 4) AS p95
FROM orders GROUP BY o_orderpriority
""",
    bench=False,
)
def percentile_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        *[
            F.round(F.percentile("o_totalprice", F.lit(p)), 4).alias(f"p{int(p*100)}")
            for p in (0.25, 0.50, 0.75, 0.95)
        ]
    )


# --------------------------------------------------------------------
# corpus word count, top-50 — the canonical explode + agg + top-k.
@query(
    "word_count_topk",
    oracle="""
SELECT token, n FROM (
  SELECT token, COUNT(*) AS n,
         ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, token ASC) AS rk
  FROM (SELECT unnest(string_split_regex(TRIM(text), '\\s+')) AS token
        FROM documents) t
  GROUP BY token) g
WHERE rk <= 50
""",
)
def word_count_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from koalas_spark.functions.textfn import tokens

    d = _t(spark, sf_dir, "documents")
    counts = (
        d.select(F.explode(tokens(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # orderBy+limit compiles to TakeOrderedAndProject: each partition keeps
    # its local top-50, the driver merges 50×P rows — no single-task sort of
    # the whole vocabulary (a global row_number window would funnel every
    # distinct token through one partition).
    return counts.orderBy(F.col("n").desc(), F.col("token").asc()).limit(50)


# --------------------------------------------------------------------
# anti join — customers with no high-value order (NOT EXISTS; every
# synthetic customer has SOME order, so the filtered build side keeps
# the result non-empty and the check meaningful).
@query(
    "anti_join_no_orders",
    oracle="""
SELECT c_custkey, c_name FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_totalprice > 400000)
""",
    bench=False,
)
def anti_join_no_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    big = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    return cust.join(
        big, cust.c_custkey == big.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


# --------------------------------------------------------------------
# unpivot / melt — wide aggregate to long (metric, value) form.
@query(
    "unpivot_metrics",
    oracle=f"""
WITH agg AS (
  SELECT l_returnflag,
         {_dsum_sql('l_quantity')} AS sum_qty,
         {_dsum_sql('l_extendedprice')} AS sum_price
  FROM lineitem GROUP BY l_returnflag)
SELECT l_returnflag, 'sum_qty' AS metric, sum_qty AS value FROM agg
UNION ALL
SELECT l_returnflag, 'sum_price' AS metric, sum_price AS value FROM agg
""",
    bench=False,
)
def unpivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_returnflag").agg(
        dsum("l_quantity").alias("sum_qty"), dsum("l_extendedprice").alias("sum_price")
    )
    return agg.unpivot("l_returnflag", ["sum_qty", "sum_price"], "metric", "value")


# --------------------------------------------------------------------
# range join — orders into literal price bands. The band table is a
# 5-row broadcast local relation; Catalyst turns the non-equi join
# into a BroadcastNestedLoop over 5 rows (cheap at any scale).
_BANDS = [(0, 100_000), (100_000, 200_000), (200_000, 300_000), (300_000, 400_000), (400_000, 10**9)]


@query(
    "range_join_price_bands",
    oracle=f"""
WITH bands(lo, hi) AS (VALUES {", ".join(f"({lo}, {hi})" for lo, hi in _BANDS)})
SELECT CAST(lo AS BIGINT) AS band_lo, COUNT(*) AS n,
       {_dsum_sql('o_totalprice')} AS sum_price
FROM orders JOIN bands ON o_totalprice >= lo AND o_totalprice < hi
GROUP BY lo
""",
    bench=False,
    # tiny probe/band/count sides joined without equi keys — build side
    # is bounded by construction, so a broadcast nested loop is the plan
    allow={"BroadcastNestedLoopJoin"},
)
def range_join_price_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    bands = o.sparkSession.createDataFrame(_BANDS, "lo long, hi long")
    return (
        o.join(
            F.broadcast(bands),
            (o.o_totalprice >= bands.lo) & (o.o_totalprice < bands.hi),
        )
        .groupBy(F.col("lo").alias("band_lo"))
        .agg(F.count(F.lit(1)).alias("n"), dsum("o_totalprice").alias("sum_price"))
    )


# --------------------------------------------------------------------
# sliding window — 1h windows every 30min; each event lands in two.
@query(
    "window_sliding_events",
    oracle=f"""
WITH shifted AS (
  SELECT time_bucket(INTERVAL '30 minutes', ts) AS window_start, event_type, value FROM events
  UNION ALL
  SELECT time_bucket(INTERVAL '30 minutes', ts) - INTERVAL 30 MINUTE, event_type, value FROM events)
SELECT window_start, event_type, COUNT(*) AS n, {_dsum_sql('value')} AS sum_value
FROM shifted GROUP BY window_start, event_type
""",
    bench=False,
)
def window_sliding_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), dsum("value").alias("sum_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "sum_value")
    )


# --------------------------------------------------------------------
# IVF ANN — coarse quantizer: vectors with vec_id<16 act as trained
# centroids; every vector is assigned to its nearest centroid (cell);
# probes search only their own cell. Fully deterministic, so unlike
# the LSH variant this one is oracle-checked end-to-end.
_IVF_COS = (
    "list_dot_product(CAST({a}.embedding AS DOUBLE[]), CAST({b}.embedding AS DOUBLE[]))"
    " / SQRT(list_dot_product(CAST({a}.embedding AS DOUBLE[]), CAST({a}.embedding AS DOUBLE[]))"
    " * list_dot_product(CAST({b}.embedding AS DOUBLE[]), CAST({b}.embedding AS DOUBLE[])))"
)


@query(
    "ann_ivf_topk",
    oracle=f"""
WITH cents AS (SELECT * FROM embeddings WHERE vec_id < 16),
assign AS (
  SELECT v.vec_id, v.embedding, cell FROM (
    SELECT v.vec_id AS vid, c.vec_id AS cell,
           ROW_NUMBER() OVER (PARTITION BY v.vec_id
                              ORDER BY ROUND({_IVF_COS.format(a='v', b='c')}, 6) DESC,
                                       c.vec_id ASC) AS rk
    FROM embeddings v CROSS JOIN cents c) a
  JOIN embeddings v ON v.vec_id = a.vid
  WHERE rk = 1)
SELECT probe_id, neighbor_id, cos_sim, rk FROM (
  SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
         ROUND({_IVF_COS.format(a='p', b='c')}, 6) AS cos_sim,
         ROW_NUMBER() OVER (PARTITION BY p.vec_id
                            ORDER BY ROUND({_IVF_COS.format(a='p', b='c')}, 6) DESC,
                                     c.vec_id ASC) AS rk
  FROM assign p JOIN assign c ON p.cell = c.cell AND p.vec_id != c.vec_id
  WHERE p.vec_id < 5) t
WHERE rk <= 5
""",
    # scalar-subquery sides (1-row count/avg frames) joined without a
    # key — a broadcast nested loop over a single row is the plan
    allow={"BroadcastNestedLoopJoin"},
)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from koalas_spark.operators.similarity import ivf_topk

    emb = _t(spark, sf_dir, "embeddings")
    centroids = emb.filter(F.col("vec_id") < 16)
    probes = emb.filter(F.col("vec_id") < 5)
    return ivf_topk(emb, probes, centroids, "vec_id", "embedding", k=5)


# --------------------------------------------------------------------
# per-group z-score normalization, scale-safe: the per-priority
# mean/stddev are a 5-row aggregate that broadcasts back onto the
# scan, so the z-score is a pure JVM expression — one partial-agg
# shuffle of 5 rows and zero Python exchange. (An earlier revision
# routed this through applyInPandas grouped over the SAME 5-value
# key: applyInPandas materializes each group as ONE pandas frame in
# ONE worker, i.e. ~1/5 of the orders table per task at any scale —
# correct at sf0.1, OOM at 100 TB. The Arrow grouped-map showcase now
# lives in grouped_demean_arrow below, over a key whose cardinality
# grows with the data so group size stays bounded.) Oracle via window
# avg/stddev; values rounded to absorb float-path differences between
# the two engines' stddev accumulations, then +0.0 to collapse signed
# zero: DuckDB's ROUND keeps IEEE -0.0 while Spark's decimal-backed
# round yields +0.0 (repr-visible divergence the sf1 sweep caught).
@query(
    "grouped_zscore",
    oracle="""
SELECT o_orderkey, o_orderpriority,
       ROUND((o_totalprice - AVG(o_totalprice) OVER (PARTITION BY o_orderpriority))
             / STDDEV_SAMP(o_totalprice) OVER (PARTITION BY o_orderpriority), 4)
         + 0.0 AS zscore
FROM orders
""",
    bench=False,
)
def grouped_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority", "o_totalprice")
    stats = o.groupBy("o_orderpriority").agg(
        F.avg("o_totalprice").alias("_mu"),
        F.stddev_samp("o_totalprice").alias("_sd"),
    )
    return (
        o.join(F.broadcast(stats), "o_orderpriority")
        .select(
            "o_orderkey",
            "o_orderpriority",
            (
                F.round(
                    (F.col("o_totalprice") - F.col("_mu")) / F.col("_sd"), 4
                )
                + 0.0
            ).alias("zscore"),
        )
    )


# --------------------------------------------------------------------
# Arrow grouped-map showcase — per-(priority, order-day) de-meaning
# through applyInPandas. The grouping key is deliberately
# high-cardinality (priority × day ≈ 12k groups over the TPC-H date
# span): grouped-map ships each group as ONE in-memory pandas frame
# to ONE Python worker, so the key must keep groups small — pick keys
# whose cardinality grows with the data, never a 5-value enum (that
# variant is grouped_zscore above, computed JVM-side). Oracle replays
# the de-mean with a window AVG over the identical key. The oracle's
# outer CAST(... AS BIGINT) is load-bearing: DuckDB's window
# SUM(BIGINT) promotes to HUGEINT, which propagates through the whole
# expression and materializes as float64 through Arrow/pandas — so a
# hash over the materialized frame sees 123.0 vs Spark's 123 even when
# every value matches (the r4/r5 driver-red mechanism). fetchall()
# hides this because DuckDB hands HUGEINT back as Python int.
@query(
    "grouped_demean_arrow",
    oracle="""
SELECT o_orderkey, o_orderpriority, o_day,
       CAST(CAST(SIGN(num) AS BIGINT) * ((2 * ABS(num) + n) // (2 * n))
            AS BIGINT) AS demeaned_e4
FROM (
  SELECT o_orderkey, o_orderpriority, o_day,
         (c * n - s) * 100 AS num, n
  FROM (
    SELECT o_orderkey, o_orderpriority, CAST(o_orderdate AS DATE) AS o_day,
           CAST(ROUND(o_totalprice * 100) AS BIGINT) AS c,
           COUNT(*) OVER w AS n,
           SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) OVER w AS s
    FROM orders
    WINDOW w AS (PARTITION BY o_orderpriority, CAST(o_orderdate AS DATE))) a) b
""",
    bench=False,
    allow={"Python"},
)
def grouped_demean_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.to_date("o_orderdate").alias("o_day"),
        "o_totalprice",
    )

    # Exact integer demean: prices become cents via HALF-AWAY rounding
    # (sign*floor(|x|*100 + 0.5)) — the same tie rule as the oracle's
    # ROUND; np.rint's half-to-even flips any price whose double*100
    # lands on an exact .5 boundary (the r4 driver-hash mismatch).
    # demeaned_e4 = half-away-rounded (c - mean) in 1e-4 dollars is
    # computed entirely in int64: (c*n - s)*100 over n with the
    # (2|num|+n) div (2n) rounding identity. A float mean here
    # (pandas .mean() = pairwise summation) diverged from the oracle's
    # sequential AVG in the last ulp at sf1 group sizes and flipped
    # rounded boundaries — integers cannot. The date key/output is DATE
    # (not timestamp_ntz) on both sides to shrink the hashed surface.
    def demean(pdf: pd.DataFrame) -> pd.DataFrame:
        p = pdf["o_totalprice"].to_numpy() * 100.0
        c = (np.sign(p) * np.floor(np.abs(p) + 0.5)).astype(np.int64)
        n = len(c)
        num = (c * n - c.sum()) * 100
        e4 = np.sign(num) * ((2 * np.abs(num) + n) // (2 * n))
        return pd.DataFrame(
            {
                "o_orderkey": pdf["o_orderkey"],
                "o_orderpriority": pdf["o_orderpriority"],
                "o_day": pdf["o_day"],
                "demeaned_e4": e4,
            }
        )

    return o.groupBy("o_orderpriority", "o_day").applyInPandas(
        demean,
        schema="o_orderkey bigint, o_orderpriority string, "
        "o_day date, demeaned_e4 bigint",
    )
