"""Round-5 additions (SURVEY.md §2.2/§2.8): event-stream hygiene
(debounce, interval-sweep concurrency, volume anomaly, path mining,
LOCF repair), data-quality and privacy audits (table profile,
XOR table checksum, k-anonymity), lakehouse maintenance (dynamic
partition backfill, right-to-be-forgotten compaction, incremental
aggregate merge, HLL overlap retention), and customer analytics
(RFM segmentation, ship latency, SCD2 point-in-time join,
repurchase intervals), plus centroid similarity and bigram-LM /
langid-margin text scoring.

Extends the reference surface (select/groupby over typed frames,
reference source/koalas/dataframe.d:73-311, groupby.d:48-107) with the
operational queries a production deployment of that surface needs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from koalas_spark.memo import staged
from koalas_spark.queries import query
from koalas_spark.queries.analytics import _t, dsum, _dsum_sql


# --------------------------------------------------------------------
# 182. event debounce — collapse bursts: per (user, type), keep only
# events that start a new "burst island" (no predecessor within 60s).
# Gaps-and-islands via one LAG over the (user_id, event_type)
# partitioning — a key whose cardinality grows with the data, so
# partitions stay bounded at any scale; the kept/raw audit is a
# 5-row map-side-combined aggregate. This is the ingestion-hygiene op
# that stops double-clicks/retries from inflating engagement counts.
@query(
    "event_debounce",
    oracle="""
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_raw,
       CAST(SUM(CASE WHEN prev_ts IS NULL
                       OR ts - prev_ts > INTERVAL 60 SECOND
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
FROM (
  SELECT event_type, ts,
         LAG(ts) OVER (PARTITION BY user_id, event_type
                       ORDER BY ts, event_id) AS prev_ts
  FROM events) t
GROUP BY event_type
""",
    bench=False,
)
def event_debounce(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select("user_id", "event_type", "ts", "event_id")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    gap = F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(w)
    keep = F.when(gap.isNull() | (gap > 60), 1).otherwise(0)
    return (
        ev.withColumn("keep", keep)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_raw"),
            F.sum("keep").cast("bigint").alias("n_kept"),
        )
    )


# --------------------------------------------------------------------
# 183. peak concurrent sessions — the interval-sweep pattern: treat
# each event as a session interval [ts, ts+30min), emit +1/-1 deltas
# at MINUTE grain, pre-aggregate deltas per (type, minute) map-side
# (the sweep's cardinality becomes |types| x span-minutes — bounded by
# the TIME SPAN, not the corpus, exactly like timeseries_gapfill), and
# run ONE running sum per type over that tiny frame. Declared
# semantics: concurrency sampled at minute boundaries (both engines
# agree on the boundary rule). A naive sweep over raw event endpoints
# would funnel the full stream through |types| window partitions — the
# minute-grain pre-aggregate is what makes the plan scale.
@query(
    "concurrent_sessions_peak",
    oracle="""
WITH iv AS (
  SELECT event_type, DATE_TRUNC('minute', ts) AS s,
         DATE_TRUNC('minute', ts + INTERVAL 30 MINUTE) AS e
  FROM events),
d AS (
  SELECT event_type, s AS m, 1 AS delta FROM iv
  UNION ALL
  SELECT event_type, e, -1 FROM iv),
g AS (SELECT event_type, m, SUM(delta) AS dd FROM d GROUP BY 1, 2),
c AS (SELECT event_type, m,
             SUM(dd) OVER (PARTITION BY event_type ORDER BY m) AS conc
      FROM g)
SELECT event_type, CAST(conc AS BIGINT) AS peak_concurrency,
       m AS peak_minute
FROM c
QUALIFY ROW_NUMBER() OVER (PARTITION BY event_type
                           ORDER BY conc DESC, m) = 1
""",
)
def concurrent_sessions_peak(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select("event_type", "ts")
    iv = ev.select(
        "event_type",
        F.date_trunc("minute", "ts").alias("s"),
        F.date_trunc("minute", F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("e"),
    )
    deltas = iv.select("event_type", F.col("s").alias("m"), F.lit(1).alias("delta")).unionAll(
        iv.select("event_type", F.col("e").alias("m"), F.lit(-1).alias("delta"))
    )
    grid = deltas.groupBy("event_type", "m").agg(F.sum("delta").alias("dd"))
    wrun = (
        Window.partitionBy("event_type")
        .orderBy("m")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    conc = grid.withColumn("conc", F.sum("dd").over(wrun))
    wtop = Window.partitionBy("event_type").orderBy(F.desc("conc"), "m")
    return (
        conc.withColumn("rk", F.row_number().over(wtop))
        .filter(F.col("rk") == 1)
        .select(
            "event_type",
            F.col("conc").cast("bigint").alias("peak_concurrency"),
            F.col("m").alias("peak_minute"),
        )
    )


# --------------------------------------------------------------------
# 184. table profile audit — the data-quality contract check run
# before any table enters a training pipeline: per column, null count,
# exact distinct count, and min/max rendered portably (doubles through
# DECIMAL(18,2), timestamps through DATE, so both engines print the
# same string). ONE pass over the fact table: the multi-column
# COUNT(DISTINCT) expands partial aggregates (6x partial rows, not 6
# scans); at 100 TB you'd swap exact distinct for
# approx_count_distinct — exact here because the oracle checks values.
@query(
    "table_profile_audit",
    oracle="""
SELECT 'o_orderkey' AS col_name,
       CAST(COUNT(*) - COUNT(o_orderkey) AS BIGINT) AS n_nulls,
       CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_distinct,
       CAST(MIN(o_orderkey) AS VARCHAR) AS min_repr,
       CAST(MAX(o_orderkey) AS VARCHAR) AS max_repr
FROM orders
UNION ALL
SELECT 'o_custkey', CAST(COUNT(*) - COUNT(o_custkey) AS BIGINT),
       CAST(COUNT(DISTINCT o_custkey) AS BIGINT),
       CAST(MIN(o_custkey) AS VARCHAR), CAST(MAX(o_custkey) AS VARCHAR)
FROM orders
UNION ALL
SELECT 'o_orderstatus', CAST(COUNT(*) - COUNT(o_orderstatus) AS BIGINT),
       CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT),
       MIN(o_orderstatus), MAX(o_orderstatus)
FROM orders
UNION ALL
SELECT 'o_totalprice', CAST(COUNT(*) - COUNT(o_totalprice) AS BIGINT),
       CAST(COUNT(DISTINCT o_totalprice) AS BIGINT),
       CAST(CAST(MIN(o_totalprice) AS DECIMAL(18,2)) AS VARCHAR),
       CAST(CAST(MAX(o_totalprice) AS DECIMAL(18,2)) AS VARCHAR)
FROM orders
UNION ALL
SELECT 'o_orderdate', CAST(COUNT(*) - COUNT(o_orderdate) AS BIGINT),
       CAST(COUNT(DISTINCT o_orderdate) AS BIGINT),
       CAST(CAST(MIN(o_orderdate) AS DATE) AS VARCHAR),
       CAST(CAST(MAX(o_orderdate) AS DATE) AS VARCHAR)
FROM orders
UNION ALL
SELECT 'o_orderpriority', CAST(COUNT(*) - COUNT(o_orderpriority) AS BIGINT),
       CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT),
       MIN(o_orderpriority), MAX(o_orderpriority)
FROM orders
""",
)
def table_profile_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    specs = [
        ("o_orderkey", lambda c: c.cast("string")),
        ("o_custkey", lambda c: c.cast("string")),
        ("o_orderstatus", lambda c: c),
        ("o_totalprice", lambda c: c.cast("decimal(18,2)").cast("string")),
        ("o_orderdate", lambda c: c.cast("date").cast("string")),
        ("o_orderpriority", lambda c: c),
    ]
    aggs = []
    for name, _render in specs:
        aggs += [
            (F.count(F.lit(1)) - F.count(name)).cast("bigint").alias(f"_nn_{name}"),
            F.countDistinct(name).cast("bigint").alias(f"_nd_{name}"),
            F.min(name).alias(f"_mn_{name}"),
            F.max(name).alias(f"_mx_{name}"),
        ]
    one = o.agg(*aggs)
    profiles = [
        one.select(
            F.lit(name).alias("col_name"),
            F.col(f"_nn_{name}").alias("n_nulls"),
            F.col(f"_nd_{name}").alias("n_distinct"),
            render(F.col(f"_mn_{name}")).alias("min_repr"),
            render(F.col(f"_mx_{name}")).alias("max_repr"),
        )
        for name, render in specs
    ]
    out = profiles[0]
    for p in profiles[1:]:
        out = out.unionByName(p)
    return out


# --------------------------------------------------------------------
# 185. centroid similarity matrix — hierarchical reduce: the corpus
# collapses to |labels| centroid SUM vectors (same explode-free
# 64-column integer-scaled aggregate as embedding_centroids; the
# count cancels out of cosine, so the un-divided sums ARE the
# centroids for similarity purposes), then the tiny k x k upper
# triangle is a self-join of a 10-row frame. Cosine folds in index
# order over exact integer sums cast to double — bit-identical across
# engines — and ROUND(6) pins the printed surface. This is the
# between-class-confusability audit run on embedding spaces before
# SemDeDup-style pruning.
@query(
    "centroid_similarity_matrix",
    oracle="""
WITH sums AS (
  SELECT label, pos, CAST(SUM(sv) AS DOUBLE) AS s
  FROM (
    SELECT label, generate_subscripts(embedding, 1) AS pos,
           CAST(trunc(CAST(unnest(embedding) AS DOUBLE) * 1048576) AS BIGINT) AS sv
    FROM embeddings) t
  GROUP BY label, pos),
vecs AS (
  SELECT label, list(s ORDER BY pos) AS v FROM sums GROUP BY label)
SELECT a.label AS label_a, b.label AS label_b,
       ROUND(list_dot_product(a.v, b.v)
             / SQRT(list_dot_product(a.v, a.v)
                    * list_dot_product(b.v, b.v)), 6) AS cosine
FROM vecs a JOIN vecs b ON a.label < b.label
""",
    bench=False,
    # 10-row centroid frames self-joined on label < label (non-equi
    # upper triangle) — k x k tiny by construction
    allow={"BroadcastNestedLoopJoin"},
)
def centroid_similarity_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings")
    dim = 64  # testdata embedding width (TESTDATA.md)
    sv = [
        F.sum(
            (F.element_at("embedding", i + 1).cast("double") * 1048576).cast("bigint")
        )
        .cast("double")
        .alias(f"_s{i}")
        for i in range(dim)
    ]
    vecs = (
        e.groupBy("label")
        .agg(*sv)
        .select("label", F.array(*[F.col(f"_s{i}") for i in range(dim)]).alias("v"))
    )
    from koalas_spark.functions.vectorfn import norm_sq, rounded_cosine

    a = vecs.alias("a")
    b = vecs.alias("b")
    return a.join(b, F.col("a.label") < F.col("b.label")).select(
        F.col("a.label").alias("label_a"),
        F.col("b.label").alias("label_b"),
        rounded_cosine(
            F.col("a.v"), F.col("b.v"), norm_sq(F.col("a.v")), norm_sq(F.col("b.v"))
        ).alias("cosine"),
    )


# --------------------------------------------------------------------
# 187. right-to-be-forgotten compaction — rewrite the event table
# minus a deletion list (users drawn by a deterministic md5 coin,
# standing in for the GDPR request queue) and prove the erasure with a
# per-type before/after audit. The kept side is a LEFT ANTI join on
# the deletion list — unhinted (the list is user-cardinality, i.e.
# SF-linear, never force-broadcast): AQE broadcasts it at bench SF and
# degrades to shuffle at cluster scale; Spark additionally pushes a
# runtime bloom of the list into the event scan. users_erased counts
# the listed users actually seen in each type.
@query(
    "user_erasure_compact",
    oracle="""
WITH del AS (
  SELECT DISTINCT user_id FROM events
  WHERE substr(md5(CAST(user_id AS VARCHAR)), 1, 4) < '051f'),
kept AS (
  SELECT * FROM events WHERE user_id NOT IN (SELECT user_id FROM del))
SELECT e.event_type,
       CAST(COUNT(*) AS BIGINT) AS rows_before,
       CAST((SELECT COUNT(*) FROM kept k
             WHERE k.event_type = e.event_type) AS BIGINT) AS rows_after,
       CAST(COUNT(DISTINCT CASE
             WHEN substr(md5(CAST(e.user_id AS VARCHAR)), 1, 4) < '051f'
             THEN e.user_id END) AS BIGINT) AS users_erased
FROM events e
GROUP BY e.event_type
""",
)
def user_erasure_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select("user_id", "event_type")
    coin = F.substring(F.md5(F.col("user_id").cast("string")), 1, 4)
    deletions = ev.filter(coin < "051f").select("user_id").distinct()
    kept = ev.join(deletions, "user_id", "left_anti")
    after = kept.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("rows_after")
    )
    before = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("rows_before"),
        F.countDistinct(F.when(coin < "051f", F.col("user_id")))
        .cast("bigint")
        .alias("users_erased"),
    )
    return before.join(after, "event_type").select(
        "event_type", "rows_before", "rows_after", "users_erased"
    )


# --------------------------------------------------------------------
# 188. event volume anomaly — the data-freshness monitor: per
# (type, day) counts, flag days whose count deviates from the type's
# mean by more than 2 sample standard deviations — WITHOUT computing
# a float mean or stddev: the inequality (x-mean)^2 > 4*var is cross-
# multiplied into pure integer arithmetic, (n*x - s)^2 * (n-1) >
# 4 * n * (n*q - s^2) with s = sum(x), q = sum(x^2), so both engines
# agree bit-for-bit. s is corpus-proportional so s^2 wraps int64 past
# ~3e9 total events; the whole comparison therefore runs in
# DECIMAL(38,0) (max magnitude ~1e28 at 1e12 events — comfortable
# headroom, r10 int64 audit). Two shuffles total: the (type, day)
# count and the 5-row per-type moment aggregate broadcast back onto
# it.
@query(
    "event_volume_anomaly",
    oracle="""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS x
  FROM events GROUP BY 1, 2),
mom AS (
  SELECT event_type, CAST(COUNT(*) AS DECIMAL(38,0)) AS n,
         CAST(SUM(x) AS DECIMAL(38,0)) AS s,
         CAST(SUM(x * x) AS DECIMAL(38,0)) AS q
  FROM daily GROUP BY event_type)
SELECT d.event_type, d.day, CAST(d.x AS BIGINT) AS cnt,
       (m.n > 1 AND
        (m.n * d.x - m.s) * (m.n * d.x - m.s) * (m.n - 1)
          > 4 * m.n * (m.n * m.q - m.s * m.s)) AS is_outlier
FROM daily d JOIN mom m ON d.event_type = m.event_type
""",
    bench=False,
)
def event_volume_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select("event_type", F.to_date("ts").alias("day"))
    daily = ev.groupBy("event_type", "day").agg(F.count(F.lit(1)).alias("x"))
    mom = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("x").cast("decimal(38,0)").alias("s"),
        F.sum(F.col("x") * F.col("x")).cast("decimal(38,0)").alias("q"),
    )
    d = F.col("n") * F.col("x") - F.col("s")
    flag = (F.col("n") > 1) & (
        d * d * (F.col("n") - 1)
        > 4 * F.col("n") * (F.col("n") * F.col("q") - F.col("s") * F.col("s"))
    )
    return daily.join(F.broadcast(mom), "event_type").select(
        "event_type",
        "day",
        F.col("x").cast("bigint").alias("cnt"),
        flag.alias("is_outlier"),
    )


# --------------------------------------------------------------------
# 186. idempotent partition backfill — the lakehouse daily-job core:
# the per-(day, type) aggregate lands hive-partitioned by day, then
# ONE day is re-aggregated and rewritten with DYNAMIC partition
# overwrite (only the partitions present in the incoming frame are
# replaced — a static overwrite would truncate the whole table, THE
# classic backfill data-loss bug). Running the backfill is idempotent:
# replaying it any number of times leaves the table equal to the
# oracle's direct aggregate of the source. Audit = read-back totals
# over the partitioned layout (partition pruning intact for day
# filters).
@query(
    "partition_overwrite_backfill",
    oracle=f"""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day, event_type, COUNT(*) AS n,
         {_dsum_sql('value')} AS sum_value
  FROM events GROUP BY 1, 2)
SELECT CAST(COUNT(DISTINCT day) AS BIGINT) AS n_days,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(n) AS BIGINT) AS total_events,
       CAST(CAST(SUM(CAST(sum_value AS DECIMAL(25,6))) AS VARCHAR) AS DOUBLE)
         AS sum_value_total
FROM daily
""",
    bench=False,
)
def partition_overwrite_backfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.to_date("ts").alias("day"), F.col("event_type")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        dsum("value").alias("sum_value"),
    )
    table = staged(
        spark,
        "backfill_daily",
        (sf_dir, "events"),
        daily.write.partitionBy("day").parquet,
    )

    # the backfill: recompute the earliest day and dynamically
    # overwrite ONLY its partition — repeated runs are no-ops
    first_day = daily.agg(F.min("day").alias("d")).take(1)[0]["d"]
    redo = daily.filter(F.col("day") == F.lit(first_day))
    redo.write.mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).partitionBy("day").parquet(table)

    return spark.read.schema(daily.schema).parquet(table).agg(
        F.countDistinct("day").cast("bigint").alias("n_days"),
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum("n").cast("bigint").alias("total_events"),
        F.sum(F.col("sum_value").cast("decimal(25,6)"))
        .cast("string")
        .cast("double")
        .alias("sum_value_total"),
    )


# --------------------------------------------------------------------
# 189. RFM segmentation — the classic customer-value cube, built the
# scale-safe way: per-customer (recency, frequency, monetary) in one
# orders pass, then the three MEDIAN thresholds as a 1-row exact-
# percentile aggregate broadcast back onto the customer frame (the
# textbook NTILE formulation would funnel every customer through a
# global window — the threshold-broadcast swap is the same move as
# length_percentile_filter). Monetary sums go through decimal
# summation so the threshold compare sees identical doubles in both
# engines; percentile() (Spark) == quantile_cont (DuckDB), both exact
# interpolated. Exact percentile buffers the per-customer population
# in one aggregation state — fine to ~1e8 customers; past that swap
# in approx_percentile (the mergeable-sketch path whose error bound
# percentile_approx_check demonstrates) — exact is kept here for
# oracle parity.
@query(
    "rfm_segmentation",
    oracle="""
WITH rfm AS (
  SELECT o_custkey,
         DATE_DIFF('day', CAST(MAX(o_orderdate) AS DATE), DATE '1998-08-01')
           AS r_days,
         COUNT(*) AS f_orders,
         CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6))) AS VARCHAR) AS DOUBLE)
           AS m_spend
  FROM orders GROUP BY o_custkey),
med AS (
  SELECT quantile_cont(r_days, 0.5) AS med_r,
         quantile_cont(f_orders, 0.5) AS med_f,
         quantile_cont(m_spend, 0.5) AS med_m
  FROM rfm)
SELECT CONCAT(CASE WHEN r_days <= med_r THEN 'R' ELSE 'r' END,
              CASE WHEN f_orders >= med_f THEN 'F' ELSE 'f' END,
              CASE WHEN m_spend >= med_m THEN 'M' ELSE 'm' END) AS segment,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(CAST(SUM(CAST(m_spend AS DECIMAL(25,6))) AS VARCHAR) AS DOUBLE)
         AS segment_spend
FROM rfm CROSS JOIN med
GROUP BY segment
""",
    bench=False,
    # 1-row median-threshold frame cross-joined onto the RFM table
    allow={"BroadcastNestedLoopJoin"},
)
def rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    rfm = o.groupBy("o_custkey").agg(
        F.datediff(
            F.lit("1998-08-01").cast("date"), F.max("o_orderdate").cast("date")
        ).alias("r_days"),
        F.count(F.lit(1)).alias("f_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(25,6)"))
        .cast("string")
        .cast("double")
        .alias("m_spend"),
    )
    med = rfm.agg(
        F.expr("percentile(r_days, 0.5)").alias("med_r"),
        F.expr("percentile(f_orders, 0.5)").alias("med_f"),
        F.expr("percentile(m_spend, 0.5)").alias("med_m"),
    )
    seg = F.concat(
        F.when(F.col("r_days") <= F.col("med_r"), "R").otherwise("r"),
        F.when(F.col("f_orders") >= F.col("med_f"), "F").otherwise("f"),
        F.when(F.col("m_spend") >= F.col("med_m"), "M").otherwise("m"),
    )
    return (
        rfm.crossJoin(med)  # 1-row threshold frame
        .groupBy(seg.alias("segment"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_customers"),
            F.sum(F.col("m_spend").cast("decimal(25,6)"))
            .cast("string")
            .cast("double")
            .alias("segment_spend"),
        )
    )


# --------------------------------------------------------------------
# 190. ship-latency distribution — order-to-ship lag histogram per
# priority: the fact-fact orders<->lineitem join shares the orderkey
# partitioning both queries already shuffle on (AQE plans one exchange
# per side, no dim hazards), then pure integer day-diff WEEK buckets
# aggregate map-side. The ops-health twin of conversion_latency_stats
# (which measures the event stream; this measures the fulfilment
# pipeline).
@query(
    "ship_latency_distribution",
    oracle="""
SELECT o_orderpriority,
       -- FLOOR over double, not integer //: latencies go NEGATIVE in
       -- this data (29k early-shipped lines at sf0.01) and DuckDB's
       -- integer // truncates toward zero while Spark floor()s
       CAST(FLOOR(DATE_DIFF('day', CAST(o_orderdate AS DATE),
                            CAST(l_shipdate AS DATE)) / 7.0) AS INT) AS lat_weeks,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(MIN(DATE_DIFF('day', CAST(o_orderdate AS DATE),
                          CAST(l_shipdate AS DATE))) AS INT) AS min_days,
       CAST(MAX(DATE_DIFF('day', CAST(o_orderdate AS DATE),
                          CAST(l_shipdate AS DATE))) AS INT) AS max_days
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY 1, 2
""",
    bench=False,
)
def ship_latency_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    lat = F.datediff(F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date"))
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .select("o_orderpriority", lat.alias("lat"))
        .groupBy(
            "o_orderpriority",
            F.floor(F.col("lat") / 7).cast("int").alias("lat_weeks"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
            F.min("lat").cast("int").alias("min_days"),
            F.max("lat").cast("int").alias("max_days"),
        )
    )


# --------------------------------------------------------------------
# 191. SCD2 point-in-time join — enrich each purchase with the state
# that was VALID at its timestamp: the user's latest non-purchase
# event defines the current state, and a 30-minute validity window
# expires it. Semantically a (key, start <= ts < start+30min) range
# join, executed as the as-of carry-forward (one union-sort shuffle,
# operators/asof.py) plus a validity predicate — none of the O(n*m)
# range-join fan-out. Purchases in a state gap land in 'none'; the
# per-state aggregate proves the assignment (this is last-touch
# attribution with interval semantics, vs first_touch_attribution's
# lifetime-first rule).
@query(
    "scd2_point_in_time_join",
    oracle="""
WITH pit AS (
  SELECT event_id,
         CASE WHEN sts IS NOT NULL
                   AND ts < sts + INTERVAL 30 MINUTE
              THEN stype ELSE 'none' END AS state
  FROM (
    SELECT e.event_id, e.ts, s.ts AS sts, s.event_type AS stype,
           ROW_NUMBER() OVER (PARTITION BY e.event_id
                              ORDER BY s.ts DESC NULLS LAST,
                                       s.event_id DESC NULLS LAST) AS rk
    FROM (SELECT * FROM events WHERE event_type = 'purchase') e
    LEFT JOIN (SELECT * FROM events WHERE event_type <> 'purchase') s
      ON s.user_id = e.user_id AND s.ts <= e.ts) q
  WHERE rk = 1)
SELECT state, CAST(COUNT(*) AS BIGINT) AS n_events
FROM pit GROUP BY state
""",
    bench=False,
)
def scd2_point_in_time_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from koalas_spark.operators.asof import asof_join

    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts", "event_type")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    states = ev.filter(F.col("event_type") != "purchase").select(
        F.col("user_id").alias("s_user"),
        F.col("ts").alias("s_ts"),
        F.col("event_id").alias("s_event_id"),
        F.col("event_type").alias("s_type"),
    )
    pit = asof_join(
        purchases,
        states,
        left_key="user_id",
        right_key="s_user",
        left_time="ts",
        right_time="s_ts",
        right_order_cols=["s_event_id"],
        payload_cols={"s_ts": "state_ts", "s_type": "state_type"},
    )
    state = F.when(
        F.col("state_ts").isNotNull()
        & (F.col("ts") < F.col("state_ts") + F.expr("INTERVAL 30 MINUTES")),
        F.col("state_type"),
    ).otherwise("none")
    return pit.groupBy(state.alias("state")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events")
    )


# --------------------------------------------------------------------
# 192. bigram LM familiarity — the CCNet/unigram_lm_quality idea one
# order up: score each document by how much of its adjacent-bigram
# mass falls in the corpus's top-500 bigram table. The exploded
# (doc, bigram) frame is lazily checkpointed and consumed twice (LM
# build + coverage join) — same two-consumer shape as minhash-LSH;
# the 500-row LM broadcasts into the coverage join. Coverage is
# integer ppm; the per-language report aggregates doc scores exactly
# (sum + count, no float mean).
@query(
    "bigram_lm_quality",
    oracle="""
WITH bg AS MATERIALIZED (
  SELECT doc_id, lang,
         unnest(list_transform(range(1, LEN(tk)),
                               i -> tk[i] || ' ' || tk[i+1])) AS b
  FROM (SELECT doc_id, lang,
               string_split_regex(TRIM(text), '\\s+') AS tk
        FROM documents) t
  WHERE LEN(tk) >= 2),
lm AS MATERIALIZED (
  SELECT b FROM (
    SELECT b, COUNT(*) AS c FROM bg GROUP BY b
    ORDER BY c DESC, b LIMIT 500) q),
per_doc AS (
  SELECT doc_id, lang, COUNT(*) AS n_bg,
         SUM(CASE WHEN b IN (SELECT b FROM lm) THEN 1 ELSE 0 END) AS k
  FROM bg GROUP BY doc_id, lang)
SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(k * 1000000 // n_bg) AS BIGINT) AS sum_cov_ppm,
       CAST(SUM(k * 1000000 // n_bg) // COUNT(*) AS BIGINT) AS avg_cov_ppm
FROM per_doc GROUP BY lang
""",
    bench=False,
)
def bigram_lm_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from koalas_spark.functions.textfn import tokens

    d = _t(spark, sf_dir, "documents")
    tk = tokens(F.col("text"))
    bg = (
        d.select("doc_id", "lang", tk.alias("tk"))
        .filter(F.size("tk") >= 2)
        .select(
            "doc_id",
            "lang",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("tk") - 1),
                    lambda i: F.concat(
                        F.element_at("tk", i), F.lit(" "), F.element_at("tk", i + 1)
                    ),
                )
            ).alias("b"),
        )
        .localCheckpoint(eager=False)  # consumed by LM build + coverage
    )
    lm = (
        bg.groupBy("b")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), "b")
        .limit(500)
        .select("b", F.lit(1).alias("_in_lm"))
    )
    per_doc = (
        bg.join(lm, "b", "left")  # 500-row LM table
        .groupBy("doc_id", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_bg"),
            F.sum(F.coalesce(F.col("_in_lm"), F.lit(0))).alias("k"),
        )
    )
    cov = F.expr("k * 1000000 div n_bg")
    return per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(cov).cast("bigint").alias("sum_cov_ppm"),
        F.expr("sum(k * 1000000 div n_bg) div count(1)")
        .cast("bigint")
        .alias("avg_cov_ppm"),
    )


# --------------------------------------------------------------------
# 193. language-ID confidence margin — the abstention signal for the
# text_langid classifier: margin = best marker score minus runner-up
# (0 = ambiguous, the docs a production pipeline routes to a heavier
# model). The 5 profile counts sort DESC array-side (pure codegen) and
# the per-true-language report is exact integers; n_confident counts
# docs where the decision is separated by >= 1 marker hit.
@query(
    "langid_confidence_margin",
    oracle=f"""
SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(sc[1] - sc[2]) AS BIGINT) AS sum_margin,
       CAST(SUM(CASE WHEN sc[1] - sc[2] >= 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_confident
FROM (
  SELECT lang,
         list_sort([c_de, c_en, c_es, c_fr, c_zh], 'DESC') AS sc
  FROM (
    SELECT doc_id, lang,
           {{profile_counts}}
    FROM documents) t) s
GROUP BY lang
""".replace("{profile_counts}", __import__("koalas_spark.queries.text", fromlist=["_profile_counts_sql"])._profile_counts_sql()),
    bench=False,
)
def langid_confidence_margin(spark: SparkSession, sf_dir: str) -> DataFrame:
    from koalas_spark.functions.textfn import tokens
    from koalas_spark.queries.text import _PROFILES

    d = _t(spark, sf_dir, "documents")
    tok = tokens(F.col("text"))

    def _member(words):
        return lambda t: t.isin(*words)

    counts = [
        F.size(F.filter(tok, _member(words))).cast("long")
        for words in _PROFILES.values()
    ]
    sc = F.sort_array(F.array(*counts), asc=False)
    margin = sc[0] - sc[1]
    return (
        d.select("lang", margin.alias("m"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("m").cast("bigint").alias("sum_margin"),
            F.sum(F.when(F.col("m") >= 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_confident"),
        )
    )


# --------------------------------------------------------------------
# 194. incremental aggregate merge — the incremental-view-maintenance
# core: yesterday's aggregate STATE (partial sums, persisted as
# parquet) merges with today's delta aggregate by re-aggregating the
# union of partials — sum-of-sums and sum-of-counts are mergeable, so
# the history fact rows are NEVER rescanned (here the state build is
# cached once per source mtime; each run scans only the delta slice).
# Decimal partials keep the merge order-independent; the oracle is the
# full recompute, so the match IS the IVM correctness proof.
@query(
    "incremental_agg_merge",
    oracle=f"""
SELECT CAST(ts AS DATE) AS day, event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       {_dsum_sql('value')} AS sum_value
FROM events GROUP BY 1, 2
""",
    bench=False,
)
def incremental_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    cut = "2024-01-24"

    ev = _t(spark, sf_dir, "events").select(
        F.to_date("ts").alias("day"), "event_type", "value"
    )

    def partials(df):
        return df.groupBy("day", "event_type").agg(
            F.count(F.lit(1)).cast("bigint").alias("pn"),
            F.sum(F.col("value").cast("decimal(25,6)")).alias("psum"),
        )

    history = partials(ev.filter(F.col("day") < cut))
    state = staged(spark, "ivm_state", (sf_dir, "events"), history.write.parquet)

    delta = partials(ev.filter(F.col("day") >= cut))
    merged = (
        spark.read.schema(history.schema)
        .parquet(state)
        .unionByName(delta)
        .groupBy("day", "event_type")
        .agg(
            F.sum("pn").cast("bigint").alias("n"),
            F.sum("psum").cast("string").cast("double").alias("sum_value"),
        )
    )
    return merged


# --------------------------------------------------------------------
# 195. sketch overlap retention — day-over-day returning users from
# MERGEABLE sketches: per-day HLL sketches union pairwise and the
# intersection falls out by inclusion-exclusion (|A∩B| = |A| + |B| −
# |A∪B|) — no re-scan of the raw stream once the daily sketches
# exist, which is the entire point at 100 TB (the exact self-join
# recomputed here is the oracle's job, not the deployment path).
# Differencing compounds HLL error, so the checked tolerance is 10%
# (lgK=14, ~0.8% per estimate) — deterministic for a fixed dataset
# because the sketches themselves are deterministic.
@query(
    "sketch_overlap_retention",
    oracle="""
WITH du AS MATERIALIZED (
  SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
d1 AS (SELECT day, COUNT(*) AS exact_users FROM du GROUP BY day),
ret AS (
  SELECT a.day, COUNT(*) AS exact_returning
  FROM du a JOIN du b ON b.user_id = a.user_id AND b.day = a.day + 1
  GROUP BY a.day)
SELECT d1.day, CAST(d1.exact_users AS BIGINT) AS exact_users,
       CAST(COALESCE(ret.exact_returning, 0) AS BIGINT) AS exact_returning,
       TRUE AS sketch_within_10pct
FROM d1 LEFT JOIN ret ON ret.day = d1.day
WHERE EXISTS (SELECT 1 FROM d1 n WHERE n.day = d1.day + 1)
""",
    bench=False,
)
def sketch_overlap_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select(
        F.to_date("ts").alias("day"), "user_id"
    )
    du = ev.distinct()
    daily = du.groupBy("day").agg(
        F.expr("hll_sketch_agg(user_id, 14)").alias("sk"),
        F.count(F.lit(1)).cast("bigint").alias("exact_users"),
    )
    a = daily.alias("a")
    b = daily.alias("b")
    pairs = a.join(b, F.date_add(F.col("a.day"), 1) == F.col("b.day")).select(
        F.col("a.day").alias("day"),
        F.col("a.exact_users").alias("exact_users"),
        F.expr("hll_sketch_estimate(a.sk)").alias("e1"),
        F.expr("hll_sketch_estimate(b.sk)").alias("e2"),
        F.expr(
            "hll_sketch_estimate(hll_union(a.sk, b.sk, false))"
        ).alias("eu"),
    )
    exact_ret = (
        du.alias("x")
        .join(
            du.alias("y"),
            (F.col("x.user_id") == F.col("y.user_id"))
            & (F.date_add(F.col("x.day"), 1) == F.col("y.day")),
        )
        .groupBy(F.col("x.day").alias("day"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("exact_returning"))
    )
    est_inter = F.col("e1") + F.col("e2") - F.col("eu")
    return (
        pairs.join(exact_ret, "day", "left")
        .na.fill({"exact_returning": 0})
        .select(
            "day",
            "exact_users",
            "exact_returning",
            (
                F.abs(est_inter - F.col("exact_returning"))
                <= 0.10 * F.greatest(F.col("exact_returning"), F.lit(1))
            ).alias("sketch_within_10pct"),
        )
    )


# --------------------------------------------------------------------
# 198. repurchase interval stats — inter-purchase time, the retention
# metric behind "when do customers come back": one LAG over the
# (custkey) partitioning (cardinality grows with data — bounded
# partitions), integer day gaps, then exact interpolated percentiles
# over the gap population (a single-row aggregate; percentile() ==
# quantile_cont across engines, same contract as percentile_stats).
# The exact percentile buffers all gaps in one aggregation state —
# the documented approx_percentile swap applies past ~1e8 gaps, as in
# rfm_segmentation; exact is kept for oracle parity.
@query(
    "repurchase_interval_stats",
    oracle="""
WITH gaps AS (
  SELECT DATE_DIFF('day',
                   CAST(LAG(o_orderdate) OVER (PARTITION BY o_custkey
                                               ORDER BY o_orderdate, o_orderkey)
                        AS DATE),
                   CAST(o_orderdate AS DATE)) AS gap_days
  FROM orders)
SELECT CAST(COUNT(gap_days) AS BIGINT) AS n_gaps,
       quantile_cont(gap_days, 0.5) AS p50_days,
       quantile_cont(gap_days, 0.9) AS p90_days,
       CAST(MAX(gap_days) AS INT) AS max_days
FROM gaps
""",
    bench=False,
)
def repurchase_interval_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").select("o_custkey", "o_orderkey", "o_orderdate")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gap = F.datediff(
        F.col("o_orderdate").cast("date"),
        F.lag(F.col("o_orderdate")).over(w).cast("date"),
    )
    return (
        o.select(gap.alias("gap_days"))
        .filter(F.col("gap_days").isNotNull())
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_gaps"),
            F.expr("percentile(gap_days, 0.5)").alias("p50_days"),
            F.expr("percentile(gap_days, 0.9)").alias("p90_days"),
            F.max("gap_days").cast("int").alias("max_days"),
        )
    )


# --------------------------------------------------------------------
# 200. order-independent table checksum — the data-integrity primitive
# for replication / migration / snapshot verification at scale: md5
# each row's canonical rendering, fold 60 bits of it with BIT-XOR (a
# commutative, associative aggregate, so the checksum is independent
# of partitioning, ordering, AND merge tree — partial checksums from
# shards XOR together, the mergeability every distributed diff tool
# relies on). One codegen map + one 1-row aggregate; md5 hex is
# identical in both engines, CONV/from-hex both exact at 15 hex
# digits (< 2^60).
@query(
    "table_checksum_xor",
    oracle="""
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(BIT_XOR(CAST(('0x' || substr(
           md5(CAST(o_orderkey AS VARCHAR) || '|' ||
               CAST(o_custkey AS VARCHAR) || '|' ||
               o_orderstatus || '|' ||
               CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR) || '|' ||
               CAST(CAST(o_orderdate AS DATE) AS VARCHAR) || '|' ||
               o_orderpriority), 1, 15)) AS BIGINT)) AS BIGINT) AS xor_sig
FROM orders
""",
    bench=False,
)
def table_checksum_xor(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    canon = F.concat_ws(
        "|",
        F.col("o_orderkey").cast("string"),
        F.col("o_custkey").cast("string"),
        F.col("o_orderstatus"),
        F.col("o_totalprice").cast("decimal(18,2)").cast("string"),
        F.col("o_orderdate").cast("date").cast("string"),
        F.col("o_orderpriority"),
    )
    sig = F.conv(F.substring(F.md5(canon), 1, 15), 16, 10).cast("bigint")
    return o.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.expr(
            "bit_xor(cast(conv(substring(md5(concat_ws('|', "
            "cast(o_orderkey as string), cast(o_custkey as string), "
            "o_orderstatus, cast(cast(o_totalprice as decimal(18,2)) as string), "
            "cast(cast(o_orderdate as date) as string), o_orderpriority)), 1, 15), "
            "16, 10) as bigint))"
        ).alias("xor_sig"),
    )


# --------------------------------------------------------------------
# 201. event path trigrams — sequence mining one order up from the
# transition matrix (#179): the top-20 three-step behaviour paths via
# two LEADs over the same (user, time) window (ONE shuffle serves
# both), map-side-combined path counts, TakeOrdered top-20 with the
# count/path tie pinned. Path support never materializes per-user
# state — the |types|^3 path space aggregates map-side.
@query(
    "event_path_trigrams",
    oracle="""
WITH seq AS (
  SELECT event_type AS a,
         LEAD(event_type, 1) OVER w AS b,
         LEAD(event_type, 2) OVER w AS c
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
SELECT a || '>' || b || '>' || c AS path,
       CAST(COUNT(*) AS BIGINT) AS support
FROM seq WHERE b IS NOT NULL AND c IS NOT NULL
GROUP BY path
ORDER BY support DESC, path
LIMIT 20
""",
    bench=False,
)
def event_path_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select("user_id", "event_type", "ts", "event_id")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("a"),
        F.lead("event_type", 1).over(w).alias("b"),
        F.lead("event_type", 2).over(w).alias("c"),
    ).filter(F.col("b").isNotNull() & F.col("c").isNotNull())
    return (
        seq.select(F.concat_ws(">", "a", "b", "c").alias("path"))
        .groupBy("path")
        .agg(F.count(F.lit(1)).cast("bigint").alias("support"))
        .orderBy(F.desc("support"), "path")
        .limit(20)
    )


# --------------------------------------------------------------------
# 202. LOCF imputation — last-observation-carried-forward, the
# bread-and-butter time-series repair for sensor dropouts: values are
# deterministically "lost" by an md5 coin (15% of rows — the planted
# missingness makes the repair verifiable), then re-filled with
# last_value(... IGNORE NULLS) over one (user, time) window — a
# single shuffle on a key whose cardinality grows with the data.
# Leading nulls (no prior observation) stay null, the honest
# semantics; the per-type audit proves exactly the planted rows and
# only they were touched.
@query(
    "locf_impute",
    oracle="""
WITH masked AS (
  SELECT user_id, event_type, ts, event_id, value,
         CASE WHEN substr(md5(CAST(event_id AS VARCHAR)), 1, 4) < '2667'
              THEN NULL ELSE value END AS v
  FROM events),
filled AS (
  SELECT event_type, v,
         last_value(v IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS UNBOUNDED PRECEDING) AS v_filled
  FROM masked)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_masked,
       CAST(SUM(CASE WHEN v IS NULL AND v_filled IS NOT NULL
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_filled,
       CAST(CAST(SUM(CAST(v_filled AS DECIMAL(25,6))) AS VARCHAR) AS DOUBLE)
         AS sum_filled
FROM filled GROUP BY event_type
""",
    bench=False,
)
def locf_impute(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id", "value"
    )
    coin = F.substring(F.md5(F.col("event_id").cast("string")), 1, 4)
    masked = ev.withColumn(
        "v", F.when(coin < "2667", F.lit(None)).otherwise(F.col("value"))
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    filled = masked.select(
        "event_type",
        "v",
        F.last("v", ignorenulls=True).over(w).alias("v_filled"),
    )
    return filled.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(F.when(F.col("v").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_masked"),
        F.sum(
            F.when(F.col("v").isNull() & F.col("v_filled").isNotNull(), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n_filled"),
        F.sum(F.col("v_filled").cast("decimal(25,6)"))
        .cast("string")
        .cast("double")
        .alias("sum_filled"),
    )


# --------------------------------------------------------------------
# 203. k-anonymity audit — the privacy-engineering gate before a
# table leaves the fence: rows whose quasi-identifier combination
# (order year x priority x status here) is shared by fewer than k=10
# records are re-identifiable and must be suppressed or generalized.
# One groupBy over the quasi-identifier space (map-side combined; the
# QI grid is tiny regardless of corpus size) + a broadcast join back
# to classify rows. Reports per-combination risk plus the global
# suppression tally — the audit a DP/anonymization pipeline runs
# every release.
@query(
    "k_anonymity_audit",
    oracle="""
WITH qi AS (
  SELECT CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year,
         o_orderpriority, o_orderstatus, COUNT(*) AS n
  FROM orders GROUP BY 1, 2, 3)
SELECT o_year, o_orderpriority, o_orderstatus,
       CAST(n AS BIGINT) AS group_size,
       n < 10 AS reidentifiable
FROM qi
""",
    bench=False,
)
def k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy(
            F.year("o_orderdate").alias("o_year"),
            "o_orderpriority",
            "o_orderstatus",
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "o_year",
            "o_orderpriority",
            "o_orderstatus",
            F.col("n").cast("bigint").alias("group_size"),
            (F.col("n") < 10).alias("reidentifiable"),
        )
    )


# --------------------------------------------------------------------
# 205. SQL UDFs (Spark 4 CREATE FUNCTION ... RETURN expr) — reusable
# business logic declared ONCE in SQL and inlined by Catalyst at plan
# time: the formatted plan of this query shows plain whole-stage
# codegen over the scan, zero UDF call overhead (verified — the
# function body fuses like a macro; contrast with a Python UDF, which
# would drop the pipeline out of codegen entirely). Two functions:
# the discounted-revenue expression every TPC-H query repeats, and a
# quantity band classifier; the oracle expands both bodies inline,
# which is exactly what Spark executed.
@query(
    "sql_udf_revenue_bands",
    oracle=f"""
SELECT CASE WHEN l_quantity < 10 THEN 'small'
            WHEN l_quantity < 35 THEN 'mid'
            ELSE 'large' END AS band,
       CAST(COUNT(*) AS BIGINT) AS n,
       {_dsum_sql('l_extendedprice * (1.0 - l_discount)')} AS revenue
FROM lineitem
GROUP BY band
""",
    bench=False,
)
def sql_udf_revenue_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION disc_rev(price DOUBLE, disc DOUBLE) "
        "RETURNS DOUBLE RETURN price * (1.0 - disc)"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION qty_band(q DOUBLE) RETURNS STRING "
        "RETURN CASE WHEN q < 10 THEN 'small' WHEN q < 35 THEN 'mid' "
        "ELSE 'large' END"
    )
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("_udf_lineitem")
    return spark.sql(
        """
        SELECT qty_band(l_quantity) AS band,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(CAST(SUM(CAST(disc_rev(l_extendedprice, l_discount)
                                  AS DECIMAL(25,6))) AS STRING) AS DOUBLE)
                 AS revenue
        FROM _udf_lineitem
        GROUP BY qty_band(l_quantity)
        """
    )


# --------------------------------------------------------------------
# 208. per-group OLS regression — closed-form slope/intercept of
# extendedprice on quantity per supplier nation, the canonical
# "grouped model fit" a feature/analytics pipeline runs in one agg
# pass (no MLlib, no iteration): slope = (nΣxy−ΣxΣy)/(nΣxx−Σx²).
# Portability recipe: x, y are exact cents (half-up via
# floor(v*100+0.5)), the five moments accumulate as DECIMAL(25,0)
# (order-independent exact sums — the repo's decimal-sum device), and
# only then does ONE fixed sequence of double ops produce the
# coefficients, so both engines compute identical IEEE results from
# identical integers. Scale: one partial-aggregable shuffle keyed by
# nation (map-side combine does nearly all the work), supplier/nation
# dims broadcast — the textbook 100 TB aggregation shape.
@query(
    "grouped_ols_regression",
    oracle="""
WITH base AS (
  SELECT n.n_name AS nation,
         CAST(FLOOR(l.l_quantity * 100 + 0.5) AS BIGINT) AS x,
         CAST(FLOOR(l.l_extendedprice * 100 + 0.5) AS BIGINT) AS y
  FROM lineitem l
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation n ON s.s_nationkey = n.n_nationkey),
m AS (
  SELECT nation,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(CAST(SUM(CAST(x AS DECIMAL(25,0))) AS VARCHAR) AS DOUBLE) AS sx,
         CAST(CAST(SUM(CAST(y AS DECIMAL(25,0))) AS VARCHAR) AS DOUBLE) AS sy,
         CAST(CAST(SUM(CAST(x * y AS DECIMAL(25,0))) AS VARCHAR) AS DOUBLE) AS sxy,
         CAST(CAST(SUM(CAST(x * x AS DECIMAL(25,0))) AS VARCHAR) AS DOUBLE) AS sxx
  FROM base GROUP BY nation)
SELECT nation, n,
       ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
       ROUND((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n, 6)
         AS intercept
FROM m
""",
)
def grouped_ols_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select(
        "l_suppkey",
        F.floor(F.col("l_quantity") * 100 + F.lit(0.5)).cast("long").alias("x"),
        F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long").alias("y"),
    )
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    base = li.join(s, F.col("l_suppkey") == F.col("s_suppkey")).join(
        n, F.col("s_nationkey") == F.col("n_nationkey")
    )
    d = lambda c: F.sum(c.cast("decimal(25,0)")).cast("string").cast("double")
    m = base.groupBy(F.col("n_name").alias("nation")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        d(F.col("x")).alias("sx"),
        d(F.col("y")).alias("sy"),
        d(F.col("x") * F.col("y")).alias("sxy"),
        d(F.col("x") * F.col("x")).alias("sxx"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return m.select(
        "nation",
        "n",
        F.round(slope, 6).alias("slope"),
        F.round((F.col("sy") - slope * F.col("sx")) / F.col("n"), 6).alias(
            "intercept"
        ),
    )
