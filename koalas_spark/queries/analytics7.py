"""Time-series smoothing analytics over the events stream (§2.2
extension).

Reference parity note: the reference (blachlylab/koalas) computes
per-group numeric aggregates via groupby.d numericApply; EWMA is the
ordered-window counterpart a telemetry pipeline layers on top. The
kernel here is engineered for cross-engine bit-exactness: dyadic
weights and a fixed association order make every double operation
identical in Spark and DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from koalas_spark.memo import staged
from koalas_spark.queries import query
from koalas_spark.queries.analytics import _t

# truncated EWMA kernel, alpha = 1/2: weight 2^-(j+1) on the j-th most
# recent value. Powers of two scale a double's exponent only — exact —
# and the sum is folded in one fixed left-to-right chain, so the result
# is a deterministic function of the input doubles in any engine.
_W = [0.5, 0.25, 0.125, 0.0625, 0.03125, 0.015625, 0.0078125, 0.00390625]


# --------------------------------------------------------------------
# 151. per-user EWMA of event value at the latest event. An
# exponential moving average is the classic stream smoother, but the
# recursive form (ema_t = a*v_t + (1-a)*ema_{t-1}) is not expressible
# as a SQL window and would force a stateful per-key scan; truncating
# the kernel at 8 taps (residual weight 2^-8 < 0.4%) turns it into a
# pure lag-window expression: ONE shuffle on user_id, no Python, no
# iteration, identical answers on any partitioning. The final
# row-per-user is a WindowGroupLimit (rank over the same window spec,
# so Spark computes both in a single sort — no second exchange).
@query(
    "ewma_user_value",
    oracle=f"""
SELECT user_id, last_ts, ema8 FROM (
  SELECT user_id, ts AS last_ts,
         ROUND((COALESCE(value, 0.0) * {_W[0]})
           + (COALESCE(LAG(value, 1) OVER w, 0.0) * {_W[1]})
           + (COALESCE(LAG(value, 2) OVER w, 0.0) * {_W[2]})
           + (COALESCE(LAG(value, 3) OVER w, 0.0) * {_W[3]})
           + (COALESCE(LAG(value, 4) OVER w, 0.0) * {_W[4]})
           + (COALESCE(LAG(value, 5) OVER w, 0.0) * {_W[5]})
           + (COALESCE(LAG(value, 6) OVER w, 0.0) * {_W[6]})
           + (COALESCE(LAG(value, 7) OVER w, 0.0) * {_W[7]}), 6) AS ema8,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rk
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)) t
WHERE rk = 1
""",
    bench=False,
)
def ewma_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    ema = F.coalesce(F.col("value"), F.lit(0.0)) * F.lit(_W[0])
    for j in range(1, 8):
        ema = ema + F.coalesce(F.lag("value", j).over(w), F.lit(0.0)) * F.lit(
            _W[j]
        )
    wr = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        ev.select(
            "user_id",
            F.col("ts").alias("last_ts"),
            F.round(ema, 6).alias("ema8"),
            F.row_number().over(wr).alias("rk"),
        )
        .filter(F.col("rk") == 1)
        .select("user_id", "last_ts", "ema8")
    )


# --------------------------------------------------------------------
# 160. trailing-interval load: per event, how many events (and how
# much value) the same user generated in the PRECEDING HOUR — the
# value-range window flavor (RANGE BETWEEN interval) none of the other
# window queries exercise: the frame is defined by the ORDER-BY value,
# not row offsets, so burst detection is exact regardless of event
# spacing. Ordering key is epoch MICROseconds (unix_micros /
# epoch_us): a seconds-granularity cast would truncate and the two
# engines would disagree on frame membership at boundaries. RANGE
# treats equal keys as peers in both engines (ties share a frame), so
# results are deterministic without an event_id tie-break. One
# user_id shuffle; the decimal window sum keeps the value total
# order-independent.
@query(
    "trailing_hour_user_load",
    oracle="""
SELECT event_id, user_id,
       COUNT(*) OVER w AS n_trailing,
       CAST(CAST(SUM(CAST(value AS DECIMAL(25,6))) OVER w AS VARCHAR) AS DOUBLE) AS sum_trailing
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
""",
    bench=False,
)
def trailing_hour_user_load(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-3_600_000_000, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.count(F.lit(1)).over(w).alias("n_trailing"),
        F.sum(F.col("value").cast("decimal(25,6)"))
        .over(w)
        .cast("double")
        .alias("sum_trailing"),
    )


# --------------------------------------------------------------------
# 166. robust outlier detection via MAD (median absolute deviation):
# per event type, med = exact interpolated median of value, mad =
# median of |value - med|, outlier = |value - med| > 3*mad. MAD is
# the standard robust alternative to z-scores (one corrupted sensor
# can't drag the threshold the way it drags a stddev). Plan shape:
# two 5-row aggregates each broadcast back onto the scan — the events
# table streams twice but never shuffles by value, and every per-row
# comparison is pure codegen. Exact interpolated percentiles agree
# bit-for-bit across engines (Spark percentile == DuckDB
# quantile_cont, both on IEEE doubles), so counts are deterministic.
@query(
    "mad_outlier_counts",
    oracle="""
WITH med AS (
  SELECT event_type, quantile_cont(value, 0.5) AS med
  FROM events GROUP BY event_type),
dev AS (
  SELECT e.event_type, e.value, med.med, ABS(e.value - med.med) AS ad
  FROM events e JOIN med ON e.event_type = med.event_type),
mad AS (
  SELECT event_type, quantile_cont(ad, 0.5) AS mad
  FROM dev GROUP BY event_type)
SELECT dev.event_type,
       COUNT(*) AS n,
       ROUND(MAX(dev.med), 6) AS med,
       ROUND(MAX(mad.mad), 6) AS mad,
       CAST(SUM(CASE WHEN dev.ad > 3 * mad.mad THEN 1 ELSE 0 END) AS BIGINT)
         AS n_outliers
FROM dev JOIN mad ON dev.event_type = mad.event_type
GROUP BY dev.event_type
""",
    bench=False,
)
def mad_outlier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    med = ev.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.5)).alias("med")
    )
    dev = ev.join(F.broadcast(med), "event_type").withColumn(
        "ad", F.abs(F.col("value") - F.col("med"))
    )
    mad = dev.groupBy("event_type").agg(
        F.percentile("ad", F.lit(0.5)).alias("mad")
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.max("med"), 6).alias("med"),
            F.round(F.max("mad"), 6).alias("mad"),
            F.sum((F.col("ad") > 3 * F.col("mad")).cast("long"))
            .cast("bigint")
            .alias("n_outliers"),
        )
    )


# --------------------------------------------------------------------
# 175. per-customer record-breaking orders — the running-frontier /
# "new personal best" shape (sessionized price records). The window
# partitions on o_custkey, a key whose cardinality GROWS with the
# data, so partitions stay bounded at any scale (contrast a
# per-segment window: 5 partitions of 1/5 the table each). No
# arithmetic on the price — only comparisons — so doubles compare
# bit-exactly in both engines. First order per customer is a record
# by definition (NULL preceding max).
@query(
    "record_breaking_orders",
    oracle="""
SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice
FROM (
  SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,
         MAX(o_totalprice) OVER (
             PARTITION BY o_custkey
             ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev
  FROM orders) t
WHERE prev IS NULL OR o_totalprice > prev
""",
    bench=False,
)
def record_breaking_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderdate", "o_totalprice"
    )
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        o.withColumn("prev", F.max("o_totalprice").over(w))
        .filter(F.col("prev").isNull() | (F.col("o_totalprice") > F.col("prev")))
        .select("o_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
    )


# --------------------------------------------------------------------
# 176. snapshot time travel — commit orders in two versions (v1 =
# pre-1995 history, v2 = append the rest) into the manifest-based
# snapshot layout (sources/snapshots.py), then read BOTH versions
# back as-of and prove each snapshot is exactly the table it froze:
# version-pinned reads are how a training run reproduces last week's
# corpus after the table kept growing. Commit = one JSON PUT naming
# immutable data dirs (no copies); as-of read = manifest-driven
# parquet union with pushdown intact. Oracle: the same two frozen
# populations straight from the source table.
@query(
    "snapshot_time_travel",
    oracle="""
SELECT 1 AS version, CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(o_orderkey) AS BIGINT) AS sum_keys
FROM orders WHERE o_orderdate < TIMESTAMP '1995-01-01 00:00:00'
UNION ALL
SELECT 2, CAST(COUNT(*) AS BIGINT), CAST(SUM(o_orderkey) AS BIGINT)
FROM orders
""",
    bench=False,
)
def snapshot_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from koalas_spark.sources.snapshots import read_snapshot

    path = orders_snapshot(spark, sf_dir)

    def as_of(v: int) -> DataFrame:
        return read_snapshot(spark, path, version=v).agg(
            F.lit(v).cast("int").alias("version"),
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum("o_orderkey").cast("bigint").alias("sum_keys"),
        )

    return as_of(1).unionByName(as_of(2))


def orders_snapshot(spark: SparkSession, sf_dir: str) -> str:
    """The two-version orders snapshot table (v1 = pre-1995, v2 = the
    rest appended), staged once per session. A write interrupted
    between the two commits leaves the stage unmarked, so the staging
    rebuilds the table from scratch rather than append to it."""
    from koalas_spark.sources.snapshots import write_snapshot

    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    cut = F.lit("1995-01-01").cast("timestamp")

    def write(path: str) -> None:
        write_snapshot(o.filter(F.col("o_orderdate") < cut), path)
        write_snapshot(o.filter(F.col("o_orderdate") >= cut), path)

    return staged(spark, "snap_orders", (sf_dir, "orders"), write)


# --------------------------------------------------------------------
# 179. event-transition matrix — the first-order Markov view of user
# behaviour (what follows what, with transition probabilities): LEAD
# over (user_id, time) pairs each event with its successor, then one
# map-side-combined count per (type, next_type). The per-user window
# partitions on a key whose cardinality grows with the data (bounded
# partitions at any scale); the probability normalization runs over
# the ~|types|² aggregated matrix rows, not the event stream.
# prob_ppm is an exact integer ratio — no float division to drift.
@query(
    "event_transition_matrix",
    oracle="""
WITH seq AS (
  SELECT user_id, event_type,
         LEAD(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS next_type
  FROM events)
SELECT event_type, next_type,
       CAST(COUNT(*) AS BIGINT) AS cnt,
       CAST(COUNT(*) * 1000000
            // SUM(COUNT(*)) OVER (PARTITION BY event_type) AS BIGINT)
         AS prob_ppm
FROM seq WHERE next_type IS NOT NULL
GROUP BY event_type, next_type
""",
    bench=False,
)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events").select("user_id", "event_type", "ts", "event_id")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        e.withColumn("next_type", F.lead("event_type").over(w))
        .filter(F.col("next_type").isNotNull())
        .groupBy("event_type", "next_type")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return pairs.select(
        "event_type",
        "next_type",
        F.col("c").cast("bigint").alias("cnt"),
        F.expr("c * 1000000 div sum(c) over (partition by event_type)")
        .cast("bigint")
        .alias("prob_ppm"),
    )


# --------------------------------------------------------------------
# 180. conversion latency — seconds from a user's FIRST view to their
# first purchase at-or-after it, summarized as exact interpolated
# percentiles. Two conditional single-key aggregations + one user_id
# equi-join (co-partitioned shuffle, bounded per-user state); the
# percentile runs over the per-user latency table (one row per
# converter), never the event stream. Latency is an integer-seconds
# diff of the normalized NTZ timestamps — identical in both engines
# on this UTC host — and percentile()/quantile_cont agree exactly on
# integer inputs. The 1-row viewer count broadcasts (expected BNLJ).
@query(
    "conversion_latency_stats",
    oracle="""
WITH v AS (SELECT user_id, MIN(ts) AS v0 FROM events
           WHERE event_type = 'view' GROUP BY user_id),
p AS (SELECT e.user_id, MIN(e.ts) AS p0
      FROM events e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'purchase' AND e.ts >= v.v0
      GROUP BY e.user_id),
l AS (SELECT v.user_id, date_diff('second', v.v0, p.p0) AS secs
      FROM v JOIN p ON v.user_id = p.user_id)
SELECT CAST((SELECT COUNT(*) FROM v) AS BIGINT) AS n_viewers,
       CAST(COUNT(*) AS BIGINT)                 AS n_converted,
       quantile_cont(secs, 0.5)                 AS p50_s,
       quantile_cont(secs, 0.9)                 AS p90_s,
       CAST(MAX(secs) AS BIGINT)                AS max_s
FROM l
""",
    bench=False,
    allow={"BroadcastNestedLoopJoin"},
)
def conversion_latency_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("v0"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(v, "user_id")
        .filter(F.col("ts") >= F.col("v0"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("p0"))
    )
    lat = v.join(p, "user_id").select(
        (F.unix_timestamp("p0") - F.unix_timestamp("v0")).alias("secs")
    )
    stats = lat.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_converted"),
        F.percentile("secs", F.lit(0.5)).alias("p50_s"),
        F.percentile("secs", F.lit(0.9)).alias("p90_s"),
        F.max("secs").cast("bigint").alias("max_s"),
    )
    n_v = v.agg(F.count(F.lit(1)).cast("bigint").alias("n_viewers"))
    return n_v.crossJoin(stats).select(
        "n_viewers", "n_converted", "p50_s", "p90_s", "max_s"
    )


# --------------------------------------------------------------------
# 181. longest daily-activity streak — the gaps-and-islands pattern:
# consecutive calendar days collapse to one island because
# day − row_number() is constant within a run (the standard
# Tabibitosan trick, pure window arithmetic — no self-join, no
# iteration). Both windows partition on user_id (cardinality grows
# with the data, partitions stay bounded); the per-island and
# per-user aggregations are map-side-combined counts over the tiny
# (user, day) distinct frame, never the raw event stream. Integer
# date arithmetic only — nothing to drift between engines.
@query(
    "longest_daily_streak",
    oracle="""
WITH d AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
i AS (SELECT user_id, day,
             day - CAST(ROW_NUMBER() OVER (PARTITION BY user_id
                                           ORDER BY day) AS INTEGER) AS island
      FROM d),
s AS (SELECT user_id, island, COUNT(*) AS streak_len, MIN(day) AS streak_start
      FROM i GROUP BY user_id, island),
r AS (SELECT user_id, streak_len, streak_start,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY streak_len DESC, streak_start) AS rk
      FROM s)
SELECT user_id, CAST(streak_len AS BIGINT) AS streak_len, streak_start
FROM r WHERE rk = 1
""",
    bench=False,
)
def longest_daily_streak(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events").select(
        "user_id", F.col("ts").cast("date").alias("day")
    ).distinct()
    wi = Window.partitionBy("user_id").orderBy("day")
    i = e.withColumn(
        "island", F.date_sub("day", F.row_number().over(wi))
    )
    s = i.groupBy("user_id", "island").agg(
        F.count(F.lit(1)).alias("streak_len"),
        F.min("day").alias("streak_start"),
    )
    wr = Window.partitionBy("user_id").orderBy(
        F.desc("streak_len"), "streak_start"
    )
    return (
        s.withColumn("rk", F.row_number().over(wr))
        .filter(F.col("rk") == 1)
        .select(
            "user_id",
            F.col("streak_len").cast("bigint").alias("streak_len"),
            "streak_start",
        )
    )
