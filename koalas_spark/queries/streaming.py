"""Streaming query (§2.7): same tumbling-window semantics as the batch
query #34, executed by the Structured Streaming engine."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from koalas_spark.queries import query
from koalas_spark.queries.analytics import _dsum_sql
from koalas_spark.queries.dedup import INC_NEARDUP_ORACLE as _INC_ORACLE
from koalas_spark.streaming import stream_tumbling_counts


# 50. streaming tumbling-window agg — oracle shared with the batch
# formulation (window.start == date_trunc('hour', ts) for 1h windows).
@query(
    "stream_tumbling_agg",
    oracle=f"""
SELECT DATE_TRUNC('hour', ts) AS window_start, event_type,
       COUNT(*) AS n, {_dsum_sql('value')} AS sum_value
FROM events GROUP BY 1, 2
""",
    bench=False,
    audit=False,
)
def stream_tumbling_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    return stream_tumbling_counts(spark, f"{sf_dir}/events.parquet", "1 hour", "1 hour")


# 62. stream-static join: events stream enriched with a static
# per-user order-spend band (broadcast), aggregated per type x band.
# Oracle: identical batch join in SQL — after processAllAvailable the
# stream has seen exactly the full file, so results must be equal.
@query(
    "stream_static_join",
    oracle=f"""
SELECT event_type, COALESCE(band, 'none') AS band,
       COUNT(*) AS n,
       {_dsum_sql('value')} AS sum_value
FROM events e LEFT JOIN (
  SELECT o_custkey AS user_id,
         CASE WHEN SUM(CAST(o_totalprice AS DECIMAL(25,6))) > 1000000
              THEN 'big' ELSE 'small' END AS band
  FROM orders GROUP BY o_custkey) p
ON e.user_id = p.user_id
GROUP BY event_type, COALESCE(band, 'none')
""",
    bench=False,
    audit=False,
)
def stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from koalas_spark.queries.analytics import _t
    from koalas_spark.streaming.windows import stream_static_join_agg

    orders = _t(spark, sf_dir, "orders")
    return stream_static_join_agg(spark, f"{sf_dir}/events.parquet", orders)


# 81. streaming dedup — dropDuplicatesWithinWatermark on event_id
# (watermark-bounded id state); with a bounded source and unique ids
# the result equals the plain batch aggregation, which is the oracle.
@query(
    "stream_dedup_agg",
    oracle=f"""
SELECT event_type, COUNT(*) AS n,
       {_dsum_sql('value')} AS sum_value
FROM (SELECT DISTINCT ON (event_id) event_type, value FROM events ORDER BY event_id) t
GROUP BY event_type
""",
    bench=False,
    audit=False,
)
def stream_dedup_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from koalas_spark.streaming.windows import stream_dedup_events

    return stream_dedup_events(spark, f"{sf_dir}/events.parquet")


# 97. stream-stream interval join — click→purchase attribution within
# 30 minutes, per user. Inner join + two-sided event-time bound means
# state is watermark-evicted; on a bounded source the result equals
# the batch self-join, which is the oracle.
@query(
    "stream_stream_join",
    oracle="""
SELECT a.user_id, COUNT(*) AS n_pairs
FROM events a JOIN events b
  ON a.user_id = b.user_id
 AND a.event_type = 'click' AND b.event_type = 'purchase'
 AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 30 MINUTE
GROUP BY a.user_id
""",
    bench=False,
    audit=False,
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from koalas_spark.streaming.windows import stream_stream_interval_join

    return stream_stream_interval_join(spark, f"{sf_dir}/events.parquet")


# 51. custom stateful streaming operator — per-user sessionization via
# applyInPandasWithState. Since r7 the open-session tail is FLUSHED
# (streaming/windows._run_to_memory), so the emitted rows are exactly
# the batch sessionization and the op shares a batch oracle
# (previously rows-only with prefix-subset asserts). Session boundary
# is strictly-greater-than-gap, matching the stateful op's
# `t - last > gap`; session_end is the LAST EVENT's ts (no gap pad).
@query(
    "stream_stateful_sessions",
    oracle="""
SELECT user_id, MIN(ts) AS session_start, MAX(ts) AS session_end,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM (
  SELECT user_id, ts,
         SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS sid
  FROM (
    SELECT user_id, ts, event_id,
           CASE WHEN LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                     IS NULL
                OR ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                     > INTERVAL 30 MINUTE
                THEN 1 ELSE 0 END AS is_new
    FROM events) a) b
GROUP BY user_id, sid
""",
    bench=False,
    audit=False,
)
def stream_stateful_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from koalas_spark.streaming.stateful import stream_sessionize

    return stream_sessionize(spark, f"{sf_dir}/events.parquet")


# 112. streaming session windows — the batch session definition
# (#102) executed by the streaming engine via the same native
# session_window groupBy; oracle shared with the batch query.
@query(
    "stream_session_agg",
    oracle="""
SELECT user_id, MIN(ts) AS session_start,
       MAX(ts) + INTERVAL 30 MINUTE AS session_end,
       COUNT(*) AS n_events
FROM (
  SELECT user_id, ts,
         SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS sid
  FROM (
    SELECT user_id, ts, event_id,
           CASE WHEN LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                     IS NULL
                OR ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                     >= INTERVAL 30 MINUTE
                THEN 1 ELSE 0 END AS is_new
    FROM events) a) b
GROUP BY user_id, sid
""",
    bench=False,
    audit=False,
)
def stream_session_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from koalas_spark.streaming.windows import stream_session_counts

    return stream_session_counts(spark, f"{sf_dir}/events.parquet")


# 133. distinct users per window through the streaming engine:
# watermarked dedup state on (window, user_id), append-mode emission,
# batch-side count — exact streaming distinct is only expressible as
# dedup-then-count, which is the production pattern pinned here.
@query(
    "stream_windowed_distinct_users",
    oracle="""
SELECT DATE_TRUNC('hour', ts) AS window_start,
       COUNT(DISTINCT user_id) AS n_users
FROM events GROUP BY 1
""",
    bench=False,
    audit=False,
)
def stream_windowed_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    from koalas_spark.streaming.windows import stream_windowed_distinct_users as op

    return op(spark, f"{sf_dir}/events.parquet")


# 134. streaming → parquet lake via foreachBatch with per-batch
# overwrite (idempotent replay = exactly-once sink on top of
# checkpointed offsets); the read-back lake must aggregate identically
# to the batch source, which is the oracle.
@query(
    "stream_foreachbatch_sink",
    oracle=f"""
SELECT event_type, COUNT(*) AS n,
       {_dsum_sql('value')} AS sum_value
FROM events GROUP BY event_type
""",
    bench=False,
    audit=False,
)
def stream_foreachbatch_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    from koalas_spark.streaming.windows import stream_foreachbatch_parquet

    return stream_foreachbatch_parquet(spark, f"{sf_dir}/events.parquet")


# 155. streaming sliding-window agg — the batch sliding definition
# (#57) executed by the streaming engine: 1h windows every 30min, each
# event assigned to 2 windows at ingest, watermark-evicted state.
# Oracle shared with the batch query (time_bucket union of the two
# containing windows).
@query(
    "stream_sliding_agg",
    oracle=f"""
WITH shifted AS (
  SELECT time_bucket(INTERVAL '30 minutes', ts) AS window_start, event_type, value FROM events
  UNION ALL
  SELECT time_bucket(INTERVAL '30 minutes', ts) - INTERVAL 30 MINUTE, event_type, value FROM events)
SELECT window_start, event_type, COUNT(*) AS n, {_dsum_sql('value')} AS sum_value
FROM shifted GROUP BY window_start, event_type
""",
    bench=False,
    audit=False,
)
def stream_sliding_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from koalas_spark.streaming.windows import stream_sliding_counts

    return stream_sliding_counts(spark, f"{sf_dir}/events.parquet")


# 206. streaming LOCF — the second custom stateful operator
# (applyInPandasWithState): per-user last-observation state repairs
# the same planted missingness as batch #202, and because ingestion
# replays time-ordered, the result is EXACTLY the batch window's —
# so this custom streaming operator shares the batch oracle (the
# strongest check a stateful op can get; since r7
# stream_stateful_sessions reaches the same bar by its tail flush).
@query(
    "stream_locf_impute",
    oracle=f"""
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
       {_dsum_sql('v_filled')}
         AS sum_filled
FROM filled GROUP BY event_type
""",
    bench=False,
    audit=False,
)
def stream_locf_impute(spark: SparkSession, sf_dir: str) -> DataFrame:
    from koalas_spark.streaming.stateful import stream_locf

    return stream_locf(spark, f"{sf_dir}/events.parquet")


# 210. streaming incremental near-dedup — the streaming twin of batch
# #209: new docs stream in, compute minhash signatures in-flight (the
# Arrow kernel runs unchanged on streaming frames), probe the STATIC
# catalog's band buckets via stream-static joins, verify by slot
# agreement, and keep each doc's best catalog match in a single
# complete-mode aggregate (band-duplicate candidates collapse in the
# max — no streaming DISTINCT needed). Bounded replay == the batch
# result, so it shares #209's oracle verbatim.
# 308. streaming rate alert — the ops-alerting shape: tumbling
# per-window counts maintained by the streaming engine, the RELATIVE
# threshold (count > 2x mean window count) applied sink-side over the
# whole gauge table, foreachBatch-style. Exact-integer
# cross-multiplication decides the alert, so the oracle (the same
# HAVING over a batch tumbling agg) matches bit-for-bit.
@query(
    "stream_rate_alert",
    oracle="""
WITH g AS (
  SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY 1),
t AS (SELECT CAST(SUM(n) AS BIGINT) AS total,
             CAST(COUNT(*) AS BIGINT) AS n_windows FROM g)
SELECT g.window_start, g.n
FROM g, t
WHERE CAST(g.n AS DECIMAL(38,0)) * t.n_windows
      > 2 * CAST(t.total AS DECIMAL(38,0))
""",
    bench=False,
    # 1-row gauge-totals frame cross-joined onto the window counts
    allow={"BroadcastNestedLoopJoin"},
)
def stream_rate_alert(spark: SparkSession, sf_dir: str) -> DataFrame:
    from koalas_spark.streaming.windows import stream_rate_alert_windows

    return stream_rate_alert_windows(spark, f"{sf_dir}/events.parquet")


# 309. streaming first-touch attribution — one min-struct state row
# per user (smallest (ts, event_id) wins, deterministic under any
# replay order), aggregated into per-first-event-type user counts.
# The batch oracle replays the same min-struct selection with a
# window; bounded replay makes them equal.
@query(
    "stream_user_first_touch",
    oracle="""
WITH firsts AS (
  SELECT user_id, event_type, CAST(FLOOR(epoch(ts)) AS BIGINT) AS sec,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY CAST(FLOOR(epoch(ts)) AS BIGINT),
                                     event_id) AS rk
  FROM events)
SELECT event_type AS first_type,
       CAST(COUNT(*) AS BIGINT) AS n_users,
       CAST(MIN(sec) AS BIGINT) AS earliest_sec
FROM firsts WHERE rk = 1 GROUP BY 1
""",
    bench=False,
)
def stream_user_first_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from koalas_spark.streaming.windows import stream_first_touch_counts

    return stream_first_touch_counts(spark, f"{sf_dir}/events.parquet")


# 335. append-mode closed-window emission — the once-per-window
# delivery contract (downstream sinks that can't upsert — Kafka
# topics, notification fans — require append mode): only windows the
# watermark has passed are emitted; the trailing open window is
# withheld. Oracle: the batch tumbling agg restricted to windows with
# end ≤ max(event ms) − 1h — exactly the final watermark the bounded
# replay reaches (Spark tracks event time in ms; the oracle
# replicates the ms truncation).
@query(
    "stream_append_closed_windows",
    oracle="""
WITH wm AS (
  SELECT (epoch_ms(MAX(ts)) - 3600000) AS wm_ms FROM events),
g AS (
  SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start, event_type,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE)
           AS sum_value
  FROM events GROUP BY 1, 2)
SELECT g.window_start, g.event_type, g.n, g.sum_value
FROM g, wm
WHERE epoch_ms(g.window_start) + 3600000 <= wm.wm_ms
""",
    bench=False,
)
def stream_append_closed_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    from koalas_spark.streaming.windows import (
        stream_append_closed_windows as op,
    )

    return op(spark, f"{sf_dir}/events.parquet")


@query("stream_incremental_neardup", oracle=_INC_ORACLE, bench=False)
def stream_incremental_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from koalas_spark.streaming.windows import stream_incremental_neardup as op

    return op(spark, f"{sf_dir}/documents.parquet")


# 402. stream-stream LEFT OUTER interval join — #97's attribution
# join with the rows the inner form drops: clicks that never convert
# EMIT with a null purchase side once the watermark proves no match
# can still arrive. Outer emission is watermark-driven, so the bounded
# replay flushes its tail (streaming/windows._run_to_memory).
# Batch-equal after the flush, so the oracle is the plain SQL left join.
@query(
    "stream_left_outer_join",
    oracle="""
WITH c AS (SELECT user_id, ts FROM events WHERE event_type = 'click'),
p AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase'),
j AS (
  SELECT c.user_id, p.ts AS pts
  FROM c LEFT JOIN p
    ON p.user_id = c.user_id
   AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(pts) AS BIGINT) AS n_matched,
       CAST(SUM(CASE WHEN pts IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_expired
FROM j GROUP BY user_id
""",
    bench=False,
    audit=False,
)
def stream_left_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from koalas_spark.streaming.windows import stream_left_outer_interval_join

    return stream_left_outer_interval_join(spark, f"{sf_dir}/events.parquet")


# 420. chained stateful aggregation — Spark 4 allows MULTIPLE
# stateful operators per streaming query: 15-min tumbling counts
# re-windowed into hourly peak/total rows (the peak-to-mean alerting
# shape that used to need two queries glued by a sink). Append mode:
# an hourly row emits once the shared watermark passes its end, so
# the bounded replay emits exactly the hours with
# end <= max(event ms) - 1h (#335's closed-window oracle device,
# one level up).
@query(
    "stream_chained_window_agg",
    oracle="""
WITH wm AS (
  SELECT (epoch_ms(MAX(ts)) - 3600000) AS wm_ms FROM events),
q AS (
  SELECT time_bucket(INTERVAL '15 minutes', ts) AS q_start, event_type,
         CAST(COUNT(*) AS BIGINT) AS n15
  FROM events GROUP BY 1, 2),
h AS (
  SELECT time_bucket(INTERVAL '1 hour', q_start) AS window_start,
         event_type,
         CAST(MAX(n15) AS BIGINT) AS peak15,
         CAST(SUM(n15) AS BIGINT) AS total,
         CAST(COUNT(*) AS BIGINT) AS n_cells
  FROM q GROUP BY 1, 2)
SELECT h.window_start, h.event_type, h.peak15, h.total, h.n_cells
FROM h, wm
WHERE epoch_ms(h.window_start) + 3600000 <= wm.wm_ms
""",
    bench=False,
    audit=False,
)
def stream_chained_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from koalas_spark.streaming.windows import stream_chained_window_agg

    return stream_chained_window_agg(spark, f"{sf_dir}/events.parquet")


# 433. checkpointed restart recovery — exactly-once actually
# EXERCISED, not just configured: half the source streams into an
# idempotent foreachBatch lake, the query stops, a NEW query on the
# SAME checkpoint picks up only the unseen half (committed file-source
# offsets), and the lake must equal one batch pass over the full
# source — a lost row (offset skipped) or a duplicate (replay not
# absorbed) both break the oracle equality. See
# streaming/windows.py stream_checkpoint_restart.
@query(
    "stream_checkpoint_restart",
    oracle="""
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE)
         AS sum_value
FROM events GROUP BY event_type
""",
    audit=False,
)
def stream_checkpoint_restart(spark: SparkSession, sf_dir: str) -> DataFrame:
    from koalas_spark.streaming.windows import stream_checkpoint_restart

    return stream_checkpoint_restart(spark, f"{sf_dir}/events.parquet")
