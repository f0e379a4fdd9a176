"""Event-analytics + join-semantics suite (SURVEY.md §2.2 §100-106,
§113-117, §123-126): ordered funnel, retention cohorts, native session
windows, first-touch attribution, GROUPING SETS, value histograms, CDC
latest-state compaction, full-outer reconciliation, multiset EXCEPT
ALL, null-safe join, VARIANT extraction, lateral correlated top-k,
mergeable HLL rollup, sketched heavy hitters, SQL pipe syntax, and
DataFrame.transpose.

Reference parity: these extend the groupby/sort/window family of
`groupby.d` / `index.d` (sort-based grouping, `dataframe.d:177 sort`)
to the event-log shapes a production pipeline actually runs. Every
query keys its shuffles on `user_id`/`o_custkey` so consecutive
window + agg stages reuse ONE exchange (Catalyst collapses same-key
windows into a single sort), and per-row math stays in whole-stage
codegen — no Python in any hot path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from koalas_spark.queries import query
from koalas_spark.queries.analytics import DEC, _t


# --------------------------------------------------------------------
# 100. ordered conversion funnel view -> click -> purchase. A click
# counts only if a view happened STRICTLY before it; a purchase only
# if a qualifying click happened strictly before it. One shuffle on
# user_id; the two chained "earliest qualifying prior event" passes
# are range-frame window minimums over the SAME (user_id, ts) sort,
# so Catalyst plans a single exchange + single sort; strictness rides
# on microsecond epochs (exact in both engines, no same-second ties).
@query(
    "funnel_conversion",
    oracle="""
WITH v AS (
  SELECT user_id, MIN(ts) AS tv FROM events
  WHERE event_type = 'view' GROUP BY user_id),
c AS (
  SELECT e.user_id, MIN(e.ts) AS tc
  FROM events e JOIN v ON v.user_id = e.user_id
  WHERE e.event_type = 'click' AND e.ts > v.tv
  GROUP BY e.user_id),
p AS (
  SELECT e.user_id, MIN(e.ts) AS tp
  FROM events e JOIN c ON c.user_id = e.user_id
  WHERE e.event_type = 'purchase' AND e.ts > c.tc
  GROUP BY e.user_id)
SELECT stage, n_users FROM (
  SELECT 1 AS ord, 'view' AS stage, (SELECT COUNT(*) FROM v) AS n_users
  UNION ALL
  SELECT 2, 'click_after_view', (SELECT COUNT(*) FROM c)
  UNION ALL
  SELECT 3, 'purchase_after_click', (SELECT COUNT(*) FROM p)) t
ORDER BY ord
""",
)
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        # ts may arrive as TIMESTAMP or TIMESTAMP_NTZ depending on the
        # parquet writer's isAdjustedToUTC flag; cast to LTZ first
        # (identity under the UTC session tz) so unix_micros resolves
        # for both.
        F.unix_micros(F.col("ts").cast("timestamp_ltz")).alias("us"),
    )
    before = (
        Window.partitionBy("user_id")
        .orderBy("us")
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    first_view = F.min(F.when(F.col("event_type") == "view", F.col("us"))).over(
        before
    )
    staged = ev.withColumn("first_view", first_view)
    click_ok = (F.col("event_type") == "click") & F.col("first_view").isNotNull()
    first_click = F.min(F.when(click_ok, F.col("us"))).over(before)
    staged = staged.withColumn("first_click", first_click)
    purchase_ok = (F.col("event_type") == "purchase") & F.col(
        "first_click"
    ).isNotNull()
    per_user = staged.groupBy("user_id").agg(
        F.max(F.col("event_type") == "view").alias("has_view"),
        F.max(click_ok).alias("has_click"),
        F.max(purchase_ok).alias("has_purchase"),
    )
    counts = per_user.agg(
        F.sum(F.col("has_view").cast("long")).alias("n_view"),
        F.sum(F.col("has_click").cast("long")).alias("n_click"),
        F.sum(F.col("has_purchase").cast("long")).alias("n_purchase"),
    )
    stages = F.array(
        F.struct(F.lit(1).alias("ord"), F.lit("view").alias("stage"), F.col("n_view").alias("n_users")),
        F.struct(F.lit(2).alias("ord"), F.lit("click_after_view").alias("stage"), F.col("n_click").alias("n_users")),
        F.struct(F.lit(3).alias("ord"), F.lit("purchase_after_click").alias("stage"), F.col("n_purchase").alias("n_users")),
    )
    return (
        counts.select(F.explode(stages).alias("s"))
        .select("s.ord", "s.stage", "s.n_users")
        .orderBy("ord")
        .select("stage", "n_users")
    )


# --------------------------------------------------------------------
# 101. retention cohorts — users bucketed by ISO week of their first
# event; activity counted per (cohort_week, weeks_since). The cohort
# assignment is a window min over the same user_id partitioning the
# final agg shuffles on. Distinct-user counts are exact (hash agg).
@query(
    "retention_cohorts",
    oracle="""
SELECT cohort_week, CAST(datediff('day', cohort_week, active_week) // 7 AS INT)
         AS weeks_since,
       COUNT(DISTINCT user_id) AS n_active
FROM (
  SELECT user_id,
         CAST(date_trunc('week', MIN(ts) OVER (PARTITION BY user_id)) AS DATE)
           AS cohort_week,
         CAST(date_trunc('week', ts) AS DATE) AS active_week
  FROM events) t
GROUP BY cohort_week, weeks_since
""",
    bench=False,
)
def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select("user_id", "ts")
    w = Window.partitionBy("user_id")
    cohort = F.date_trunc("week", F.min("ts").over(w)).cast("date")
    active = F.date_trunc("week", F.col("ts")).cast("date")
    return (
        ev.withColumn("cohort_week", cohort)
        .withColumn("active_week", active)
        .withColumn(
            "weeks_since",
            F.floor(F.datediff("active_week", "cohort_week") / 7).cast("int"),
        )
        .groupBy("cohort_week", "weeks_since")
        .agg(F.count_distinct("user_id").alias("n_active"))
    )


# --------------------------------------------------------------------
# 102. native session windows — Spark's built-in session_window
# operator (30-min inactivity gap) instead of the hand-rolled
# lag+cumsum of §32; same one-shuffle-on-user_id plan but the session
# merge runs inside the JVM aggregate, and the identical groupBy works
# unchanged under Structured Streaming. Spark sessions span
# [first_ts, last_ts + gap); an event landing exactly at the close
# boundary starts a NEW session, hence >= in the oracle.
@query(
    "session_window_native",
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
)
def session_window_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes").alias("sw"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
        )
    )


# --------------------------------------------------------------------
# 103. first-touch attribution — each user's revenue credited to the
# event_type of their FIRST event (ts then event_id tie-break, fully
# deterministic). Both the first-touch window and the revenue agg
# shuffle on user_id, so the join between them is co-partitioned:
# Catalyst reuses the exchange instead of re-shuffling either side.
@query(
    "first_touch_attribution",
    oracle="""
WITH first_touch AS (
  SELECT user_id, event_type AS channel
  FROM (
    SELECT user_id, event_type,
           ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rk
    FROM events) t
  WHERE rk = 1),
rev AS (
  SELECT user_id,
         CAST(CAST(SUM(CAST(value AS DECIMAL(25,6))) AS VARCHAR) AS DOUBLE) AS revenue
  FROM events WHERE event_type = 'purchase' GROUP BY user_id)
SELECT channel, COUNT(*) AS n_users,
       CAST(SUM(CASE WHEN COALESCE(r.revenue, 0) > 0 THEN 1 ELSE 0 END)
         AS BIGINT) AS n_purchasers,
       CAST(CAST(SUM(CAST(COALESCE(r.revenue, 0) AS DECIMAL(25,6))) AS VARCHAR) AS DOUBLE)
         AS attributed_revenue
FROM first_touch f LEFT JOIN rev r ON f.user_id = r.user_id
GROUP BY channel
""",
    bench=False,
)
def first_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    first_touch = (
        ev.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("user_id", F.col("event_type").alias("channel"))
    )
    rev = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.sum(F.col("value").cast(DEC)).cast("double").alias("revenue"))
    )
    joined = first_touch.join(rev, "user_id", "left").select(
        "channel", F.coalesce("revenue", F.lit(0.0)).alias("revenue")
    )
    return joined.groupBy("channel").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum((F.col("revenue") > 0).cast("long")).alias("n_purchasers"),
        F.sum(F.col("revenue").cast(DEC)).cast("double").alias("attributed_revenue"),
    )


# --------------------------------------------------------------------
# 104. explicit GROUPING SETS — ((returnflag), (linestatus), ()) in a
# single pass, distinct from rollup/cube (§29/§30): Spark expands the
# sets map-side and partially aggregates each, so the shuffle carries
# |sets| x |groups| rows, never the fact table. grouping_id
# disambiguates the NULL produced by set expansion from a NULL key.
@query(
    "grouping_sets_agg",
    oracle="""
SELECT l_returnflag, l_linestatus,
       CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS BIGINT)
         AS gid,
       COUNT(*) AS n,
       CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(25,6))) AS VARCHAR) AS DOUBLE) AS sum_qty
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
""",
    bench=False,
)
def grouping_sets_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupingSets(
            [["l_returnflag"], ["l_linestatus"], []],
            "l_returnflag",
            "l_linestatus",
        )
        .agg(
            F.grouping_id().cast("bigint").alias("gid"),
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("l_quantity").cast(DEC)).cast("double").alias("sum_qty"),
        )
        .select("l_returnflag", "l_linestatus", "gid", "n", "sum_qty")
    )


# --------------------------------------------------------------------
# 105. value histogram — fixed-width 50-unit buckets per event_type,
# pure integer floor arithmetic (no width_bucket: identical semantics
# hand-rolled portably). Per-row bucketing is codegen'd; the agg is a
# partial-combine groupBy on (event_type, bucket) — tiny shuffle.
@query(
    "value_histogram",
    oracle="""
SELECT event_type, CAST(FLOOR(value / 50) AS INT) AS bucket,
       COUNT(*) AS n,
       CAST(CAST(SUM(CAST(value AS DECIMAL(25,6))) AS VARCHAR) AS DOUBLE) AS sum_value
FROM events
GROUP BY event_type, bucket
""",
    bench=False,
)
def value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return (
        ev.withColumn("bucket", F.floor(F.col("value") / 50).cast("int"))
        .groupBy("event_type", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast(DEC)).cast("double").alias("sum_value"),
        )
    )


# --------------------------------------------------------------------
# 106. CDC latest-state compaction — collapse an append-only changelog
# (orders as per-customer updates) to each key's newest record, the
# MERGE/upsert pattern every incremental pipeline runs. row_number
# over (key, recency desc) then rk=1: one shuffle on the key, and
# Spark 3.5+ pushes a WindowGroupLimit below the sort so each
# partition keeps only its top row instead of sorting all history.
@query(
    "cdc_upsert_compact",
    oracle="""
SELECT o_orderstatus, COUNT(*) AS n_customers,
       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6))) AS VARCHAR) AS DOUBLE)
         AS latest_price_sum
FROM (
  SELECT o_custkey, o_orderstatus, o_totalprice,
         ROW_NUMBER() OVER (PARTITION BY o_custkey
                            ORDER BY o_orderdate DESC, o_orderkey DESC) AS rk
  FROM orders) t
WHERE rk = 1
GROUP BY o_orderstatus
""",
)
def cdc_upsert_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").desc(), F.col("o_orderkey").desc()
    )
    latest = (
        o.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("o_custkey", "o_orderstatus", "o_totalprice")
    )
    return latest.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum(F.col("o_totalprice").cast(DEC))
        .cast("double")
        .alias("latest_price_sum"),
    )


# --------------------------------------------------------------------
# 113. full-outer reconciliation — order revenue vs purchase-event
# revenue per calendar day; days present on either side survive with
# zero-filled gaps. Both sides pre-aggregate to |days| rows BEFORE
# the full-outer join, so the join input is bounded by the calendar,
# not the fact tables.
@query(
    "full_outer_reconciliation",
    oracle="""
WITH o AS (
  SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
         CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6))) AS VARCHAR) AS DOUBLE) AS order_rev
  FROM orders GROUP BY day),
e AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
         CAST(CAST(SUM(CAST(value AS DECIMAL(25,6))) AS VARCHAR) AS DOUBLE) AS event_rev
  FROM events WHERE event_type = 'purchase' GROUP BY day)
SELECT COALESCE(o.day, e.day) AS day,
       COALESCE(order_rev, 0) AS order_rev,
       COALESCE(event_rev, 0) AS event_rev,
       CASE WHEN o.day IS NULL THEN 'event_only'
            WHEN e.day IS NULL THEN 'order_only'
            ELSE 'both' END AS presence
FROM o FULL OUTER JOIN e ON o.day = e.day
""",
    bench=False,
)
def full_outer_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = (
        _t(spark, sf_dir, "orders")
        .groupBy(F.date_trunc("day", "o_orderdate").cast("date").alias("day"))
        .agg(
            F.sum(F.col("o_totalprice").cast(DEC)).cast("double").alias("order_rev")
        )
    )
    e = (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .groupBy(F.date_trunc("day", "ts").cast("date").alias("day"))
        .agg(F.sum(F.col("value").cast(DEC)).cast("double").alias("event_rev"))
    )
    oj = o.alias("o").join(e.alias("e"), F.col("o.day") == F.col("e.day"), "outer")
    return oj.select(
        F.coalesce("o.day", "e.day").alias("day"),
        F.coalesce("order_rev", F.lit(0.0)).alias("order_rev"),
        F.coalesce("event_rev", F.lit(0.0)).alias("event_rev"),
        F.when(F.col("o.day").isNull(), "event_only")
        .when(F.col("e.day").isNull(), "order_only")
        .otherwise("both")
        .alias("presence"),
    )


# --------------------------------------------------------------------
# 114. multiset difference — parts shipped in 1997 EXCEPT ALL parts
# shipped in 1998: each part key survives (count_1997 - count_1998)
# times, the multiset semantics distinct() loses. Spark plans this as
# one hash aggregate with count subtraction + generate — no join.
@query(
    "set_except_all",
    oracle="""
SELECT l_partkey FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
EXCEPT ALL
SELECT l_partkey FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1998-01-01' AND l_shipdate < TIMESTAMP '1999-01-01'
""",
    bench=False,
)
def set_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    y97 = li.filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    ).select("l_partkey")
    y98 = li.filter(
        (F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1999-01-01").cast("timestamp"))
    ).select("l_partkey")
    return y97.exceptAll(y98)


# --------------------------------------------------------------------
# 115. null-safe join — priority classes with '1-URGENT' nulled out on
# both sides, joined with <=> (IS NOT DISTINCT FROM): the NULL group
# matches itself, which a plain equi-join silently drops. Exercises
# Spark's EqualNullSafe join key (still hash-partitionable — NULL
# hashes to a regular bucket, no skew surprise).
@query(
    "null_safe_join",
    oracle="""
WITH a AS (
  SELECT NULLIF(o_orderpriority, '1-URGENT') AS pclass, COUNT(*) AS n_orders
  FROM orders GROUP BY 1),
b AS (
  SELECT NULLIF(o_orderpriority, '1-URGENT') AS pclass,
         CAST(CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6))) AS VARCHAR) AS DOUBLE)
              / COUNT(*) AS DOUBLE) AS avg_price
  FROM orders GROUP BY 1)
SELECT a.pclass, n_orders, avg_price
FROM a JOIN b ON a.pclass IS NOT DISTINCT FROM b.pclass
""",
    bench=False,
)
def null_safe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    pclass = F.nullif(F.col("o_orderpriority"), F.lit("1-URGENT")).alias("pclass")
    a = o.select(pclass).groupBy("pclass").agg(F.count(F.lit(1)).alias("n_orders"))
    b = (
        o.select(pclass, "o_totalprice")
        .groupBy("pclass")
        .agg(
            (
                F.sum(F.col("o_totalprice").cast(DEC)).cast("double")
                / F.count(F.lit(1))
            )
            .cast("double")
            .alias("avg_price")
        )
    )
    return a.join(
        b.withColumnRenamed("pclass", "pclass_b"),
        a["pclass"].eqNullSafe(F.col("pclass_b")),
    ).select("pclass", "n_orders", "avg_price")


# --------------------------------------------------------------------
# 116. VARIANT semi-structured extraction — events.props ingested once
# as Spark 4's VARIANT type (binary semi-structured encoding), then
# path-extracted with variant_get. Against columnar storage VARIANT
# shreds into real columns, so at 100 TB the path read is a pruned
# column scan, not JSON string re-parsing per query — the idiomatic
# replacement for get_json_object chains (#35 keeps the legacy form).
@query(
    "events_variant_extract",
    oracle="""
SELECT event_type,
       CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       COUNT(*) AS n,
       CAST(MAX(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k
FROM events
GROUP BY event_type
""",
    bench=False,
)
def events_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    k = F.variant_get(F.parse_json(F.col("props")), "$.k", "bigint")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.sum("k").cast("bigint").alias("sum_k"),
            F.count(F.lit(1)).alias("n"),
            F.max("k").cast("bigint").alias("max_k"),
        )
    )


# --------------------------------------------------------------------
# 117. lateral join — per-customer top-2 orders expressed as a
# correlated lateral subquery (Spark 4 DataFrame.lateralJoin). The
# point is the PLAN: Catalyst decorrelates the per-row limit into
# WindowGroupLimit + one equi-join — identical physics to the
# hand-written window top-k (#28), written declaratively. Scale cost
# is one shuffle of orders on custkey; nothing per-row.
@query(
    "lateral_top_orders",
    oracle="""
SELECT c_custkey, c_mktsegment, o_orderkey, o_totalprice
FROM customer c, LATERAL (
  SELECT o_orderkey, o_totalprice
  FROM orders o WHERE o.o_custkey = c.c_custkey
  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
""",
    bench=False,
)
def lateral_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    orders = _t(spark, sf_dir, "orders")
    sub = (
        orders.where(F.col("o_custkey") == F.col("c_custkey").outer())
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(2)
        .select("o_orderkey", "o_totalprice")
    )
    return cust.lateralJoin(sub)


# --------------------------------------------------------------------
# 123. mergeable HLL sketch rollup — THE two-level distinct-count
# pattern at 100 TB: per-(type, day) partial sketches (map-side
# combinable, a few KB each) union-merged per type, so re-aggregating
# a year of daily rollups never rescans raw events. The estimate
# itself is engine-specific (DataSketches), so the checked surface is
# the exact distinct count plus a boolean asserting the merged sketch
# landed within 5% of it (lgK=14 gives ~0.8% standard error — 6 sigma
# of margin, deterministic for fixed input); the oracle emits the
# exact counts and literal TRUE, same convention as distinct_approx.
@query(
    "hll_user_rollup",
    oracle="""
SELECT event_type,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
       TRUE AS approx_within_5pct,
       COUNT(*) AS n_events
FROM events GROUP BY event_type
""",
)
def hll_user_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select(
        "event_type", F.to_date("ts").alias("day"), "user_id"
    )
    daily = ev.groupBy("event_type", "day").agg(
        F.expr("hll_sketch_agg(user_id, 14)").alias("sk"),
        F.count(F.lit(1)).alias("n_events"),
    )
    merged = daily.groupBy("event_type").agg(
        F.expr("hll_sketch_estimate(hll_union_agg(sk, false))").alias(
            "approx_users"
        ),
        F.sum("n_events").cast("bigint").alias("n_events"),
    )
    exact = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").cast("bigint").alias("exact_users")
    )
    return merged.join(exact, "event_type").select(
        "event_type",
        "exact_users",
        (
            F.abs(F.col("approx_users") - F.col("exact_users"))
            <= 0.05 * F.col("exact_users")
        ).alias("approx_within_5pct"),
        "n_events",
    )


# --------------------------------------------------------------------
# 124. sketched heavy hitters — approx_top_k (DataSketches frequent
# items) over exploded tokens. A single partial-aggregable sketch
# replaces the full token shuffle when only the top of the
# distribution matters. With the sketch map (4096) far above the
# corpus vocabulary (~31) and k (50) above it too, the sketch tracks
# every item with exact counts and no boundary ties exist — so the
# DuckDB oracle is simply the exact token counts, and the sketch is
# verified value-for-value (same guarantee word_count_topk's top-50
# oracle already relies on).
@query(
    "approx_token_topk",
    oracle="""
SELECT token, CAST(COUNT(*) AS BIGINT) AS approx_count
FROM (SELECT unnest(string_split_regex(TRIM(text), '\\s+')) AS token
      FROM documents) t
GROUP BY token
ORDER BY approx_count DESC, token
LIMIT 50
""",
    bench=False,
)
def approx_token_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from koalas_spark.functions.textfn import tokens

    d = _t(spark, sf_dir, "documents")
    tok = d.select(F.explode(tokens(F.col("text"))).alias("t"))
    return (
        tok.agg(F.expr("approx_top_k(t, 50, 4096)").alias("tk"))
        .select(F.explode("tk").alias("e"))
        .select(
            F.col("e.item").alias("token"),
            F.col("e.count").cast("bigint").alias("approx_count"),
        )
        .orderBy(F.col("approx_count").desc(), F.col("token"))
    )


# --------------------------------------------------------------------
# 125. SQL pipe syntax — TPC-H Q1 in Spark 4's |> operator chain
# (SQL:2023-style pipes). Same Catalyst logical plan as the chained
# DataFrame version (#21): pipes are sugar over the same operators,
# so pushdown/partial-agg/codegen behavior is identical — the row
# exists to pin the surface, not a new engine path.
@query(
    "pipe_syntax_q1",
    oracle="""
SELECT l_returnflag, l_linestatus,
       CAST(SUM(l_quantity) AS DECIMAL(25,6)) AS sum_qty,
       CAST(COUNT(*) AS BIGINT) AS count_order
FROM lineitem
WHERE l_shipdate <= DATE '1998-09-02'
GROUP BY l_returnflag, l_linestatus
""",
    bench=False,
)
def pipe_syntax_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("_pipe_lineitem")
    return spark.sql(
        """
        FROM _pipe_lineitem
        |> WHERE l_shipdate <= DATE '1998-09-02'
        |> AGGREGATE CAST(SUM(l_quantity) AS DECIMAL(25,6)) AS sum_qty,
                     CAST(COUNT(*) AS BIGINT) AS count_order
           GROUP BY l_returnflag, l_linestatus
        |> SELECT l_returnflag, l_linestatus, sum_qty, count_order
        """
    )


# --------------------------------------------------------------------
# 126. matrix transpose — Spark 4 DataFrame.transpose: a per-priority
# metrics table flipped so metrics become rows and priorities become
# columns (the report/export orientation). Transpose collects the
# index column to name output columns — valid ONLY after aggregation
# has reduced the frame to dimension cardinality, never on raw data;
# the pre-agg here is the usual partial-agg shuffle and the flip is
# driver-side metadata plus one narrow pass.
@query(
    "transpose_metrics",
    oracle="""
SELECT 'n_orders' AS key,
       CAST(COUNT(*) FILTER (o_orderpriority = '1-URGENT') AS DOUBLE) AS "1-URGENT",
       CAST(COUNT(*) FILTER (o_orderpriority = '2-HIGH') AS DOUBLE) AS "2-HIGH",
       CAST(COUNT(*) FILTER (o_orderpriority = '3-MEDIUM') AS DOUBLE) AS "3-MEDIUM",
       CAST(COUNT(*) FILTER (o_orderpriority = '4-NOT SPECIFIED') AS DOUBLE) AS "4-NOT SPECIFIED",
       CAST(COUNT(*) FILTER (o_orderpriority = '5-LOW') AS DOUBLE) AS "5-LOW"
FROM orders
UNION ALL
SELECT 'sum_price',
       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6))) FILTER (o_orderpriority = '1-URGENT') AS VARCHAR) AS DOUBLE),
       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6))) FILTER (o_orderpriority = '2-HIGH') AS VARCHAR) AS DOUBLE),
       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6))) FILTER (o_orderpriority = '3-MEDIUM') AS VARCHAR) AS DOUBLE),
       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6))) FILTER (o_orderpriority = '4-NOT SPECIFIED') AS VARCHAR) AS DOUBLE),
       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6))) FILTER (o_orderpriority = '5-LOW') AS VARCHAR) AS DOUBLE)
FROM orders
""",
    bench=False,
)
def transpose_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    agg = (
        o.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("double").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast(DEC)).cast("double").alias("sum_price"),
        )
        .orderBy("o_orderpriority")
    )
    return agg.transpose(F.col("o_orderpriority"))


# --------------------------------------------------------------------
# 132. SCD2 interval build (gaps-and-islands): collapse each user's
# consecutive runs of the same event_type into validity intervals —
# the slowly-changing-dimension shape every warehouse ingest needs
# (state history from a change stream). The island id is the
# rn - rn_per_state difference: two window row_numbers over the SAME
# (user_id, ts, event_id) sort, so Catalyst evaluates both in ONE
# window stage over ONE shuffle on user_id; the interval collapse is
# then a partial-aggregated groupBy on the same key, and AQE
# coalesces. No joins, no self-comparison — O(n) at any scale.
@query(
    "scd2_intervals",
    oracle="""
WITH seq AS (
  SELECT user_id, event_type, ts, event_id,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id)
         - ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                              ORDER BY ts, event_id) AS island
  FROM events)
SELECT user_id, event_type,
       MIN(ts) AS valid_from, MAX(ts) AS valid_to,
       COUNT(*) AS n_events
FROM seq
GROUP BY user_id, event_type, island
""",
)
def scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w_all = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_state = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        "event_type",
        "ts",
        (F.row_number().over(w_all) - F.row_number().over(w_state)).alias("island"),
    )
    return (
        seq.groupBy("user_id", "event_type", "island")
        .agg(
            F.min("ts").alias("valid_from"),
            F.max("ts").alias("valid_to"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .drop("island")
    )


# --------------------------------------------------------------------
# 136. recursive hierarchy rollup (Spark 4 WITH RECURSIVE): aggregate
# every node's whole subtree in the implicit binary tree parent(x) =
# x DIV 2 over doc ids — the org-chart / BOM / category-tree rollup
# every warehouse eventually needs, expressed as the standard
# ancestor-expansion recursive CTE. Termination is structural: the
# ancestor column halves per level, so depth = log2(max_id) (~13 at
# sf0.1, ~40 even at 1e12 ids) and each (node, ancestor) pair derives
# exactly once along its unique root path — UNION ALL semantics with
# no duplicate blow-up (Spark does not yet support dedup UNION in
# recursion). Each level is one map over the previous level's rows;
# the closing groupBy is the only shuffle.
@query(
    "recursive_subtree_rollup",
    oracle="""
WITH RECURSIVE up(node, anc, n_chars) AS (
  SELECT doc_id, doc_id, n_chars FROM documents
  UNION ALL
  SELECT node, anc // 2, n_chars FROM up WHERE anc > 0)
SELECT anc AS node, COUNT(*) AS subtree_docs,
       CAST(SUM(n_chars) AS BIGINT) AS subtree_chars
FROM up GROUP BY anc
""",
    bench=False,
)
def recursive_subtree_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    d.select("doc_id", "n_chars").createOrReplaceTempView("_rollup_docs")
    return spark.sql(
        """
WITH RECURSIVE up(node, anc, n_chars) AS (
  SELECT doc_id, doc_id, n_chars FROM _rollup_docs
  UNION ALL
  SELECT node, anc DIV 2, n_chars FROM up WHERE anc > 0)
SELECT anc AS node, COUNT(*) AS subtree_docs,
       CAST(SUM(n_chars) AS BIGINT) AS subtree_chars
FROM up GROUP BY anc
"""
    )


# --------------------------------------------------------------------
# 141. quantile sketch check — approx_percentile (GK/KLL-family
# mergeable sketch, the only way to get quantiles in one pass over
# 100 TB without a global sort) validated against the exact
# interpolated percentile per group: the exact values are the oracle
# row (Spark percentile == DuckDB quantile_cont bit-for-bit on
# integer inputs) and a boolean asserts the sketch landed within 2%
# (accuracy 10000 => worst-case rank error 0.01%, so the flag has
# orders of magnitude of margin and is stable).
@query(
    "percentile_approx_check",
    oracle="""
SELECT o_orderpriority,
       ROUND(quantile_cont(o_totalprice, 0.50), 4) AS p50_exact,
       TRUE AS approx_within_2pct
FROM orders GROUP BY o_orderpriority
""",
    bench=False,
)
def percentile_approx_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    agg = o.groupBy("o_orderpriority").agg(
        F.round(F.percentile("o_totalprice", F.lit(0.5)), 4).alias("p50_exact"),
        F.percentile_approx("o_totalprice", F.lit(0.5), F.lit(10000)).alias("_p50_approx"),
    )
    return agg.select(
        "o_orderpriority",
        "p50_exact",
        (
            F.abs(F.col("_p50_approx") - F.col("p50_exact"))
            <= 0.02 * F.abs(F.col("p50_exact"))
        ).alias("approx_within_2pct"),
    )


# --------------------------------------------------------------------
# 142. time-series gap fill — dashboards and anomaly detectors need a
# DENSE series; raw event aggregation silently drops empty minutes.
# The spine is generated from the data's own [min, max] bounds with
# sequence() + explode — one 1-row aggregate fans out to the full
# minute range, so the spine is bounded by TIME SPAN, not corpus size,
# and costs the same at 100 TB as at 100 MB. The per-minute counts
# aggregate partial map-side; the spine side then LEFT joins them and
# AQE broadcasts whichever side is small. No driver-side loops, no
# UDFs.
@query(
    "timeseries_gapfill",
    oracle="""
WITH b AS (
  SELECT DATE_TRUNC('minute', MIN(ts)) AS lo, DATE_TRUNC('minute', MAX(ts)) AS hi
  FROM events),
spine AS (
  SELECT unnest(generate_series(lo, hi, INTERVAL 1 MINUTE)) AS minute FROM b),
c AS (
  SELECT DATE_TRUNC('minute', ts) AS minute, COUNT(*) AS n
  FROM events GROUP BY 1)
SELECT s.minute, CAST(COALESCE(c.n, 0) AS BIGINT) AS n
FROM spine s LEFT JOIN c ON s.minute = c.minute
""",
    bench=False,
)
def timeseries_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    bounds = ev.agg(
        F.date_trunc("minute", F.min("ts")).alias("lo"),
        F.date_trunc("minute", F.max("ts")).alias("hi"),
    )
    spine = bounds.select(
        F.explode(
            F.sequence(F.col("lo"), F.col("hi"), F.expr("INTERVAL 1 MINUTE"))
        ).alias("minute")
    )
    counts = ev.groupBy(F.date_trunc("minute", "ts").alias("minute")).agg(
        F.count(F.lit(1)).alias("n")
    )
    return spine.join(counts, "minute", "left").select(
        "minute", F.coalesce(F.col("n"), F.lit(0)).cast("bigint").alias("n")
    )


# --------------------------------------------------------------------
# 143. forward as-of join — for each event, the user's NEXT order at
# or after the event timestamp ("time to next purchase" analyses).
# Same one-shuffle union-sort operator as the backward as-of (#33),
# traversed in descending time (operators/asof.py) — no inequality
# join explosion at any scale.
@query(
    "asof_join_forward",
    oracle="""
SELECT event_id, user_id, ts, o_orderkey AS next_orderkey, o_orderdate AS next_orderdate
FROM (
  SELECT e.event_id, e.user_id, e.ts, o.o_orderkey, o.o_orderdate,
         ROW_NUMBER() OVER (PARTITION BY e.event_id
                            ORDER BY o.o_orderdate ASC NULLS LAST,
                                     o.o_orderkey ASC NULLS LAST) AS rk
  FROM events e
  LEFT JOIN orders o
    ON o.o_custkey = e.user_id AND o.o_orderdate >= e.ts) t
WHERE rk = 1
""",
    bench=False,
)
def asof_join_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    from koalas_spark.operators.asof import asof_join

    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    orders = _t(spark, sf_dir, "orders")
    return asof_join(
        ev,
        orders,
        left_key="user_id",
        right_key="o_custkey",
        left_time="ts",
        right_time="o_orderdate",
        payload_cols={"o_orderkey": "next_orderkey", "o_orderdate": "next_orderdate"},
        right_order_cols=["o_orderdate", "o_orderkey"],
        direction="forward",
    )


# --------------------------------------------------------------------
# 147. explicitly-salted hot-key join — the skew lever for the case
# AQE can't fix: a fact table whose key histogram has a few dominant
# values joined to a side that is too big to broadcast. The left
# (events) side gets a deterministic salt in [0,8) (xxhash64 of the
# whole row, no rand() — speculative retries stay consistent); the
# right (per-user profile) side replicates 8x via explode; the join
# key becomes (user_id, salt) so each hot user spreads over 8
# reducers. Salting is result-invariant, which is exactly what the
# oracle checks: the unsalted SQL join must produce identical
# aggregates. operators/skew.py:salted_join.
@query(
    "salted_join_hot_users",
    oracle="""
WITH profile AS (
  SELECT user_id, COUNT(*) AS u_events FROM events GROUP BY user_id)
SELECT e.event_type,
       CAST(COUNT(*) AS BIGINT)      AS n,
       CAST(SUM(p.u_events) AS BIGINT) AS sum_user_activity,
       CAST(MIN(p.u_events) AS BIGINT) AS min_user_activity,
       CAST(MAX(p.u_events) AS BIGINT) AS max_user_activity
FROM events e JOIN profile p USING (user_id)
GROUP BY e.event_type
""",
    bench=False,
)
def salted_join_hot_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    from koalas_spark.operators.skew import salted_join

    ev = _t(spark, sf_dir, "events")
    profile = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("u_events"))
    # event_id rides along so the row-hash salt varies WITHIN a hot
    # user (salting on a projection of duplicate rows would collapse
    # to one salt per user and spread nothing)
    enriched = salted_join(
        ev.select("user_id", "event_type", "event_id"), profile, "user_id", salt=8
    )
    return enriched.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("u_events").cast("bigint").alias("sum_user_activity"),
        F.min("u_events").cast("bigint").alias("min_user_activity"),
        F.max("u_events").cast("bigint").alias("max_user_activity"),
    )
