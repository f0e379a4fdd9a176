"""Round-8 additions (SURVEY.md §2 extensions): cumulative distinct
users, difference-array order backlog, deterministic exact-k corpus
sampling, Zipf-exponent fit, kNN label voting, partition-pruned
lakehouse layout, JSONL source/sink round-trip, co-purchase degree
distribution, and a tolerance-bounded as-of join.

Reference parity note: none of these exist in the reference (its
surface is the frame ops in source/koalas/dataframe.d:73-311); they
extend the engine toward large-scale curation/analytics workloads per
the brief, following the repo's cross-engine determinism rules
(queries/__init__.py docstring).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from koalas_spark.memo import staged
from koalas_spark.queries import query
from koalas_spark.queries.analytics import _t


# --------------------------------------------------------------------
# 218. cumulative distinct users by day — the growth-dashboard classic
# ("distinct users to date") computed WITHOUT a cumulative-distinct
# scan: each user contributes exactly once at their FIRST day (one
# groupBy(user) with map-side combine), daily first-appearance counts
# are day-domain-bounded, and the running total is a single window
# over that tiny table (same bounded-GlobalWindow shape as
# mom_pct_change's post-agg months). The naive alternative —
# COUNT(DISTINCT user) OVER (ORDER BY day) — re-scans user sets per
# day and cannot distribute; this shape is one shuffle on user_id plus
# O(#days) rows.
@query(
    "cumulative_distinct_users",
    oracle="""
WITH f AS (
  SELECT user_id, MIN(CAST(ts AS DATE)) AS day FROM events GROUP BY user_id),
d AS (
  SELECT day, CAST(COUNT(*) AS BIGINT) AS new_users FROM f GROUP BY day)
SELECT day, new_users,
       CAST(SUM(new_users) OVER (ORDER BY day
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS cum_users
FROM d
""",
)
def cumulative_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("day")
    )
    first = ev.groupBy("user_id").agg(F.min("day").alias("day"))
    daily = first.groupBy("day").agg(
        F.count(F.lit(1)).cast("bigint").alias("new_users")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return daily.select(
        "day",
        "new_users",
        F.sum("new_users").over(w).cast("bigint").alias("cum_users"),
    )


# --------------------------------------------------------------------
# 219. daily open-order backlog — interval counting via the DIFFERENCE
# ARRAY: each order contributes +1 at its open day and -1 the day
# after its close (last lineitem ship date; orders with no lineitems
# close same-day), deltas aggregate per day (map-side combine), and
# the backlog is a prefix sum over the day-DOMAIN-bounded delta table
# (bounded GlobalWindow, like #218). The naive per-day interval-
# containment join is |days| x |orders|; this is one order-keyed
# aggregation + O(#days) rows, the shape that survives 100 TB of
# order history. Emits one row per delta day (steps); days between
# steps hold the previous value by construction.
@query(
    "orders_backlog_daily",
    oracle="""
WITH o AS (
  SELECT o_orderkey, CAST(o_orderdate AS DATE) AS open_day FROM orders),
c AS (
  SELECT l_orderkey, MAX(CAST(l_shipdate AS DATE)) AS close_day
  FROM lineitem GROUP BY l_orderkey),
j AS (
  SELECT o.open_day, COALESCE(c.close_day, o.open_day) AS close_day
  FROM o LEFT JOIN c ON o.o_orderkey = c.l_orderkey),
d AS (
  SELECT open_day AS day, 1 AS delta FROM j
  UNION ALL
  SELECT CAST(close_day + INTERVAL 1 DAY AS DATE), -1 FROM j),
g AS (
  SELECT day, CAST(SUM(delta) AS BIGINT) AS d FROM d GROUP BY day)
SELECT day,
       CAST(SUM(d) OVER (ORDER BY day
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS open_orders
FROM g
""",
)
def orders_backlog_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", F.to_date("o_orderdate").alias("open_day")
    )
    c = (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.max(F.to_date("l_shipdate")).alias("close_day"))
    )
    j = o.join(c, o["o_orderkey"] == c["l_orderkey"], "left").select(
        "open_day",
        F.coalesce(F.col("close_day"), F.col("open_day")).alias("close_day"),
    )
    deltas = j.select(
        F.col("open_day").alias("day"), F.lit(1).alias("delta")
    ).unionAll(
        j.select(
            F.date_add(F.col("close_day"), 1).alias("day"),
            F.lit(-1).alias("delta"),
        )
    )
    g = deltas.groupBy("day").agg(F.sum("delta").cast("bigint").alias("d"))
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return g.select(
        "day", F.sum("d").over(w).cast("bigint").alias("open_orders")
    )


# --------------------------------------------------------------------
# 220. deterministic exact-k corpus sample — "give me exactly k docs,
# uniformly, reproducibly, on any cluster": rank every doc by the md5
# of its id (a fixed random permutation, identical hex in both
# engines) and keep the k smallest. orderBy+limit compiles to
# TakeOrderedAndProject — each partition keeps its local top-k and the
# driver merges k x P rows; no global sort, no rand() (whose draws
# depend on partitioning). This is the repo's hash-coin device (#93,
# #94) upgraded from Bernoulli (k varies) to EXACT k.
@query(
    "doc_sample_exact_k",
    oracle="""
SELECT doc_id, source, n_chars,
       md5(CAST(doc_id AS VARCHAR)) AS sample_key
FROM documents
ORDER BY sample_key
LIMIT 100
""",
)
def doc_sample_exact_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        "n_chars",
        F.md5(F.col("doc_id").cast("string")).alias("sample_key"),
    )
    return d.orderBy("sample_key").limit(100)


# --------------------------------------------------------------------
# 221. Zipf exponent fit — log-log OLS over the top-500 token ranks,
# the standard corpus-health diagnostic (natural text reads alpha ~ 1;
# boilerplate-heavy or template corpora drift far off). Plan: token
# counts (one shuffle, map-side combine), distributed top-500 via
# TakeOrderedAndProject, rank by row_number over the 500-row frame
# (bounded GlobalWindow), then the #208 OLS discipline: ln values
# quantized to integers (floor(ln * 2^20) — both engines' ln agree to
# ~1 ulp, 9 orders of magnitude inside the quantization step), exact
# DECIMAL sums, one fixed double sequence. alpha = -slope.
@query(
    "zipf_alpha_fit",
    oracle="""
WITH c AS (
  SELECT t.term AS token, CAST(COUNT(*) AS BIGINT) AS n
  FROM (SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS term
        FROM documents) t
  GROUP BY t.term),
top AS (SELECT token, n FROM c ORDER BY n DESC, token LIMIT 500),
r AS (
  SELECT n, ROW_NUMBER() OVER (ORDER BY n DESC, token) AS rank FROM top),
q AS (
  SELECT CAST(FLOOR(LN(CAST(rank AS DOUBLE)) * 1048576) AS BIGINT) AS x,
         CAST(FLOOR(LN(CAST(n AS DOUBLE)) * 1048576) AS BIGINT) AS y
  FROM r),
m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS np,
         CAST(CAST(SUM(CAST(x AS DECIMAL(25,0))) AS VARCHAR) AS DOUBLE) AS sx,
         CAST(CAST(SUM(CAST(y AS DECIMAL(25,0))) AS VARCHAR) AS DOUBLE) AS sy,
         CAST(CAST(SUM(CAST(x * y AS DECIMAL(25,0))) AS VARCHAR) AS DOUBLE) AS sxy,
         CAST(CAST(SUM(CAST(x * x AS DECIMAL(25,0))) AS VARCHAR) AS DOUBLE) AS sxx
  FROM q)
SELECT np AS n_points,
       ROUND(-((np * sxy - sx * sy) / (np * sxx - sx * sx)), 6) AS alpha,
       ROUND((sy + ((np * sxy - sx * sy) / (np * sxx - sx * sx)) * sx) / np
             / 1048576.0, 6) AS intercept_ln
FROM m
""",
)
def zipf_alpha_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from koalas_spark.functions.textfn import tokens

    d = _t(spark, sf_dir, "documents")
    counts = (
        d.select(F.explode(tokens(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    top = counts.orderBy(F.col("n").desc(), F.col("token").asc()).limit(500)
    w = Window.orderBy(F.col("n").desc(), F.col("token").asc())
    scale = 1048576
    q = top.select(
        F.floor(F.log(F.row_number().over(w).cast("double")) * scale)
        .cast("bigint")
        .alias("x"),
        F.floor(F.log(F.col("n").cast("double")) * scale)
        .cast("bigint")
        .alias("y"),
    )
    ds = lambda c: F.sum(c.cast("decimal(25,0)")).cast("string").cast("double")
    m = q.agg(
        F.count(F.lit(1)).cast("bigint").alias("np"),
        ds(F.col("x")).alias("sx"),
        ds(F.col("y")).alias("sy"),
        ds(F.col("x") * F.col("y")).alias("sxy"),
        ds(F.col("x") * F.col("x")).alias("sxx"),
    )
    slope = (F.col("np") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("np") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return m.select(
        F.col("np").alias("n_points"),
        F.round(-slope, 6).alias("alpha"),
        F.round(
            (F.col("sy") + slope * F.col("sx")) / F.col("np") / float(scale), 6
        ).alias("intercept_ln"),
    )


# --------------------------------------------------------------------
# 222. kNN label vote — the classifier built on the ANN baseline:
# each probe takes the majority label of its 10 nearest neighbors
# (exact cosine, #42's plan: probes broadcast, corpus never
# self-joins), ties broken toward the smaller label. The per-probe
# vote table is <= k rows, so the argmax window is bounded by
# construction. Swap brute_force_topk for ivf/pq at scale — the vote
# stage is unchanged; that modularity is the point of the demo.
@query(
    "knn_label_vote",
    oracle="""
WITH nn AS (
  SELECT probe_id, neighbor_id FROM (
    SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY p.vec_id
             ORDER BY ROUND(list_dot_product(CAST(p.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[]))
                  / SQRT(list_dot_product(CAST(p.embedding AS DOUBLE[]), CAST(p.embedding AS DOUBLE[]))
                         * list_dot_product(CAST(c.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[]))), 6) DESC,
                      c.vec_id ASC) AS rk
    FROM embeddings p JOIN embeddings c ON p.vec_id != c.vec_id
    WHERE p.vec_id < 5) t
  WHERE rk <= 10),
v AS (
  SELECT nn.probe_id, e.label, CAST(COUNT(*) AS BIGINT) AS votes
  FROM nn JOIN embeddings e ON nn.neighbor_id = e.vec_id
  GROUP BY nn.probe_id, e.label)
SELECT probe_id, CAST(label AS INT) AS pred_label, votes FROM (
  SELECT probe_id, label, votes,
         ROW_NUMBER() OVER (PARTITION BY probe_id
                            ORDER BY votes DESC, label ASC) AS rk
  FROM v) t
WHERE rk = 1
""",
)
def knn_label_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    from koalas_spark.operators.similarity import brute_force_topk

    emb = _t(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < 5)
    nn = brute_force_topk(emb, probes, "vec_id", "embedding", k=10)
    votes = (
        nn.join(
            emb.select(F.col("vec_id").alias("neighbor_id"), "label"),
            "neighbor_id",
        )
        .groupBy("probe_id", "label")
        .agg(F.count(F.lit(1)).cast("bigint").alias("votes"))
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.col("votes").desc(), F.col("label").asc()
    )
    return (
        votes.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "probe_id", F.col("label").cast("int").alias("pred_label"), "votes"
        )
    )


# --------------------------------------------------------------------
# 223. partition-pruned lakehouse layout — write events Hive-
# partitioned by day (the layout every 100 TB event lake uses), read
# back with a day predicate, and aggregate. The point is the SCAN: the
# day filter resolves against the directory manifest (PartitionFilters
# in the plan — tests/test_analytics10.py pins it), so a 3-day query
# over a 10-year lake touches 3 directories, not the corpus. Staged
# once per session (koalas_spark.memo).
_PRUNE_DAYS = ("2024-01-05", "2024-01-12", "2024-01-21")


def _partitioned_events(spark: SparkSession, sf_dir: str) -> str:
    ev = _t(spark, sf_dir, "events").withColumn(
        "day", F.date_format("ts", "yyyy-MM-dd")
    )
    return staged(
        spark,
        "part_events",
        (sf_dir, "events"),
        ev.write.partitionBy("day").parquet,
        "_SUCCESS",
    )


def partitioned_scan_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pruned scan itself, exposed for the plan test."""
    path = _partitioned_events(spark, sf_dir)
    return spark.read.parquet(path).filter(F.col("day").isin(*_PRUNE_DAYS))


@query(
    "partitioned_write_prune",
    oracle=f"""
SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day, event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(CAST(SUM(CAST(value AS DECIMAL(25,6))) AS VARCHAR) AS DOUBLE)
         AS sum_value
FROM events
WHERE strftime(CAST(ts AS DATE), '%Y-%m-%d') IN
      ('{_PRUNE_DAYS[0]}', '{_PRUNE_DAYS[1]}', '{_PRUNE_DAYS[2]}')
GROUP BY 1, 2
""",
)
def partitioned_write_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    pruned = partitioned_scan_source(spark, sf_dir)
    return pruned.groupBy(
        F.col("day").cast("string").alias("day"), "event_type"
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("value").cast("decimal(25,6)"))
        .cast("string")
        .cast("double")
        .alias("sum_value"),
    )


# --------------------------------------------------------------------
# 224. JSONL round-trip — the interchange format every LLM-data
# pipeline speaks. Write the corpus as JSON-lines, read it back with
# an EXPLICIT schema (inference re-scans the data and can widen
# types), and aggregate per-language; matching the oracle computed on
# the original parquet proves the round-trip is byte-faithful through
# JSON string escaping (unicode, quotes, newlines-in-text). Staged
# once per session like #223.
@query(
    "jsonl_roundtrip_stats",
    oracle="""
SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       CAST(SUM(LENGTH(text)) AS BIGINT) AS sum_len
FROM documents GROUP BY lang
""",
)
def jsonl_roundtrip_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    path = staged(
        spark, "docs_jsonl", (sf_dir, "documents"), docs.write.json, "_SUCCESS"
    )
    back = spark.read.schema(docs.schema).json(path)
    return back.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("sum_chars"),
        F.sum(F.length("text")).cast("bigint").alias("sum_len"),
    )


# --------------------------------------------------------------------
# 225. co-purchase degree distribution — the graph-health histogram
# (hub detection, power-law check) over the #170 edge set. Degrees
# bucket by binary magnitude via LENGTH(BIN(deg)) = floor(log2)+1 —
# INTEGER-exact in both engines, unlike floor(log2(x)) whose libm
# rounding could straddle a power of two. Buckets are domain-bounded
# (<= 64 ever); the heavy lifting is the same degree aggregation the
# triangle counter shares.
@query(
    "degree_distribution_copurchase",
    oracle="""
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
e AS (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
nd AS (SELECT u AS x FROM e UNION ALL SELECT v FROM e),
dg AS (SELECT x, CAST(COUNT(*) AS BIGINT) AS dg FROM nd GROUP BY x)
SELECT CAST(LENGTH(bin(dg)) AS INT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_nodes,
       CAST(MIN(dg) AS BIGINT) AS min_deg, CAST(MAX(dg) AS BIGINT) AS max_deg
FROM dg GROUP BY 1
""",
)
def degree_distribution_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    # reads (and on first touch, builds) the materialized |V|-sized
    # degree artifact shared by the wedge/probe family (round 12)
    from koalas_spark.queries.mining import copurchase_degree_table

    deg = copurchase_degree_table(spark, sf_dir)
    return deg.groupBy(
        F.length(F.bin(F.col("dg"))).cast("int").alias("bucket")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
        F.min("dg").cast("bigint").alias("min_deg"),
        F.max("dg").cast("bigint").alias("max_deg"),
    )


# --------------------------------------------------------------------
# 226. as-of join with tolerance — pandas merge_asof's `tolerance`:
# the latest order at-or-before each event, but only if it is within
# 8300 days (events are 2024, orders 1995-2001 — the window is chosen
# so SOME users' latest orders qualify and others null out, exercising
# both branches); staler matches null out. Same ONE-shuffle union-sort plan as
# #33 (operators/asof.py) — the tolerance is a per-row post-filter on
# the carried payload, free at any scale. Backward-latest means the
# carried match is the CLOSEST preceding one, so nulling it exactly
# when it misses the window equals re-running the join with the
# window in the predicate (the oracle's formulation).
@query(
    "asof_join_tolerance",
    oracle="""
SELECT event_id, user_id, ts, o_orderkey AS asof_orderkey,
       o_orderdate AS asof_orderdate
FROM (
  SELECT e.event_id, e.user_id, e.ts, o.o_orderkey, o.o_orderdate,
         ROW_NUMBER() OVER (PARTITION BY e.event_id
                            ORDER BY o.o_orderdate DESC NULLS LAST,
                                     o.o_orderkey DESC NULLS LAST) AS rk
  FROM events e
  LEFT JOIN orders o
    ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts
   AND o.o_orderdate >= e.ts - INTERVAL 8300 DAY) t
WHERE rk = 1
""",
)
def asof_join_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from koalas_spark.operators.asof import asof_join

    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    orders = _t(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderdate"
    )
    joined = asof_join(
        ev,
        orders,
        left_key="user_id",
        right_key="o_custkey",
        left_time="ts",
        right_time="o_orderdate",
        payload_cols={"o_orderkey": "asof_orderkey", "o_orderdate": "asof_orderdate"},
        right_order_cols=["o_orderdate", "o_orderkey"],
    )
    in_window = F.col("asof_orderdate") >= (
        F.col("ts") - F.expr("INTERVAL 8300 DAYS")
    )
    return joined.select(
        "event_id",
        "user_id",
        "ts",
        F.when(in_window, F.col("asof_orderkey")).alias("asof_orderkey"),
        F.when(in_window, F.col("asof_orderdate")).alias("asof_orderdate"),
    )


# --------------------------------------------------------------------
# 227. exact grouped quantiles WITHOUT a global sort — the classic
# "exact median at scale" problem. Prices quantize to cents (DOMAIN-
# bounded: ~1.2e5 distinct values at any corpus size), per-(group,
# cents) counts aggregate with map-side combine, a cents-ordered
# prefix sum per group runs over the domain-bounded histogram, and the
# quantile is the smallest value whose cumulative count reaches the
# discrete rank ceil(q*n) (DuckDB quantile_disc's convention, verified
# empirically over n=4,5,7,10,1962 — the oracle is DuckDB's NATIVE
# quantile, an independent formulation, not a replay).
# approx_percentile trades exactness for one pass; this is exact in
# two cheap passes.
@query(
    "exact_group_quantiles",
    oracle="""
SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(quantile_disc(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT), 0.5)
            AS BIGINT) AS median_cents,
       CAST(quantile_disc(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT), 0.9)
            AS BIGINT) AS p90_cents
FROM lineitem GROUP BY l_returnflag
""",
)
def exact_group_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
        .cast("bigint")
        .alias("cents"),
    )
    counts = li.groupBy("l_returnflag", "cents").agg(
        F.count(F.lit(1)).alias("c")
    )
    w = Window.partitionBy("l_returnflag").orderBy("cents").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = counts.withColumn("cum", F.sum("c").over(w))
    tot = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    j = cum.join(F.broadcast(tot), "l_returnflag")
    r50 = F.expr("(n + 1) div 2")  # ceil(0.5 n)
    r90 = F.expr("(9 * n + 9) div 10")  # ceil(0.9 n)
    return j.groupBy("l_returnflag", "n").agg(
        F.min(F.when(F.col("cum") >= r50, F.col("cents"))).alias(
            "median_cents"
        ),
        F.min(F.when(F.col("cum") >= r90, F.col("cents"))).alias("p90_cents"),
    ).select("l_returnflag", "n", "median_cents", "p90_cents")


# --------------------------------------------------------------------
# 228. CUSUM changepoint deviation over daily event volume — the
# monitoring classic: the day where the cumulative deviation from the
# global mean peaks is the level-shift estimate. Fully INTEGER via
# cross-multiplication: dev_i = nd * cumsum_i - i * total (both terms
# bigint — no mean division, no floats, identical on both engines).
# Daily counts are day-domain-bounded, so the prefix window and the
# 1-row stats/peak cross-joins are all bounded shapes (same EXPECTED
# classes as #218/#219).
@query(
    "event_cusum_deviation",
    oracle="""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS n_events
  FROM events GROUP BY 1),
st AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS nd, CAST(SUM(n_events) AS BIGINT) AS tot
  FROM daily),
c AS (
  SELECT day, n_events,
         CAST(SUM(n_events) OVER (ORDER BY day
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
         CAST(ROW_NUMBER() OVER (ORDER BY day) AS BIGINT) AS i
  FROM daily),
d AS (
  SELECT day, n_events, st.nd * c.cum - c.i * st.tot AS cum_dev_scaled
  FROM c CROSS JOIN st),
mx AS (SELECT MAX(ABS(cum_dev_scaled)) AS m FROM d)
SELECT day, n_events, cum_dev_scaled,
       ABS(cum_dev_scaled) = mx.m AS is_peak
FROM d CROSS JOIN mx
""",
)
def event_cusum_deviation(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (
        _t(spark, sf_dir, "events")
        .groupBy(F.to_date("ts").alias("day"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_events"))
    )
    st = daily.agg(
        F.count(F.lit(1)).cast("bigint").alias("nd"),
        F.sum("n_events").cast("bigint").alias("tot"),
    )
    w = Window.orderBy("day")
    c = daily.select(
        "day",
        "n_events",
        F.sum("n_events")
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .cast("bigint")
        .alias("cum"),
        F.row_number().over(w).cast("bigint").alias("i"),
    )
    d = c.crossJoin(F.broadcast(st)).select(
        "day",
        "n_events",
        (F.col("nd") * F.col("cum") - F.col("i") * F.col("tot")).alias(
            "cum_dev_scaled"
        ),
    )
    mx = d.agg(F.max(F.abs(F.col("cum_dev_scaled"))).alias("m"))
    return d.crossJoin(F.broadcast(mx)).select(
        "day",
        "n_events",
        "cum_dev_scaled",
        (F.abs(F.col("cum_dev_scaled")) == F.col("m")).alias("is_peak"),
    )


# --------------------------------------------------------------------
# 229. cross-source contamination matrix — pairwise 3-gram containment
# between sources (train/eval leakage audit, the pairwise version of
# #95's contamination check). Distinct (source, shingle) pairs shuffle
# ONCE keyed by shingle; the pair stage is quadratic only in the
# number of SOURCES sharing a shingle (domain-bounded — source count,
# not corpus size), and containment = shared / min(|grams_a|,
# |grams_b|) in exact integer ppm. Corpus rows never self-join.
@query(
    "source_contamination_matrix",
    oracle="""
WITH sh AS (
  SELECT DISTINCT source, shingle FROM (
    SELECT source,
           unnest(list_distinct(list_transform(
               range(1, GREATEST(LEN(toks) - 1, 1)),
               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])))
             AS shingle
    FROM (SELECT source, string_split_regex(TRIM(text), '\\s+') AS toks
          FROM documents) t
    WHERE LEN(toks) >= 3) u),
tot AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS t FROM sh GROUP BY source),
p AS (
  SELECT a.source AS src_a, b.source AS src_b, CAST(COUNT(*) AS BIGINT) AS shared
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.source < b.source
  GROUP BY a.source, b.source)
SELECT p.src_a, p.src_b, p.shared,
       CAST(1000000 * p.shared // LEAST(ta.t, tb.t) AS BIGINT) AS containment_ppm
FROM p JOIN tot ta ON p.src_a = ta.source
       JOIN tot tb ON p.src_b = tb.source
""",
)
def source_contamination_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from koalas_spark.functions.textfn import tokens, word_shingles

    d = _t(spark, sf_dir, "documents")
    toks = d.select("source", tokens(F.col("text")).alias("toks"))
    sh = toks.select(
        "source", F.explode(word_shingles(F.col("toks"), 3)).alias("shingle")
    ).distinct()
    tot = sh.groupBy("source").agg(F.count(F.lit(1)).cast("bigint").alias("t"))
    a = sh.select(F.col("source").alias("src_a"), "shingle")
    b = sh.select(F.col("source").alias("src_b"), "shingle")
    p = (
        a.join(b, "shingle")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("shared"))
    )
    ta = tot.select(F.col("source").alias("src_a"), F.col("t").alias("ta"))
    tb = tot.select(F.col("source").alias("src_b"), F.col("t").alias("tb"))
    return (
        p.join(F.broadcast(ta), "src_a")
        .join(F.broadcast(tb), "src_b")
        .select(
            "src_a",
            "src_b",
            "shared",
            F.expr("CAST(1000000 * shared div least(ta, tb) AS BIGINT)").alias(
                "containment_ppm"
            ),
        )
    )


# --------------------------------------------------------------------
# 230. reciprocal-rank-fusion hybrid retrieval — the standard way to
# combine a sparse (BM25) and a dense (embedding-cosine) ranking:
# score(d) = Σ_systems 1e6 div (60 + rank_s(d)), summed over the
# rankings that contain d (ranks from #148's integer BM25 for query 0
# and #42's exact-cosine top-k for probe 0 — vec_id aligns with doc_id
# in the synthetic corpus). Both input rankings are already
# engine-exact; the fusion adds one full-outer join of two k-row
# frames and an integer score — nothing scales with the corpus beyond
# the input retrievers themselves.
@query(
    "rrf_fusion_retrieval",
    oracle="""
WITH tok AS (SELECT doc_id, unnest(string_split_regex(TRIM(text), '\\s+')) AS term
             FROM documents),
qt(term) AS (VALUES ('hash'), ('join'), ('dup')),
tf AS (SELECT term, doc_id, COUNT(*) AS tf
       FROM tok JOIN qt USING (term) GROUP BY term, doc_id),
dfq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
dl AS (SELECT doc_id, LEN(string_split_regex(TRIM(text), '\\s+')) AS dl
       FROM documents),
st AS (SELECT COUNT(*) AS n, SUM(dl) AS t FROM dl),
sparse AS (
  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY score DESC, doc_id ASC) AS rk FROM (
    SELECT tf.doc_id,
           SUM(((2 * (st.n - dfq.df) + 1) * 1000 // (2 * dfq.df + 1))
               * ((22 * tf.tf * st.t * 1000)
                  // (10 * tf.tf * st.t + 3 * st.t + 9 * dl.dl * st.n))) AS score
    FROM tf JOIN dfq USING (term)
            JOIN dl ON dl.doc_id = tf.doc_id
            CROSS JOIN st
    GROUP BY tf.doc_id) s
  QUALIFY rk <= 20),
dense AS (
  SELECT neighbor_id AS doc_id, rk FROM (
    SELECT c.vec_id AS neighbor_id,
           ROW_NUMBER() OVER (ORDER BY
             ROUND(list_dot_product(CAST(p.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[]))
                 / SQRT(list_dot_product(CAST(p.embedding AS DOUBLE[]), CAST(p.embedding AS DOUBLE[]))
                        * list_dot_product(CAST(c.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[]))), 6) DESC,
             c.vec_id ASC) AS rk
    FROM embeddings p JOIN embeddings c ON p.vec_id != c.vec_id
    WHERE p.vec_id = 0) s
  WHERE rk <= 20)
SELECT doc_id, rk_sparse, rk_dense, rrf_score FROM (
  SELECT COALESCE(s.doc_id, d.doc_id) AS doc_id,
         CAST(s.rk AS INT) AS rk_sparse, CAST(d.rk AS INT) AS rk_dense,
         CAST(COALESCE(1000000 // (60 + s.rk), 0)
              + COALESCE(1000000 // (60 + d.rk), 0) AS BIGINT) AS rrf_score
  FROM sparse s FULL OUTER JOIN dense d ON s.doc_id = d.doc_id) f
ORDER BY rrf_score DESC, doc_id ASC
LIMIT 10
""",
)
def rrf_fusion_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from koalas_spark.functions.textfn import tokens, token_count
    from koalas_spark.operators.similarity import brute_force_topk

    d = _t(spark, sf_dir, "documents")
    # sparse leg: #148's integer BM25 restricted to query 0's terms,
    # ranked to depth 20 (see retrieval.py:70 for the scoring notes)
    qt = spark.createDataFrame([("hash",), ("join",), ("dup",)], "term string")
    tok = d.select("doc_id", F.explode(tokens(F.col("text"))).alias("term"))
    tf = (
        tok.join(F.broadcast(qt), "term")
        .groupBy("term", "doc_id")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint(eager=False)
    )
    dfq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    dl = d.select("doc_id", token_count(F.col("text")).alias("dl"))
    st = dl.agg(F.count(F.lit(1)).alias("n"), F.sum("dl").alias("t"))
    idf_s = F.expr("(2 * (n - df) + 1) * 1000 div (2 * df + 1)")
    tfnorm = F.expr("(22 * tf * t * 1000) div (10 * tf * t + 3 * t + 9 * dl * n)")
    scored = (
        tf.join(F.broadcast(dfq), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(st))
        .groupBy("doc_id")
        .agg(F.sum(idf_s * tfnorm).alias("score"))
    )
    # distributed top-20 FIRST (TakeOrdered — local top-k per partition,
    # driver merge), THEN the rank window over the bounded 20-row frame;
    # a row_number window straight over `scored` would funnel every
    # matching doc through one task (the #221 zipf device)
    top20 = scored.orderBy(F.col("score").desc(), F.col("doc_id").asc()).limit(20)
    ws = Window.orderBy(F.col("score").desc(), F.col("doc_id").asc())
    sparse = top20.select(
        "doc_id", F.row_number().over(ws).alias("rk_sparse")
    )
    # dense leg: #42's exact-cosine ranking for probe vec 0, depth 20
    emb = _t(spark, sf_dir, "embeddings")
    dense = brute_force_topk(
        emb, emb.filter(F.col("vec_id") == 0), "vec_id", "embedding", k=20
    ).select(
        F.col("neighbor_id").alias("doc_id"), F.col("rk").alias("rk_dense")
    )
    fused = sparse.join(dense, "doc_id", "full_outer").select(
        "doc_id",
        F.col("rk_sparse").cast("int").alias("rk_sparse"),
        F.col("rk_dense").cast("int").alias("rk_dense"),
        (
            F.coalesce(
                F.expr("1000000 div (60 + rk_sparse)"), F.lit(0)
            )
            + F.coalesce(F.expr("1000000 div (60 + rk_dense)"), F.lit(0))
        )
        .cast("bigint")
        .alias("rrf_score"),
    )
    return fused.orderBy(F.col("rrf_score").desc(), F.col("doc_id").asc()).limit(10)


# --------------------------------------------------------------------
# 231. in-session ordered funnel — #100's funnel constrained to happen
# INSIDE one session and in order (view, then click, then purchase):
# the question product analytics actually asks. One shuffle on
# (user_id): the session id (#32's lag+cumsum), then three chained
# cumulative-max windows over the SAME (user, session) partitioning
# propagate "stage reached so far" down each session — ordered
# containment without self-joins or per-stage re-shuffles (the three
# window layers share one sort).
@query(
    "funnel_within_session",
    oracle="""
WITH s AS (
  SELECT user_id, ts, event_id, event_type,
         CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
  FROM (
    SELECT user_id, ts, event_id, event_type,
           CASE WHEN sec - LAG(sec) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                     > 1800
                OR LAG(sec) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                THEN 1 ELSE 0 END AS is_new
    FROM (SELECT user_id, ts, event_id, event_type,
                 CAST(FLOOR(epoch(ts)) AS BIGINT) AS sec
          FROM events) e0) a),
c1 AS (
  SELECT *, MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
              OVER (PARTITION BY user_id, session_id ORDER BY ts, event_id
                    ROWS UNBOUNDED PRECEDING) AS sv
  FROM s),
c2 AS (
  SELECT *, MAX(CASE WHEN event_type = 'click' AND sv = 1 THEN 1 ELSE 0 END)
              OVER (PARTITION BY user_id, session_id ORDER BY ts, event_id
                    ROWS UNBOUNDED PRECEDING) AS sc
  FROM c1),
c3 AS (
  SELECT *, CASE WHEN event_type = 'purchase' AND sc = 1 THEN 1 ELSE 0 END AS sp
  FROM c2),
g AS (
  SELECT user_id, session_id, MAX(sv) AS hv, MAX(sc) AS hc, MAX(sp) AS hp
  FROM c3 GROUP BY user_id, session_id)
SELECT CAST(COUNT(*) AS BIGINT) AS n_sessions,
       CAST(SUM(hv) AS BIGINT) AS n_view,
       CAST(SUM(hc) AS BIGINT) AS n_view_click,
       CAST(SUM(hp) AS BIGINT) AS n_full_funnel
FROM g
""",
)
def funnel_within_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    wo = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(wo)
    is_new = F.when(gap.isNull() | (gap > 30 * 60), 1).otherwise(0)
    s = ev.withColumn(
        "session_id",
        F.sum(is_new)
        .over(wo.rowsBetween(Window.unboundedPreceding, 0))
        .cast("bigint"),
    )
    wc = Window.partitionBy("user_id", "session_id").orderBy(
        "ts", "event_id"
    ).rowsBetween(Window.unboundedPreceding, 0)
    c1 = s.withColumn(
        "sv",
        F.max(F.when(F.col("event_type") == "view", 1).otherwise(0)).over(wc),
    )
    c2 = c1.withColumn(
        "sc",
        F.max(
            F.when(
                (F.col("event_type") == "click") & (F.col("sv") == 1), 1
            ).otherwise(0)
        ).over(wc),
    )
    c3 = c2.withColumn(
        "sp",
        F.when(
            (F.col("event_type") == "purchase") & (F.col("sc") == 1), 1
        ).otherwise(0),
    )
    g = c3.groupBy("user_id", "session_id").agg(
        F.max("sv").alias("hv"),
        F.max("sc").alias("hc"),
        F.max("sp").alias("hp"),
    )
    return g.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sessions"),
        F.sum("hv").cast("bigint").alias("n_view"),
        F.sum("hc").cast("bigint").alias("n_view_click"),
        F.sum("hp").cast("bigint").alias("n_full_funnel"),
    )


# --------------------------------------------------------------------
# 232. snapshot diff — "what changed between table versions", the
# lakehouse audit primitive on top of #176's manifest snapshots: keys
# added/removed between v1 and v2 via two anti-joins (shuffle on the
# key, no full-table compare). On the orders snapshot v2 adds the
# >= 1995 slice and removes nothing, which the oracle states
# independently from the raw table.
@query(
    "snapshot_diff",
    oracle="""
SELECT 'added' AS change_type, CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COALESCE(SUM(o_orderkey), 0) AS BIGINT) AS sum_keys
FROM orders WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
UNION ALL
SELECT 'removed', 0, 0
""",
)
def snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from koalas_spark.queries.analytics7 import orders_snapshot
    from koalas_spark.sources.snapshots import read_snapshot

    # #176's snapshot table, staged once per session
    path = orders_snapshot(spark, sf_dir)
    v1 = read_snapshot(spark, path, version=1).select("o_orderkey")
    v2 = read_snapshot(spark, path, version=2).select("o_orderkey")

    def _summ(df: DataFrame, label: str) -> DataFrame:
        return df.agg(
            F.lit(label).alias("change_type"),
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.coalesce(F.sum("o_orderkey"), F.lit(0))
            .cast("bigint")
            .alias("sum_keys"),
        )

    added = _summ(v2.join(v1, "o_orderkey", "left_anti"), "added")
    removed = _summ(v1.join(v2, "o_orderkey", "left_anti"), "removed")
    return added.unionByName(removed)


# --------------------------------------------------------------------
# 233. join-key skew audit — the profiling pass you run BEFORE a big
# join: per-key counts for orders.o_custkey, then hot-key shares in
# exact integer ppm. max via plain aggregate; the top-10 hot keys via
# TakeOrdered (deterministic (count, key) tie-break) — no global sort,
# and the skew decision (salt or not, AQE thresholds) reads straight
# off max_share_ppm / top10_share_ppm.
@query(
    "skew_audit_orders",
    oracle="""
WITH c AS (
  SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS cnt FROM orders GROUP BY o_custkey),
t10 AS (
  SELECT CAST(SUM(cnt) AS BIGINT) AS top10 FROM (
    SELECT cnt FROM c ORDER BY cnt DESC, o_custkey ASC LIMIT 10) s),
st AS (
  SELECT CAST(SUM(cnt) AS BIGINT) AS n_rows, CAST(COUNT(*) AS BIGINT) AS n_keys,
         CAST(MAX(cnt) AS BIGINT) AS max_cnt
  FROM c)
SELECT st.n_rows, st.n_keys, st.max_cnt, t10.top10 AS top10_cnt,
       CAST(1000000 * st.max_cnt // st.n_rows AS BIGINT) AS max_share_ppm,
       CAST(1000000 * t10.top10 // st.n_rows AS BIGINT) AS top10_share_ppm
FROM st CROSS JOIN t10
""",
)
def skew_audit_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = (
        _t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    t10 = (
        c.orderBy(F.col("cnt").desc(), F.col("o_custkey").asc())
        .limit(10)
        .agg(F.sum("cnt").cast("bigint").alias("top10_cnt"))
    )
    st = c.agg(
        F.sum("cnt").cast("bigint").alias("n_rows"),
        F.count(F.lit(1)).cast("bigint").alias("n_keys"),
        F.max("cnt").cast("bigint").alias("max_cnt"),
    )
    return st.crossJoin(F.broadcast(t10)).select(
        "n_rows",
        "n_keys",
        "max_cnt",
        "top10_cnt",
        F.expr("CAST(1000000 * max_cnt div n_rows AS BIGINT)").alias(
            "max_share_ppm"
        ),
        F.expr("CAST(1000000 * top10_cnt div n_rows AS BIGINT)").alias(
            "top10_share_ppm"
        ),
    )


# --------------------------------------------------------------------
# 234. stable global row numbering — ROW_NUMBER() OVER (ORDER BY key)
# WITHOUT the single-partition sort: #118/#212's shared three-level
# distributed prefix sum (_distributed_prior) counts docs with smaller
# doc_id (tok=1 per doc), so ordinal = prior + 1. Per-task row bound
# anywhere in the plan is max(1024, |corpus|/2^20); the oracle is the
# naive global window, proving the distributed formulation computes
# the identical order-dependent numbering.
@query(
    "stable_row_numbering",
    oracle="""
SELECT doc_id,
       CAST(ROW_NUMBER() OVER (ORDER BY doc_id) AS BIGINT) AS ordinal
FROM documents
""",
)
def stable_row_numbering(spark: SparkSession, sf_dir: str) -> DataFrame:
    from koalas_spark.queries.pipeline import _distributed_prior

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", F.lit(1).alias("tok")
    )
    return _distributed_prior(d).select(
        "doc_id", (F.col("prior") + 1).cast("bigint").alias("ordinal")
    )


# --------------------------------------------------------------------
# 235. time-weighted average value per user — the TWAP shape (billing,
# exposure, position accounting): each observation holds until the
# next one, so its weight is the interval length. LEAD over the
# per-user time order (one shuffle, partitions bounded per user),
# integer microsecond durations x 1e6-quantized values through exact
# DECIMAL sums (products overflow int64 by design — decimal width is
# the point), one fixed double division at the end.
@query(
    "time_weighted_avg_value",
    oracle="""
WITH seq AS (
  SELECT user_id, value,
         epoch_us(LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
           - epoch_us(ts) AS dur_us
  FROM events),
w AS (
  SELECT user_id,
         CAST(FLOOR(value * 1000000 + 0.5) AS BIGINT) AS v_scaled, dur_us
  FROM seq WHERE dur_us IS NOT NULL)
SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_intervals,
       CAST(SUM(dur_us) AS BIGINT) AS total_dur_us,
       ROUND(CAST(CAST(SUM(CAST(v_scaled AS DECIMAL(25,0)) * dur_us) AS VARCHAR)
                  AS DOUBLE)
             / CAST(SUM(dur_us) AS DOUBLE) / 1000000.0, 6) AS twap
FROM w GROUP BY user_id
""",
)
def time_weighted_avg_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "value"
    )
    wo = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        "value",
        (
            F.unix_micros(F.lead("ts").over(wo)) - F.unix_micros(F.col("ts"))
        ).alias("dur_us"),
    ).filter(F.col("dur_us").isNotNull())
    w = seq.select(
        "user_id",
        F.floor(F.col("value") * 1000000 + F.lit(0.5))
        .cast("bigint")
        .alias("v_scaled"),
        "dur_us",
    )
    wsum = (
        F.sum(F.col("v_scaled").cast("decimal(25,0)") * F.col("dur_us"))
        .cast("string")
        .cast("double")
    )
    return w.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_intervals"),
        F.sum("dur_us").cast("bigint").alias("total_dur_us"),
        F.round(
            wsum / F.sum("dur_us").cast("double") / F.lit(1000000.0), 6
        ).alias("twap"),
    )


# --------------------------------------------------------------------
# 236. decile lift table — the model-eval classic (rank customers by
# spend, report conversion per decile). Exact-at-bucket-granularity
# deciles via #227's device: per-customer spend quantizes to $100
# buckets (DOMAIN-bounded histogram), decile boundaries are the 9
# ceil(q*n) ranks off the bucket prefix sum, broadcast back as ONE
# array row; decile assignment is a codegen array scan, conversion =
# customer placed >= 1 URGENT order. No NTILE (a global-sort window),
# no per-row quantile probes.
@query(
    "decile_lift_table",
    oracle="""
WITH s AS (
  SELECT o.o_custkey,
         CAST(FLOOR(SUM(o.o_totalprice) * 100 + 0.5) AS BIGINT) // 10000
           AS bucket,
         MAX(CASE WHEN o.o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END)
           AS urgent
  FROM orders o GROUP BY o.o_custkey),
h AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS c FROM s GROUP BY bucket),
cumh AS (
  SELECT bucket,
         CAST(SUM(c) OVER (ORDER BY bucket
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum
  FROM h),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM s),
bnds AS (
  SELECT q, MIN(bucket) AS bval
  FROM cumh CROSS JOIN n
  JOIN (SELECT unnest(range(1, 10)) AS q) qs
    ON cum >= (q * n.n + 9) // 10
  GROUP BY q),
dec AS (
  SELECT s.o_custkey, s.urgent,
         1 + (SELECT COUNT(*) FROM bnds b WHERE b.bval < s.bucket) AS decile
  FROM s)
SELECT CAST(decile AS INT) AS decile, CAST(COUNT(*) AS BIGINT) AS n_cust,
       CAST(SUM(urgent) AS BIGINT) AS n_urgent,
       CAST(1000000 * SUM(urgent) // COUNT(*) AS BIGINT) AS urgent_ppm
FROM dec GROUP BY decile
""",
)
def decile_lift_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    s = o.groupBy("o_custkey").agg(
        (
            F.floor(F.sum("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
            / F.lit(10000)
        )
        .cast("bigint")
        .alias("bucket"),
        F.max(
            F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0)
        ).alias("urgent"),
    )
    h = s.groupBy("bucket").agg(F.count(F.lit(1)).alias("c"))
    wb = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    cumh = h.select(
        "bucket", F.sum("c").over(wb).cast("bigint").alias("cum")
    )
    n = s.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    qs = spark.range(1, 10).select(F.col("id").alias("q"))
    bnds = (
        cumh.crossJoin(F.broadcast(n))
        .join(
            F.broadcast(qs),
            F.col("cum") >= F.expr("(q * n + 9) div 10"),  # ceil(q*n/10)
        )
        .groupBy("q")
        .agg(F.min("bucket").alias("bval"))
    )
    arr = bnds.agg(F.sort_array(F.collect_list("bval")).alias("bnds"))
    dec = s.crossJoin(F.broadcast(arr)).select(
        "urgent",
        (
            F.lit(1)
            + F.size(
                F.filter(F.col("bnds"), lambda b: b < F.col("bucket"))
            )
        )
        .cast("int")
        .alias("decile"),
    )
    return dec.groupBy("decile").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_cust"),
        F.sum("urgent").cast("bigint").alias("n_urgent"),
        F.expr(
            "CAST(1000000 * sum(urgent) div count(1) AS BIGINT)"
        ).alias("urgent_ppm"),
    )


# --------------------------------------------------------------------
# 237. day-over-day audience overlap — retention/drift monitoring as
# set similarity: distinct (day, user) pairs, the day-(day+1)
# intersection via ONE user-keyed equi-join, Jaccard in exact integer
# ppm over the day-domain-bounded result. The per-day user SETS are
# never materialized per-pair — only counted — so the shuffle is the
# distinct pass plus one join, both keyed by user.
@query(
    "audience_overlap_drift",
    oracle="""
WITH du AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
tot AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS t FROM du GROUP BY day),
inter AS (
  SELECT a.day AS day, CAST(COUNT(*) AS BIGINT) AS i
  FROM du a JOIN du b ON b.user_id = a.user_id AND b.day = a.day + 1
  GROUP BY a.day)
SELECT ta.day, ta.t AS users_day, tb.t AS users_next,
       COALESCE(inter.i, 0) AS n_overlap,
       CAST(1000000 * COALESCE(inter.i, 0)
            // (ta.t + tb.t - COALESCE(inter.i, 0)) AS BIGINT) AS jaccard_ppm
FROM tot ta
JOIN tot tb ON tb.day = ta.day + 1
LEFT JOIN inter ON inter.day = ta.day
""",
)
def audience_overlap_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    du = (
        _t(spark, sf_dir, "events")
        .select(F.to_date("ts").alias("day"), "user_id")
        .distinct()
    )
    tot = du.groupBy("day").agg(F.count(F.lit(1)).cast("bigint").alias("t"))
    a = du
    b = du.select(F.col("day").alias("day_b"), F.col("user_id"))
    inter = (
        a.join(
            b,
            (a["user_id"] == b["user_id"])
            & (b["day_b"] == F.date_add(a["day"], 1)),
        )
        .groupBy(a["day"].alias("day"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("i"))
    )
    ta = tot
    tb = tot.select(F.col("day").alias("day_tb"), F.col("t").alias("t_next"))
    return (
        ta.join(tb, F.col("day_tb") == F.date_add(F.col("day"), 1))
        .join(inter, "day", "left")
        .select(
            "day",
            F.col("t").alias("users_day"),
            F.col("t_next").alias("users_next"),
            F.coalesce(F.col("i"), F.lit(0)).cast("bigint").alias("n_overlap"),
            F.expr(
                "CAST(1000000 * COALESCE(i, 0) div (t + t_next - COALESCE(i, 0)) AS BIGINT)"
            ).alias("jaccard_ppm"),
        )
    )


# --------------------------------------------------------------------
# 238. portable Bloom-filter membership — the join-pruning sketch
# built ENGINE-PORTABLY (unlike Spark's built-in bloom_filter_agg,
# whose serialized form no other engine can replay): K=3 bit positions
# per key from the repo's md5-prefix hash, a 65,536-bit filter packed
# as 2,048 int64 words holding 32 bits each (DuckDB's << overflows at
# bit 63, so 32-bit packing keeps every shift in range on both
# engines), bit_or per word with map-side combine. The probe side
# replays the hashes against the broadcast-size bitmap; the measured
# false-positive count over 1 probe/key of guaranteed-absent keys is
# deterministic — the oracle recomputes the identical filter and the
# identical FP set. Plan: build = 3n rows aggregated to <= 2,048
# words; probe = 3n' rows joined against the tiny bitmap. Nothing
# quadratic, nothing engine-private.
@query(
    "bloom_filter_membership",
    oracle="""
WITH keys AS (SELECT CAST(o_orderkey AS VARCHAR) AS k FROM orders),
build AS (
  SELECT CAST(('0x' || substr(md5('b' || i || ':' || k), 1, 15)) AS BIGINT)
         % 65536 AS pos
  FROM keys CROSS JOIN (SELECT unnest(range(0, 3)) AS i) h),
bitmap AS (
  SELECT pos // 32 AS word,
         bit_or(CAST(1 AS BIGINT) << CAST(pos % 32 AS INT)) AS bits
  FROM build GROUP BY pos // 32),
probes AS (SELECT 'absent:' || CAST(o_orderkey AS VARCHAR) AS k FROM orders),
pbits AS (
  SELECT k,
         CAST(('0x' || substr(md5('b' || i || ':' || k), 1, 15)) AS BIGINT)
         % 65536 AS pos
  FROM probes CROSS JOIN (SELECT unnest(range(0, 3)) AS i) h),
hits AS (
  SELECT p.k,
         CASE WHEN (COALESCE(b.bits, 0)
                    & (CAST(1 AS BIGINT) << CAST(p.pos % 32 AS INT))) <> 0
              THEN 1 ELSE 0 END AS hit
  FROM pbits p LEFT JOIN bitmap b ON b.word = p.pos // 32),
fp AS (SELECT k FROM hits GROUP BY k HAVING SUM(hit) = 3),
st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_keys FROM keys),
sp AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_probes FROM probes),
sf AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_fp FROM fp)
SELECT 65536 AS m_bits, st.n_keys, sp.n_probes, sf.n_fp,
       CAST(1000000 * sf.n_fp // sp.n_probes AS BIGINT) AS fp_ppm
FROM st CROSS JOIN sp CROSS JOIN sf
""",
)
def bloom_filter_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    from koalas_spark.operators.dedup import portable_hash60

    M = 65536
    keys = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").cast("string").alias("k")
    )
    hs = spark.range(3).select(F.col("id").cast("int").alias("i"))

    def positions(kdf: DataFrame) -> DataFrame:
        return kdf.crossJoin(F.broadcast(hs)).select(
            "k",
            (
                portable_hash60(
                    F.concat(F.lit("b"), F.col("i"), F.lit(":"), F.col("k"))
                )
                % M
            ).alias("pos"),
        )

    bitmap = (
        positions(keys)
        .groupBy((F.col("pos") / 32).cast("long").alias("word"))
        .agg(
            F.expr(
                "bit_or(shiftleft(CAST(1 AS BIGINT), CAST(pos % 32 AS INT)))"
            ).alias("bits")
        )
    )
    probes = keys.select(F.concat(F.lit("absent:"), F.col("k")).alias("k"))
    pbits = positions(probes).withColumn(
        "word", (F.col("pos") / 32).cast("long")
    )
    hits = pbits.join(F.broadcast(bitmap), "word", "left").select(
        "k",
        F.when(
            F.expr(
                "COALESCE(bits, CAST(0 AS BIGINT))"
                " & shiftleft(CAST(1 AS BIGINT), CAST(pos % 32 AS INT))"
            )
            != 0,
            1,
        )
        .otherwise(0)
        .alias("hit"),
    )
    fp = (
        hits.groupBy("k")
        .agg(F.sum("hit").alias("s"))
        .filter(F.col("s") == 3)
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_fp"))
    )
    st = keys.agg(F.count(F.lit(1)).cast("bigint").alias("n_keys"))
    sp = probes.agg(F.count(F.lit(1)).cast("bigint").alias("n_probes"))
    return (
        st.crossJoin(F.broadcast(sp))
        .crossJoin(F.broadcast(fp))
        .select(
            F.lit(M).cast("int").alias("m_bits"),
            "n_keys",
            "n_probes",
            "n_fp",
            F.expr("CAST(1000000 * n_fp div n_probes AS BIGINT)").alias(
                "fp_ppm"
            ),
        )
    )


# --------------------------------------------------------------------
# 239. portable Count-Min sketch vs ground truth — the heavy-hitter
# sketch whose cells both engines can compute bit-identically (md5
# cell hashing, depth 4 x width 1024 = 4,096 int64 counters). The
# sketch aggregates from per-token counts (identical math to
# per-occurrence increments, one shuffle cheaper), the exact top-20
# comes from TakeOrdered, and the report shows estimate >= truth
# (CMS's one-sided guarantee) with the exact integer overestimate.
# At 100 TB the sketch is a constant-size aggregation state — the
# point of CMS — while the oracle replays every cell exactly.
@query(
    "cms_heavy_hitters",
    oracle="""
WITH c AS (
  SELECT t.term AS token, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM (SELECT unnest(string_split_regex(TRIM(text), '\\s+')) AS term
        FROM documents) t
  GROUP BY t.term),
cells AS (
  SELECT d,
         CAST(('0x' || substr(md5('cms' || d || ':' || token), 1, 15)) AS BIGINT)
         % 1024 AS cell,
         CAST(SUM(cnt) AS BIGINT) AS v
  FROM c CROSS JOIN (SELECT unnest(range(0, 4)) AS d) ds
  GROUP BY 1, 2),
top AS (SELECT token, cnt FROM c ORDER BY cnt DESC, token ASC LIMIT 20),
est AS (
  SELECT t.token, t.cnt,
         MIN(cells.v) AS cms_est
  FROM top t
  CROSS JOIN (SELECT unnest(range(0, 4)) AS d) ds
  JOIN cells ON cells.d = ds.d
    AND cells.cell = CAST(('0x' || substr(md5('cms' || ds.d || ':' || t.token), 1, 15)) AS BIGINT) % 1024
  GROUP BY t.token, t.cnt)
SELECT token, cnt AS true_cnt, cms_est,
       CAST(1000000 * (cms_est - cnt) // cnt AS BIGINT) AS over_ppm
FROM est
""",
)
def cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from koalas_spark.functions.textfn import tokens
    from koalas_spark.operators.dedup import portable_hash60

    W, D = 1024, 4
    d = _t(spark, sf_dir, "documents")
    c = (
        d.select(F.explode(tokens(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        .localCheckpoint(eager=False)  # feeds the sketch AND the top-20
    )
    ds = spark.range(D).select(F.col("id").cast("int").alias("d"))
    cell = (
        portable_hash60(
            F.concat(F.lit("cms"), F.col("d"), F.lit(":"), F.col("token"))
        )
        % W
    )
    cells = (
        c.crossJoin(F.broadcast(ds))
        .groupBy("d", cell.alias("cell"))
        .agg(F.sum("cnt").cast("bigint").alias("v"))
    )
    top = c.orderBy(F.col("cnt").desc(), F.col("token").asc()).limit(20)
    probe = top.crossJoin(F.broadcast(ds)).select(
        "token", "cnt", "d", cell.alias("cell")
    )
    est = (
        probe.join(cells, ["d", "cell"])
        .groupBy("token", "cnt")
        .agg(F.min("v").alias("cms_est"))
    )
    return est.select(
        "token",
        F.col("cnt").alias("true_cnt"),
        "cms_est",
        F.expr("CAST(1000000 * (cms_est - cnt) div cnt AS BIGINT)").alias(
            "over_ppm"
        ),
    )


# --------------------------------------------------------------------
# 240. grouped mode — the most frequent value per group with a full
# deterministic tie-break (highest count, then smallest value): counts
# per (group, value) aggregate with map-side combine; the argmax
# window runs over value-DOMAIN-bounded partitions (l_quantity has
# ~50 distinct values), never over raw rows. Built-in mode() has
# engine-specific tie behavior — the explicit formulation is the
# cross-engine-safe one.
@query(
    "grouped_mode_value",
    oracle="""
SELECT l_returnflag, l_linestatus, mode_qty, cnt FROM (
  SELECT l_returnflag, l_linestatus,
         CAST(l_quantity AS INT) AS mode_qty,
         CAST(COUNT(*) AS BIGINT) AS cnt,
         ROW_NUMBER() OVER (PARTITION BY l_returnflag, l_linestatus
                            ORDER BY COUNT(*) DESC, CAST(l_quantity AS INT) ASC)
           AS rk
  FROM lineitem GROUP BY l_returnflag, l_linestatus, CAST(l_quantity AS INT)) t
WHERE rk = 1
""",
)
def grouped_mode_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        "l_linestatus",
        F.col("l_quantity").cast("int").alias("mode_qty"),
    )
    counts = li.groupBy("l_returnflag", "l_linestatus", "mode_qty").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    w = Window.partitionBy("l_returnflag", "l_linestatus").orderBy(
        F.col("cnt").desc(), F.col("mode_qty").asc()
    )
    return (
        counts.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("l_returnflag", "l_linestatus", "mode_qty", "cnt")
    )
