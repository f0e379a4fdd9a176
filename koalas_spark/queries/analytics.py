"""Headline analytics queries (SURVEY.md §2.2).

TPC-H-shaped workloads adapted to the synthetic star schema. Each is
written with the DataFrame API so Catalyst handles pushdown, pruning,
join strategy (dims broadcast), and AQE handles runtime coalescing and
skew — the plan survives a 100× scale-up without edits.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from koalas_spark.memo import artifact
from koalas_spark.plans.session import dim

# decimal(18,6): per-row values fit 12 integer digits at any SF (SF
# scales row count, not magnitudes); precision<=18 is long-backed in
# Tungsten (measured ~20% faster agg than decimal(25,6)) and sum()
# auto-widens to (28,6) for 1e22 of accumulation headroom.
DEC = "decimal(18,6)"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        return _load_events(spark, sf_dir)
    path = f"{sf_dir}/{name}.parquet"
    if name in ("documents", "embeddings"):
        # one spread (checkpointed) scan per session artifact
        # (koalas_spark.memo): each localCheckpoint pins blocks until
        # the ContextCleaner runs, so re-deriving it per query call
        # leaks block-manager memory across a bench run and the
        # eviction churn shows up as multi-second timing noise on the
        # compute-heavy pipelines
        return artifact(
            spark, "spread", (sf_dir, name), lambda: _spread(spark.read.parquet(path))
        )
    return spark.read.parquet(path)


def _spread(df: DataFrame) -> DataFrame:
    """Spread an under-parallel scan of a compute-heavy table across
    the cluster.

    The test tables are single-row-group parquet files, so the scan
    yields ONE partition and every downstream map stage serializes on
    one core (measured: 9s single-task shingle stages while 31 cores
    idle). A plain repartition is NOT enough: Catalyst pushes heavy
    projections below the exchange to narrow the shuffled rows,
    landing the compute right back on the single scan partition — so
    we cut the lineage with a lazy localCheckpoint, a hard optimizer
    barrier (measured: minhash verify 8s -> 0.8s).

    Applied only to documents/embeddings, whose per-row compute
    (shingling, hashing, vector math) dwarfs their row width; for
    light-row fact tables the extra exchange costs more than the
    single-core scan it saves. Gated on the scan having fewer splits
    than half the cores — a real 100 TB table scans as thousands of
    splits and takes the plain path untouched, keeping filter
    pushdown and column pruning at the scan."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < max(2, target // 2):
        return df.repartition(target).localCheckpoint(eager=False)
    return df


def _load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalize the events scan against parquet timestamp flavor.

    The generator has written ts as TIMESTAMP(NANOS) (rejected by the
    reader without the nanosAsLong conf) and as tz-less TIMESTAMP(MICROS)
    (read as TIMESTAMP_NTZ by Spark 4.x). Every downstream consumer —
    unix-epoch casts, withWatermark, window() — requires TIMESTAMP_LTZ,
    so normalize both flavors here, once, instead of per query. Under
    the UTC session tz the NTZ->LTZ cast is an identity relabel, so
    DuckDB oracles (which read the raw micros) still agree."""
    from koalas_spark.sources.io import normalize_event_time

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    return normalize_event_time(df)


def daily_revenue_table(
    spark: SparkSession, sf_dir: str, rebuild: bool = False
) -> DataFrame:
    """The day-domain daily-revenue table (d = days since 1995-01-01,
    x = exact cents sum of o_totalprice), a session artifact
    (koalas_spark.memo) shared by every day-domain time-series
    consumer (ACF, Theil-Sen, Mann-Kendall, peaks, drawdown,
    changepoint, Bollinger, ANOVA, Fourier, Durbin-Watson).

    Why share: each of those queries' dominant cost at corpus scale
    is the SAME orders scan + map-side-combined groupBy; the result
    is a pure function of orders and is ~2.4k rows at any SF.
    ``rebuild=True`` recomputes from orders (the parity test's path).
    Oracles are unaffected — they recompute the day table in SQL from
    orders."""
    o = _t(spark, sf_dir, "orders")
    fresh = o.groupBy(
        F.datediff(
            F.col("o_orderdate").cast("date"), F.lit("1995-01-01").cast("date")
        )
        .cast("bigint")
        .alias("d")
    ).agg(
        F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint"))
        .cast("bigint")
        .alias("x")
    )
    if rebuild:
        return fresh
    # ~2.4k rows at any SF: one split is fine (the consumers' windows
    # run single-partition over the bounded domain anyway); cut the
    # lineage once and share per session.
    return artifact(
        spark,
        "daily_revenue",
        (sf_dir, "orders"),
        lambda: fresh.localCheckpoint(eager=False),
    )


def dsum(c: Column | str) -> Column:
    """Order-independent (exact decimal) sum of a double expression,
    returned as double — bit-identical across engines."""
    col = F.col(c) if isinstance(c, str) else c
    return F.sum(col.cast(DEC)).cast("double")


def davg(c: Column | str) -> Column:
    col = F.col(c) if isinstance(c, str) else c
    return F.sum(col.cast(DEC)).cast("double") / F.count(col)


def _dsum_sql(expr: str) -> str:
    # The VARCHAR hop is load-bearing: DuckDB's DECIMAL->DOUBLE cast
    # is NOT correctly rounded once |sum| exceeds 2^53/10^6 ~ 9.0e9
    # (the scaled int128 loses bits before the divide), while Spark's
    # BigDecimal.doubleValue() is. Found by the sf1 scaling run: both
    # engines agreed on the exact decimal sum 27864155010.941590, but
    # DuckDB's direct double cast returned ...593 vs Spark's correctly
    # rounded ...59. DECIMAL->VARCHAR is exact and VARCHAR->DOUBLE is
    # strtod (correctly rounded), so this matches Spark at any scale.
    return f"CAST(CAST(SUM(CAST({expr} AS DECIMAL(25,6))) AS VARCHAR) AS DOUBLE)"


def _davg_sql(expr: str) -> str:
    return f"{_dsum_sql(expr)} / COUNT({expr})"


from koalas_spark.queries import query  # noqa: E402


# --------------------------------------------------------------------
# 21. Q1 pricing summary — the flagship: 2-key groupBy, 8 aggregates.
# Scale: partial aggregation map-side; only 6 (flag,status) groups
# shuffle. Scan reads 7 columns of 11 (pruned), shipdate filter pushed.
@query(
    "q1_pricing_summary",
    oracle=f"""
SELECT l_returnflag, l_linestatus,
       {_dsum_sql('l_quantity')}                                   AS sum_qty,
       {_dsum_sql('l_extendedprice')}                              AS sum_base_price,
       {_dsum_sql('l_extendedprice * (1 - l_discount)')}           AS sum_disc_price,
       {_dsum_sql('l_extendedprice * (1 - l_discount) * (1 + l_tax)')} AS sum_charge,
       {_davg_sql('l_quantity')}                                   AS avg_qty,
       {_davg_sql('l_extendedprice')}                              AS avg_price,
       {_davg_sql('l_discount')}                                   AS avg_disc,
       COUNT(*)                                                    AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
""",
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity").alias("sum_qty"),
            dsum("l_extendedprice").alias("sum_base_price"),
            dsum(disc_price).alias("sum_disc_price"),
            dsum(charge).alias("sum_charge"),
            davg("l_quantity").alias("avg_qty"),
            davg("l_extendedprice").alias("avg_price"),
            davg("l_discount").alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# --------------------------------------------------------------------
# 22. Q3 shipping priority — filter both fact sides, join, top-10.
# customer is a dim → broadcast; orders⋈lineitem shuffles on orderkey.
@query(
    "q3_shipping_priority",
    oracle=f"""
SELECT l_orderkey,
       {_dsum_sql('l_extendedprice * (1 - l_discount)')} AS revenue,
       o_orderdate, o_orderpriority
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-06-01 00:00:00'
  AND l_shipdate  > TIMESTAMP '1998-06-01 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
""",
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-06-01").cast("timestamp")
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-06-01").cast("timestamp")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(dim(cust, "customer"), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


# --------------------------------------------------------------------
# 23. Q4 order priority — EXISTS → left-semi join (no row explosion).
@query(
    "q4_order_priority",
    oracle="""
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1998-07-01 00:00:00'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
GROUP BY o_orderpriority
""",
)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1998-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-07-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem")
    semi = orders.join(
        li,
        (orders.o_orderkey == li.l_orderkey) & (li.l_shipdate > orders.o_orderdate),
        "left_semi",
    )
    return semi.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("order_count"))


# --------------------------------------------------------------------
# 24. Q5 local supplier volume — 6-way join; constant dims broadcast,
# SF-linear customer/supplier left to AQE (dim() gates the hint),
# fact-fact join shuffles once on orderkey.
@query(
    "q5_local_supplier",
    oracle=f"""
SELECT n_name, {_dsum_sql('l_extendedprice * (1 - l_discount)')} AS revenue
FROM customer
JOIN orders   ON c_custkey  = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey  = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
GROUP BY n_name
""",
)
def q5_local_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(dim(cust, "customer"), orders.o_custkey == cust.c_custkey)
        .join(
            dim(supp, "supplier"),
            (li.l_suppkey == supp.s_suppkey) & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(dim(nation, "nation"), supp.s_nationkey == nation.n_nationkey)
        .join(dim(region, "region"), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
    )


# --------------------------------------------------------------------
# 25. Q6 forecast revenue — scan + tight filter + single agg.
# The showcase for predicate pushdown: all three filters reach parquet.
@query(
    "q6_forecast_revenue",
    oracle=f"""
SELECT {_dsum_sql('l_extendedprice * l_discount')} AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
  AND l_discount >= 0.05 AND l_discount <= 0.07
  AND l_quantity < 24.0
""",
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24.0)
        )
        .agg(dsum(F.col("l_extendedprice") * F.col("l_discount")).alias("revenue"))
    )


# --------------------------------------------------------------------
# 26. Q10 returned items — 4-way join + group + top-20.
@query(
    "q10_returned_items",
    oracle=f"""
SELECT c_custkey, c_name,
       {_dsum_sql('l_extendedprice * (1 - l_discount)')} AS revenue,
       c_acctbal, n_name
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
""",
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    nation = _t(spark, sf_dir, "nation")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(dim(cust, "customer"), orders.o_custkey == cust.c_custkey)
        .join(dim(nation, "nation"), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


# --------------------------------------------------------------------
# 27. Q18 large orders — group-having subquery then join back.
# The having-aggregate reuses the same orderkey partitioning as the
# join that follows — one shuffle, not two (AQE reuses the exchange).
@query(
    "q18_large_orders",
    oracle=f"""
SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice,
       {_dsum_sql('l_quantity')} AS sum_qty
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
WHERE o_orderkey IN (
    SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
    HAVING SUM(l_quantity) > 200.0)
GROUP BY c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice
""",
)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ONE lineitem aggregation serves both the HAVING filter and the
    # output sum (the join key equals the group key, so re-aggregating
    # after the join — the naive Q18 shape — is pure waste: it was a
    # second full lineitem scan + shuffle, and measured 7.5x cost at
    # 10x data in the sf1 run). The filter compares the plain double
    # sum exactly like the oracle's HAVING (quantities are integral,
    # so the double sum is exact); the output rides the decimal sum.
    # Customer is NOT force-broadcast: it scales with SF, and AQE
    # already broadcasts it while it is small.
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(
            F.sum("l_quantity").alias("_sq"),
            dsum("l_quantity").alias("sum_qty"),
        )
        .filter(F.col("_sq") > 200.0)
    )
    return (
        big.join(orders, F.col("l_orderkey") == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            "c_custkey", "c_name", "o_orderkey", "o_orderdate",
            "o_totalprice", "sum_qty",
        )
    )


# --------------------------------------------------------------------
# 28. top-k per group — window row_number ≤ 3 per supplier.
# At scale: single hash-partition on suppkey, in-partition sort only.
@query(
    "top_k_per_group",
    oracle="""
SELECT l_suppkey, l_orderkey, l_linenumber, l_extendedprice, rk
FROM (
  SELECT l_suppkey, l_orderkey, l_linenumber, l_extendedprice,
         ROW_NUMBER() OVER (PARTITION BY l_suppkey
                            ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS rk
  FROM lineitem) t
WHERE rk <= 3
""",
)
def top_k_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_suppkey").orderBy(
        F.col("l_extendedprice").desc(), F.col("l_orderkey"), F.col("l_linenumber")
    )
    return (
        li.select("l_suppkey", "l_orderkey", "l_linenumber", "l_extendedprice")
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
    )


# --------------------------------------------------------------------
# 29/30. rollup & cube — hierarchical / full grouping sets.
@query(
    "rollup_agg",
    oracle=f"""
SELECT l_returnflag, l_linestatus,
       {_dsum_sql('l_quantity')} AS sum_qty, COUNT(*) AS n
FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
""",
)
def rollup_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        dsum("l_quantity").alias("sum_qty"), F.count(F.lit(1)).alias("n")
    )


@query(
    "cube_agg",
    oracle=f"""
SELECT l_returnflag, l_linestatus,
       {_dsum_sql('l_quantity')} AS sum_qty, COUNT(*) AS n
FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
""",
)
def cube_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        dsum("l_quantity").alias("sum_qty"), F.count(F.lit(1)).alias("n")
    )


# --------------------------------------------------------------------
# 31. pivot — linestatus values to columns (oracle: CASE WHEN sums).
@query(
    "pivot_linestatus",
    oracle=f"""
SELECT l_returnflag,
       {_dsum_sql("CASE WHEN l_linestatus = 'O' THEN l_quantity END")} AS qty_O,
       {_dsum_sql("CASE WHEN l_linestatus = 'F' THEN l_quantity END")} AS qty_F
FROM lineitem GROUP BY l_returnflag
""",
)
def pivot_linestatus(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(dsum("l_quantity"))
        .withColumnRenamed("O", "qty_O")
        .withColumnRenamed("F", "qty_F")
    )


# --------------------------------------------------------------------
# 32. sessionization — lag + gap>30min cumulative session ids.
# Two windows over the same (user_id, ts) partitioning → one shuffle.
@query(
    "sessionize_events",
    oracle="""
SELECT user_id, session_id,
       MIN(ts) AS session_start, MAX(ts) AS session_end,
       COUNT(*) AS n_events
FROM (
  SELECT user_id, ts,
         CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
  FROM (
    SELECT user_id, ts, event_id,
           CASE WHEN sec - LAG(sec) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                     > 1800
                OR LAG(sec) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                THEN 1 ELSE 0 END AS is_new
    FROM (SELECT user_id, ts, event_id,
                 CAST(FLOOR(epoch(ts)) AS BIGINT) AS sec
          FROM events) e0) a) b
GROUP BY user_id, session_id
""",
)
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(w)
    is_new = F.when(gap.isNull() | (gap > 30 * 60), 1).otherwise(0)
    sess = F.sum("is_new").over(w.rowsBetween(Window.unboundedPreceding, 0))
    return (
        ev.select("user_id", "ts", "event_id")
        .withColumn("is_new", is_new)
        .withColumn("session_id", sess)
        .groupBy("user_id", "session_id")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


# --------------------------------------------------------------------
# 33. as-of join — for each event, the latest order of that customer
# at-or-before the event timestamp. Implemented with the distributed
# union-sort technique in operators/asof.py: ONE shuffle on the key,
# window carry-forward, no per-event probe.
@query(
    "asof_join_events_orders",
    oracle="""
SELECT event_id, user_id, ts, o_orderkey AS asof_orderkey, o_orderdate AS asof_orderdate
FROM (
  SELECT e.event_id, e.user_id, e.ts, o.o_orderkey, o.o_orderdate,
         ROW_NUMBER() OVER (PARTITION BY e.event_id
                            ORDER BY o.o_orderdate DESC NULLS LAST,
                                     o.o_orderkey DESC NULLS LAST) AS rk
  FROM events e
  LEFT JOIN orders o
    ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts) t
WHERE rk = 1
""",
)
def asof_join_events_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from koalas_spark.operators.asof import asof_join

    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    orders = _t(spark, sf_dir, "orders").select("o_custkey", "o_orderkey", "o_orderdate")
    return asof_join(
        ev,
        orders,
        left_key="user_id",
        right_key="o_custkey",
        left_time="ts",
        right_time="o_orderdate",
        right_order_cols=["o_orderkey"],
        payload_cols={"o_orderkey": "asof_orderkey", "o_orderdate": "asof_orderdate"},
    )


# --------------------------------------------------------------------
# 34. tumbling window agg — 1-hour windows over event time.
@query(
    "window_tumbling_events",
    oracle=f"""
SELECT DATE_TRUNC('hour', ts) AS window_start, event_type,
       COUNT(*) AS n, {_dsum_sql('value')} AS sum_value
FROM events GROUP BY 1, 2
""",
)
def window_tumbling_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("window_start"), F.col("event_type")
        )
        .agg(F.count(F.lit(1)).alias("n"), dsum("value").alias("sum_value"))
    )


# --------------------------------------------------------------------
# 35. JSON extraction from event props.
@query(
    "events_json_extract",
    oracle="""
SELECT event_type,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       COUNT(*) AS n
FROM events GROUP BY event_type
""",
)
def events_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("bigint")
    return ev.groupBy("event_type").agg(
        F.sum(k).alias("sum_k"), F.count(F.lit(1)).alias("n")
    )


# --------------------------------------------------------------------
# 36. approx distinct — sketch-based cardinality. HLL values differ
# across engines by design, so the approx side can't be hash-compared
# directly; instead the query emits the EXACT count (oracle-checked
# value-for-value) plus a boolean asserting the sketch landed within
# 5% of it (oracle: literal TRUE). rsd=0.02 leaves 2.5 sigma of
# margin under the 5% bar, and HLL++ is deterministic for fixed
# input, so the flag is stable across runs.
@query(
    "distinct_approx",
    oracle="""
    SELECT CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
           TRUE AS approx_within_5pct
    FROM lineitem
    """,
)
def distinct_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    agg = li.agg(
        F.approx_count_distinct("l_partkey", rsd=0.02).alias("approx_parts"),
        F.countDistinct("l_partkey").alias("exact_parts"),
    )
    return agg.select(
        "exact_parts",
        (
            F.abs(F.col("approx_parts") - F.col("exact_parts"))
            <= 0.05 * F.col("exact_parts")
        ).alias("approx_within_5pct"),
    )
