"""Fourth wave: set operations, portable string/date function
showcases, from_json struct flattening, and a bucketed co-located
join (shuffle elimination via storage layout — the technique that
matters most for repeated fact-fact joins at 100 TB)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from koalas_spark.queries import query
from koalas_spark.queries.analytics import _t, dsum, _dsum_sql


# --------------------------------------------------------------------
# INTERSECT — distinct set semantics on both engines.
@query(
    "set_intersect",
    oracle="""
SELECT c_nationkey FROM customer WHERE c_acctbal > 5000
INTERSECT
SELECT s_nationkey FROM supplier WHERE s_acctbal > 5000
""",
    bench=False,
)
def set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 5000).select("c_nationkey")
    sup = _t(spark, sf_dir, "supplier").filter(F.col("s_acctbal") > 5000).select(
        F.col("s_nationkey").alias("c_nationkey")
    )
    return cust.intersect(sup)


# --------------------------------------------------------------------
# EXCEPT — nations with high-balance customers but no high-balance
# suppliers.
@query(
    "set_except",
    oracle="""
SELECT c_nationkey FROM customer WHERE c_acctbal > 5000
EXCEPT
SELECT s_nationkey FROM supplier WHERE s_acctbal > 5000
""",
    bench=False,
)
def set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 5000).select("c_nationkey")
    sup = _t(spark, sf_dir, "supplier").filter(F.col("s_acctbal") > 5000).select(
        F.col("s_nationkey").alias("c_nationkey")
    )
    # subtract = SQL EXCEPT (set semantics); exceptAll would be bag
    # difference and keep values merely more frequent on the left
    return cust.subtract(sup)


# --------------------------------------------------------------------
# string functions — all codegen'd JVM expressions with exact DuckDB
# twins (ASCII inputs, so char semantics agree).
@query(
    "string_ops",
    oracle="""
SELECT c_custkey,
       UPPER(c_name) AS name_upper,
       SUBSTRING(c_name, 1, 8) AS name_prefix,
       CAST(LENGTH(c_name) AS BIGINT) AS name_len,
       REPLACE(c_name, 'Customer', 'Cust') AS name_short,
       LPAD(CAST(c_custkey AS VARCHAR), 10, '0') AS key_padded,
       CONCAT_WS('|', c_mktsegment, c_name) AS seg_name,
       levenshtein(c_mktsegment, 'BUILDING') AS lev_building
FROM customer
""",
    bench=False,
)
def string_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.upper("c_name").alias("name_upper"),
        F.substring("c_name", 1, 8).alias("name_prefix"),
        F.length("c_name").cast("long").alias("name_len"),
        F.replace(F.col("c_name"), F.lit("Customer"), F.lit("Cust")).alias("name_short"),
        F.lpad(F.col("c_custkey").cast("string"), 10, "0").alias("key_padded"),
        F.concat_ws("|", "c_mktsegment", "c_name").alias("seg_name"),
        F.levenshtein(F.col("c_mktsegment"), F.lit("BUILDING")).alias("lev_building"),
    )


# --------------------------------------------------------------------
# date functions — ISO weekday to dodge the engines' differing
# day-of-week origins (Spark weekday: 0=Mon; DuckDB isodow: 1=Mon).
@query(
    "date_ops",
    oracle="""
SELECT o_orderkey,
       CAST(EXTRACT(year FROM o_orderdate) AS INT) AS yr,
       CAST(EXTRACT(month FROM o_orderdate) AS INT) AS mo,
       CAST(isodow(o_orderdate) AS INT) AS iso_dow,
       o_orderdate + INTERVAL 30 DAY AS due_date,
       CAST(last_day(o_orderdate) AS DATE) AS month_end,
       CAST(date_diff('day', DATE '1995-01-01', o_orderdate) AS INT) AS days_since_95
FROM orders WHERE o_orderkey <= 1000
""",
    bench=False,
)
def date_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 1000)
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("yr"),
        F.month("o_orderdate").alias("mo"),
        (F.weekday("o_orderdate") + 1).alias("iso_dow"),
        F.date_add("o_orderdate", 30).cast("timestamp").alias("due_date"),
        F.last_day("o_orderdate").alias("month_end"),
        F.datediff("o_orderdate", F.lit("1995-01-01")).alias("days_since_95"),
    )


# --------------------------------------------------------------------
# from_json — parse props into a typed struct (schema-on-read with an
# explicit schema, not get_json_object string plucking), flatten, agg.
@query(
    "json_struct_flatten",
    oracle="""
SELECT event_type, k_bucket, COUNT(*) AS n
FROM (
  SELECT event_type,
         CAST(json_extract_string(props, '$.k') AS BIGINT) // 10 AS k_bucket
  FROM events) t
GROUP BY event_type, k_bucket
""",
    bench=False,
)
def json_struct_flatten(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    parsed = ev.withColumn("p", F.from_json("props", "k bigint"))
    return (
        parsed.select("event_type", (F.col("p.k") / 10).cast("bigint").alias("k_bucket"))
        .groupBy("event_type", "k_bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# --------------------------------------------------------------------
# bucketed co-located join: both fact tables written bucketed+sorted
# on the join key, so the SortMergeJoin needs NO exchange on either
# side (tests/test_plans.py asserts the shuffle-free plan). At 100 TB
# this is the difference between re-shuffling both fact tables on
# every join and paying the layout cost once at ingest.
@query(
    "bucketed_join_revenue",
    oracle=f"""
SELECT o_orderpriority, COUNT(*) AS n_items,
       {_dsum_sql('l_extendedprice * (1 - l_discount)')} AS revenue
FROM orders JOIN lineitem ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
""",
    bench=False,
)
def bucketed_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    from koalas_spark.operators.bucketing import bucketed_pair

    li, o = bucketed_pair(
        spark,
        sf_dir,
        ("lineitem", "l_orderkey"),
        ("orders", "o_orderkey"),
        buckets=8,
    )
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
        )
    )
