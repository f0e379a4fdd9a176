"""Round-10 batch-9 additions (SURVEY.md §2 extensions): array and
map higher-order-function showcases (the collection-type parity rows
next to #76 string_ops / #77 date_ops) and the Spark 4
Arrow-optimized Python UDF path.

Reference parity note: not in the reference (its surface is the frame
ops in source/koalas/dataframe.d:73-311); determinism per the repo
rules (queries/__init__.py docstring): arrays fully sorted before any
positional use, exact integers throughout.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from koalas_spark.queries import query
from koalas_spark.queries.analytics import _t


# --------------------------------------------------------------------
# 426. array higher-order functions showcase — the collection-type
# parity row (#76/#77's sibling): per order, the SORTED quantity
# array, then transform (+1 on each), filter (> 25), aggregate (sum
# from 0), slice (first 3), array_distinct / array_max / size — all
# codegen lambda expressions, zero Python, zero extra shuffle beyond
# the collect_list groupBy. Arrays are sort_array'd FIRST so every
# positional op is deterministic under shuffle (collect_list order is
# not). DuckDB twin: list_sort / list_transform / list_filter /
# list_sum / list_slice.
@query(
    "array_ops_showcase",
    oracle="""
WITH a AS (
  SELECT l_orderkey,
         list_sort(list(CAST(FLOOR(l_quantity + 0.5) AS BIGINT))) AS qs
  FROM lineitem GROUP BY l_orderkey)
SELECT l_orderkey,
       CAST(LEN(qs) AS INT) AS n_items,
       CAST(qs[1] AS BIGINT) AS min_qty,
       CAST(qs[-1] AS BIGINT) AS max_qty,
       CAST(LEN(list_distinct(qs)) AS INT) AS n_distinct,
       CAST(list_sum(list_transform(qs, x -> x + 1)) AS BIGINT)
         AS sum_plus1,
       CAST(LEN(list_filter(qs, x -> x > 25)) AS INT) AS n_over_25,
       CAST(list_sum(list_slice(qs, 1, 3)) AS BIGINT) AS sum_first3
FROM a
""",
)
def array_ops_showcase(spark: SparkSession, sf_dir: str) -> DataFrame:
    a = (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(
            F.sort_array(
                F.collect_list(
                    F.floor(F.col("l_quantity") + 0.5).cast("bigint")
                )
            ).alias("qs")
        )
    )
    return a.select(
        "l_orderkey",
        F.size("qs").cast("int").alias("n_items"),
        F.element_at("qs", 1).cast("bigint").alias("min_qty"),
        F.element_at("qs", -1).cast("bigint").alias("max_qty"),
        F.size(F.array_distinct("qs")).cast("int").alias("n_distinct"),
        F.aggregate(
            F.transform("qs", lambda x: x + 1),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        )
        .cast("bigint")
        .alias("sum_plus1"),
        F.size(F.filter("qs", lambda x: x > 25)).cast("int").alias(
            "n_over_25"
        ),
        F.aggregate(
            F.slice("qs", 1, 3),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        )
        .cast("bigint")
        .alias("sum_first3"),
    )


# --------------------------------------------------------------------
# 427. map-type operations showcase — MapType end-to-end: per order
# priority, a map<linestatus, count> built with map_from_entries over
# the sorted per-status counts, then map_keys / element_at /
# transform_values / map_filter — all codegen. The map is built from
# a SORTED entry array so its serialized form is deterministic.
# DuckDB twin: MAP(...) from the same sorted lists, map_extract (as
# list element lookup), cardinality.
@query(
    "map_ops_showcase",
    oracle="""
WITH c AS (
  SELECT o.o_orderpriority AS priority, l.l_linestatus AS st,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
  GROUP BY 1, 2),
m AS (
  SELECT priority,
         list_sort(list(st)) AS sts,
         list_sort(list(st || ':' || CAST(n AS VARCHAR))) AS entries,
         CAST(SUM(n) AS BIGINT) AS total,
         CAST(MAX(CASE WHEN st = 'F' THEN n END) AS BIGINT) AS f_count,
         CAST(SUM(CASE WHEN n > 1000 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_big_vals
  FROM c GROUP BY priority)
SELECT priority,
       CAST(LEN(sts) AS INT) AS n_keys,
       array_to_string(sts, ',') AS keys_sorted,
       f_count, total,
       CAST(n_big_vals AS INT) AS n_big_vals
FROM m ORDER BY priority
""",
)
def map_ops_showcase(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_linestatus")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    c = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(
            F.col("o_orderpriority").alias("priority"),
            F.col("l_linestatus").alias("st"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    m = c.groupBy("priority").agg(
        F.map_from_entries(
            F.sort_array(F.collect_list(F.struct("st", "n")))
        ).alias("mp")
    )
    return m.select(
        "priority",
        F.size("mp").cast("int").alias("n_keys"),
        F.array_join(F.sort_array(F.map_keys("mp")), ",").alias(
            "keys_sorted"
        ),
        F.element_at("mp", "F").cast("bigint").alias("f_count"),
        F.aggregate(
            F.map_values("mp"),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        )
        .cast("bigint")
        .alias("total"),
        F.size(
            F.map_filter("mp", lambda k, v: v > 1000)
        )
        .cast("int")
        .alias("n_big_vals"),
    ).orderBy("priority")


# --------------------------------------------------------------------
# 428. Arrow-optimized Python UDF — Spark 4's sanctioned scalar-UDF
# path (@udf(useArrow=True)): batches cross the JVM/Python boundary
# as Arrow, not pickled rows, closing most of the classic 10-100x
# row-UDF gap while keeping arbitrary Python per value. The UDF here
# is a deterministic Luhn-style checksum digit over the order key
# (digit-sum arithmetic — representative of the validator/formatter
# UDFs teams actually write; everything expressible as SQL stays SQL
# per the repo's no-Python-hot-path rule, the demo IS the surface).
# Plan shows ArrowEvalPython — the audit distinguishes it from the
# banned row-wise BatchEvalPython. Oracle replicates the digit sum in
# SQL arithmetic.
@query(
    "arrow_python_udf_demo",
    oracle="""
WITH d AS (
  SELECT o_orderkey,
         (o_orderkey % 10) + ((o_orderkey // 10) % 10)
         + ((o_orderkey // 100) % 10) + ((o_orderkey // 1000) % 10)
         + ((o_orderkey // 10000) % 10) + ((o_orderkey // 100000) % 10)
         + ((o_orderkey // 1000000) % 10)
         + ((o_orderkey // 10000000) % 10)
         + ((o_orderkey // 100000000) % 10)
         + ((o_orderkey // 1000000000) % 10)
         + ((o_orderkey // 10000000000) % 10)
         + ((o_orderkey // 100000000000) % 10) AS ds
  FROM orders)
SELECT CAST(ds % 10 AS BIGINT) AS check_digit,
       CAST(COUNT(*) AS BIGINT) AS n_orders
FROM d GROUP BY 1 ORDER BY 1
""",
    allow={"Python"},
)
def arrow_python_udf_demo(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import udf

    @udf("bigint", useArrow=True)
    def digit_check(k: int) -> int:
        s = 0
        while k > 0:
            s += k % 10
            k //= 10
        return s % 10

    o = _t(spark, sf_dir, "orders").select("o_orderkey")
    return (
        o.select(digit_check("o_orderkey").alias("check_digit"))
        .groupBy("check_digit")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_orders"))
        .orderBy("check_digit")
    )
