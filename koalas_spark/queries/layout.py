"""Data-layout queries (SURVEY.md §2.2 §121): Z-order clustered scans.

The query stages a Z-order-clustered copy of lineitem (Morton key over
l_partkey × l_suppkey, `operators/layout.py`) and answers a
two-dimensional box predicate from it. Results are identical to the
straight scan — the oracle runs the same predicate on the original
table — while the layout makes the box predicate prunable: every
staged file carries a tight min/max bounding box in BOTH dimensions,
so parquet row-group statistics skip most of the table
(tests/test_layout.py asserts the skip rate vs a linear sort).

Reference parity: generalizes the reference's single-dimension sort
layout (`dataframe.d:177 sort`, `index.d:24 multiSort`) to the
multi-dimensional clustering a columnar lake needs at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from koalas_spark.memo import staged
from koalas_spark.queries import query
from koalas_spark.queries.analytics import _t
from koalas_spark.sources.io import read_source


# --------------------------------------------------------------------
# 121. Z-order clustered box scan — stage once per (sf, mtime), then
# a 2-D range predicate + agg that parquet min/max stats can prune.
@query(
    "zorder_box_scan",
    oracle="""
SELECT l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(l_quantity) AS DECIMAL(25,6)) AS sum_qty
FROM lineitem
WHERE l_partkey BETWEEN 40 AND 99 AND l_suppkey BETWEEN 2 AND 5
GROUP BY l_returnflag
""",
)
def zorder_box_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_source(spark, zordered_lineitem_path(spark, sf_dir), "lineitem")
    return (
        li.filter(
            F.col("l_partkey").between(40, 99)
            & F.col("l_suppkey").between(2, 5)
        )
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.col("l_quantity").cast("decimal(18,6)")).alias("sum_qty"),
        )
    )


def zordered_lineitem_path(spark: SparkSession, sf_dir: str) -> str:
    """Stage lineitem Z-ordered by (l_partkey, l_suppkey), once per
    session (koalas_spark.memo)."""
    from koalas_spark.operators.layout import zorder_write

    return staged(
        spark,
        "zorder_lineitem",
        (sf_dir, "lineitem"),
        lambda path: zorder_write(
            _t(spark, sf_dir, "lineitem"),
            ["l_partkey", "l_suppkey"],
            path,
            bits=12,
            num_files=16,
        ),
    )


# --------------------------------------------------------------------
# 204. Hilbert-clustered box scan — the locality upgrade over #121's
# Morton order: Hilbert consecutive key values are always grid-
# ADJACENT (Z-order jumps diagonals at quadrant seams), so file
# bounding boxes come out tighter for the same file count — the
# clustering Delta exposes for liquid tables. Same staging discipline
# as zorder_box_scan; oracle = the same 2-D box predicate on the
# original table, so results prove layout-invariance while the footer
# statistics do the skipping (tests/test_layout.py measures the
# skip-rate ordering hilbert <= linear alongside the Spark-vs-
# reference-walk exactness of the key itself).
@query(
    "hilbert_box_scan",
    oracle="""
SELECT l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(l_quantity) AS DECIMAL(25,6)) AS sum_qty
FROM lineitem
WHERE l_partkey BETWEEN 120 AND 180 AND l_suppkey BETWEEN 6 AND 9
GROUP BY l_returnflag
""",
    bench=False,
)
def hilbert_box_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_source(spark, hilbert_lineitem_path(spark, sf_dir), "lineitem")
    return (
        li.filter(
            F.col("l_partkey").between(120, 180)
            & F.col("l_suppkey").between(6, 9)
        )
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.col("l_quantity").cast("decimal(18,6)")).alias("sum_qty"),
        )
    )


def hilbert_lineitem_path(spark: SparkSession, sf_dir: str) -> str:
    """Stage lineitem Hilbert-clustered by (l_partkey, l_suppkey),
    once per session like zordered_lineitem_path."""
    from koalas_spark.operators.layout import hilbert_write

    return staged(
        spark,
        "hilbert_lineitem",
        (sf_dir, "lineitem"),
        lambda path: hilbert_write(
            _t(spark, sf_dir, "lineitem"),
            ["l_partkey", "l_suppkey"],
            path,
            bits=12,
            num_files=16,
        ),
    )
