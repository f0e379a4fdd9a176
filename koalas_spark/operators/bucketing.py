"""Bucketed-table helpers: pay the shuffle once at write time, then
every equi-join / aggregation on the bucket key is exchange-free.

Spark bucketing lives in the session catalog (`saveAsTable`), not
plain parquet paths: the bucket spec rides in the table metadata, and
the planner drops the Exchange when both join sides are bucketed by
the join key into the same bucket count (and drops the Sort too when
sortBy matches). This is the storage-layout optimization for 100 TB
fact-fact joins — orders ⋈ lineitem re-shuffles nothing.
"""

from __future__ import annotations

import zlib

from pyspark.sql import DataFrame, SparkSession

from koalas_spark.memo import artifact, source_key


def write_bucketed(
    spark: SparkSession,
    df: DataFrame,
    table: str,
    bucket_col: str,
    buckets: int = 8,
) -> None:
    """Write ``df`` as a bucketed+sorted managed table (overwrites)."""
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    (
        df.write.bucketBy(buckets, bucket_col)
        .sortBy(bucket_col)
        .mode("overwrite")
        .saveAsTable(table)
    )


def bucketed_pair(
    spark: SparkSession,
    sf_dir: str,
    left: tuple[str, str],
    right: tuple[str, str],
    buckets: int = 8,
) -> tuple[DataFrame, DataFrame]:
    """Materialize two source tables bucketed on their join keys and
    return them as DataFrames. Each bucketed copy is a session artifact
    (koalas_spark.memo), so repeated queries pay the layout cost once —
    exactly the ingest-time amortization the technique is about."""

    def bucketed(name: str, key: str) -> DataFrame:
        # one catalog table per source identity
        tag = zlib.crc32(repr(source_key(sf_dir, name)).encode())
        tbl = f"bkt_{name}_{tag}_{buckets}"
        src = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        write_bucketed(spark, src, tbl, key, buckets)
        return spark.table(tbl)

    return tuple(
        artifact(
            spark, "bucketed", (sf_dir, name), lambda: bucketed(name, key), key, buckets
        )
        for name, key in (left, right)
    )
