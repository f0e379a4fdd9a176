"""Sources & sinks.

Reference parity:
  - ``read_table`` ~ koalas ``Dataframe.fromTable`` (dataframe.d:108):
    delimited text with an explicit, caller-declared schema (the
    reference requires a compile-time struct; we require a DDL/StructType
    — never inferSchema, which double-scans and guesses types).
  - ``write_csv`` ~ koalas ``Dataframe.toCsv`` (dataframe.d:128), but
    distributed: each task writes its partition; header per file.

Parquet is the canonical analytical format: columnar, predicate
pushdown, min/max pruning, splittable — the right scan at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

TPCH_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def read_table(
    spark: SparkSession,
    path: str,
    schema: T.StructType | str,
    sep: str = "\t",
    header: bool = True,
    index_cols: int = 0,
) -> DataFrame:
    """Read a delimited text table with an explicit schema.

    ``index_cols`` mirrors the reference's leading-index-column skip: we
    declare them in the schema as ``_idx0``.. and drop them after the
    scan (column pruning removes them from downstream IO).
    """
    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    if index_cols:
        idx_fields = [
            T.StructField(f"_idx{i}", T.StringType(), True) for i in range(index_cols)
        ]
        schema = T.StructType(idx_fields + list(schema.fields))
    df = spark.read.csv(path, schema=schema, sep=sep, header=header)
    if index_cols:
        df = df.drop(*[f"_idx{i}" for i in range(index_cols)])
    return df


def normalize_event_time(df: DataFrame, col: str = "ts") -> DataFrame:
    """Make an event-time column robust to parquet timestamp flavor.

    Generators variously write event time as TIMESTAMP(NANOS) (which the
    reader surfaces as LONG under spark.sql.legacy.parquet.nanosAsLong)
    or tz-less TIMESTAMP(MICROS) (read as TIMESTAMP_NTZ by Spark 4.x).
    Everything downstream — unix-epoch casts, withWatermark (which
    rejects TIMESTAMP_NTZ), window()/session_window() — wants
    TIMESTAMP_LTZ, so every events scan funnels through this one cast.
    Under the repo's UTC session timezone the NTZ->LTZ cast relabels the
    same micros value, so DuckDB oracles reading the raw file agree
    bit-for-bit. Works identically on batch and streaming frames."""
    from pyspark.sql import functions as F

    dt = df.schema[col].dataType
    if isinstance(dt, T.LongType):
        # nanos-as-long: integer DIV keeps full precision; truncation
        # to micros matches DuckDB's TIMESTAMP_NS cast.
        return df.withColumn(col, F.expr(f"timestamp_micros(CAST({col} DIV 1000 AS BIGINT))"))
    if isinstance(dt, T.TimestampNTZType):
        return df.withColumn(col, F.col(col).cast("timestamp_ltz"))
    return df


def write_csv(
    df: DataFrame, path: str, sep: str = ",", header: bool = True, mode: str = "overwrite"
) -> None:
    """Distributed CSV sink (one file per partition; coalesce upstream
    if a single file is required — never collect to the driver)."""
    df.write.mode(mode).option("header", str(header).lower()).option("sep", sep).csv(path)


def read_jsonl(spark: SparkSession, path: str, schema: T.StructType | str) -> DataFrame:
    """Newline-delimited JSON with an explicit schema.

    Schema-on-read is mandatory: inferSchema on JSON double-scans the
    data and silently widens types; at 100 TB both are unacceptable.
    Fields absent from a record become null; extra fields are dropped
    (permissive mode) — corrupt lines land in `_corrupt_record` if the
    caller declares it."""
    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    return spark.read.schema(schema).json(path)


def write_jsonl(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Distributed JSONL sink."""
    df.write.mode(mode).json(path)

