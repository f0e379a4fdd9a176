"""Sources & sinks.

Reference parity:
  - ``read_table`` ~ koalas ``Dataframe.fromTable`` (dataframe.d:108):
    delimited text with an explicit, caller-declared schema (the
    reference requires a compile-time struct; we require a DDL/StructType
    — never inferSchema, which double-scans and guesses types).
  - ``write_csv`` ~ koalas ``Dataframe.toCsv`` (dataframe.d:128), but
    distributed: each task writes its partition; header per file.
  - ``read_source``: the same contract for the parquet source tables,
    each declared once in :data:`SOURCES`.

Parquet is the canonical analytical format: columnar, predicate
pushdown, min/max pruning, splittable — the right scan at 100 TB.
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

# the ten source tables as the data stores them: tz-less
# TIMESTAMP(MICROS) is timestamp_ntz, and every column is nullable
SOURCES = {
    "region": "r_regionkey int, r_name string",
    "nation": "n_nationkey int, n_name string, n_regionkey int",
    "customer": "c_custkey bigint, c_name string, c_nationkey int, c_acctbal double, "
    "c_mktsegment string",
    "supplier": "s_suppkey bigint, s_name string, s_nationkey int, s_acctbal double",
    "part": "p_partkey bigint, p_name string, p_brand string, p_type string, "
    "p_size int, p_retailprice double",
    "orders": "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
    "o_totalprice double, o_orderdate timestamp_ntz, o_orderpriority string",
    "lineitem": "l_orderkey bigint, l_partkey bigint, l_suppkey bigint, l_linenumber int, "
    "l_quantity double, l_extendedprice double, l_discount double, l_tax double, "
    "l_returnflag string, l_linestatus string, l_shipdate timestamp_ntz",
    "events": "event_id bigint, ts timestamp_ntz, user_id bigint, event_type string, "
    "value double, props string",
    "documents": "doc_id bigint, text string, lang string, source string, n_chars bigint",
    "embeddings": "vec_id bigint, embedding array<float>, label int",
}


def source_path(sf_dir: str, name: str) -> str:
    """Source table ``name`` under ``sf_dir``: a parquet file or a
    directory of part files."""
    return os.path.join(sf_dir, f"{name}.parquet")


def source_files(path: str) -> list[str]:
    """The parquet files of the source at ``path``, in name order."""
    return sorted(glob.glob(os.path.join(path, "*.parquet"))) if os.path.isdir(path) else [path]


def read_source(spark: SparkSession, path: str, name: str) -> DataFrame:
    """The parquet at ``path`` read as source table ``name``, its
    declared schema passed, so no schema-inference job runs. Event times
    stored as TIMESTAMP(NANOS), an earlier generator's flavor, are
    declared ``bigint`` (:func:`normalize_event_time` casts them); one
    part file's footer, read on the driver, tells the flavor."""
    ddl = SOURCES[name]
    if name == "events":
        import pyarrow.parquet as pq

        ts = pq.read_schema(source_files(path)[0]).field("ts").type
        if getattr(ts, "unit", None) == "ns":
            ddl = ddl.replace("ts timestamp_ntz", "ts bigint")
    return spark.read.schema(ddl).parquet(path)


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
    df = spark.read.schema(schema).csv(path, sep=sep, header=header)
    if index_cols:
        df = df.drop(*[f"_idx{i}" for i in range(index_cols)])
    return df


def normalize_event_time(df: DataFrame, col: str = "ts") -> DataFrame:
    """Make an event-time column robust to parquet timestamp flavor.

    Generators variously write event time as TIMESTAMP(NANOS) (which
    read_source declares LONG) or tz-less TIMESTAMP(MICROS) (read as
    TIMESTAMP_NTZ by Spark 4.x).
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

