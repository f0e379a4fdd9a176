"""KFrame — the reference-parity frame API, backed by a lazy Spark plan.

The reference (``/root/reference/source/koalas/dataframe.d``) is a
compile-time-typed, row-major, single-node frame whose filter/sort
return index *views* materialized with ``.fuse()``. Spark's DataFrame
is already the distributed analogue of a view: a lazy logical plan that
materializes only on an action. So every KFrame method builds plan
nodes Catalyst can optimize (filter pushdown, column pruning, partial
aggregation) instead of driver-side index arrays.

Method ↔ reference mapping (file:line cites for parity checking):
  select(col, op, val)   dataframe.d:73   select!(col,cmpOp)(val)
  get_col                dataframe.d:86   getCol / column property
  add_new_col            dataframe.d:93   addNewCol!(T,name)
  from_table/to_csv      dataframe.d:108/128
  columns/shape/length   dataframe.d:51-63,153
  groupby                dataframe.d:163  groupby!(cols)
  sort                   dataframe.d:177  sort!(cols) / sort()
  head                   dataframe.d:199  head(n)
  subset                 dataframe.d:223  subset!([cols])
  unique                 dataframe.d:230  unique()
  apply                  dataframe.d:238-262
  mask                   dataframe.d:279  opIndex(bool mask)
  append                 dataframe.d:285  opOpAssign!"~"
  concat                 dataframe.d:311  concat(dfs...)
Groupby aggregations (count/first/sum/mean/min/max):
  groupby.d:48-90 (count, first, numericApply!"sum" etc.)
"""

from __future__ import annotations

import operator as _op
from collections.abc import Callable, Sequence

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

_CMP_OPS: dict[str, Callable[[Column, object], Column]] = {
    "==": _op.eq,
    "!=": _op.ne,
    "<": _op.lt,
    "<=": _op.le,
    ">": _op.gt,
    ">=": _op.ge,
}


def _is_numeric(dtype: T.DataType) -> bool:
    return isinstance(dtype, T.NumericType)


def local_rows(
    spark: SparkSession, rows: Sequence[tuple], schema: T.StructType | str
) -> DataFrame:
    """``rows``, assembled on the driver, as a one-partition frame of
    ``schema``.

    ``spark.createDataFrame(list)`` parallelizes the list over every
    core and unpickles it in Python workers. Here the rows are one array
    literal of structs, each value cast to its declared type (and the
    array to the declared nullability), that ``inline`` expands over a
    one-row range: forcing the frame runs one task and no Python
    worker. Empty ``rows`` give an empty frame of ``schema``."""
    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    structs = [
        F.struct(
            *[
                F.lit(v).cast(f.dataType).alias(f.name)
                for v, f in zip(row, schema.fields, strict=True)
            ]
        )
        for row in rows
    ]
    return spark.range(1, numPartitions=1).select(
        F.inline(F.array(*structs).cast(T.ArrayType(schema, containsNull=False)))
    )


class KFrame:
    """A typed, distributed frame with the koalas reference surface."""

    def __init__(self, df: DataFrame):
        self._df = df

    # -- interop -------------------------------------------------------
    @property
    def df(self) -> DataFrame:
        """Escape hatch to the underlying Spark DataFrame (lazy plan)."""
        return self._df

    @classmethod
    def from_table(
        cls,
        spark: SparkSession,
        path: str,
        schema: T.StructType | str,
        sep: str = "\t",
        header: bool = True,
        index_cols: int = 0,
    ) -> "KFrame":
        from koalas_spark.sources.io import read_table

        return cls(read_table(spark, path, schema, sep, header, index_cols))

    @classmethod
    def from_rows(
        cls, spark: SparkSession, rows: Sequence[tuple], schema: T.StructType | str
    ) -> "KFrame":
        return cls(local_rows(spark, rows, schema))

    def to_csv(self, path: str, sep: str = ",", header: bool = True) -> None:
        from koalas_spark.sources.io import write_csv

        write_csv(self._df, path, sep=sep, header=header)

    # -- metadata ------------------------------------------------------
    @property
    def columns(self) -> list[str]:
        return self._df.columns

    def length(self) -> int:
        """Row count (an action — triggers the plan)."""
        return self._df.count()

    def shape(self) -> tuple[int, int]:
        return (self.length(), len(self.columns))

    def copy(self) -> "KFrame":
        # Spark plans are immutable; a copy is the same plan.
        return KFrame(self._df)

    # -- row selection -------------------------------------------------
    def select(self, col: str, op: str, val) -> "KFrame":
        """Filter rows on ``col <op> val`` (reference ``select!``).

        Stays a Column predicate so Catalyst pushes it into the scan.
        """
        if op not in _CMP_OPS:
            raise ValueError(f"unsupported comparison {op!r}; one of {sorted(_CMP_OPS)}")
        return KFrame(self._df.filter(_CMP_OPS[op](F.col(col), val)))

    def where(self, predicate: Column) -> "KFrame":
        """General predicate filter — the distributed analogue of the
        reference's boolean-mask ``opIndex`` without materializing the
        mask on the driver."""
        return KFrame(self._df.filter(predicate))

    mask = where

    # -- column selection / creation -----------------------------------
    def subset(self, cols: Sequence[str]) -> "KFrame":
        return KFrame(self._df.select(*cols))

    def get_col(self, col: str) -> DataFrame:
        return self._df.select(col)

    def add_new_col(self, name: str, expr: Column | str) -> "KFrame":
        if isinstance(expr, str):
            expr = F.expr(expr)
        return KFrame(self._df.withColumn(name, expr))

    # -- ordering / sampling -------------------------------------------
    def sort(self, *cols: str, ascending: bool = True) -> "KFrame":
        """Total sort (reference sort!(cols); no cols = all columns).

        Spark implements this as a range-partitioned sort — scalable,
        no single-node bottleneck."""
        keys = list(cols) if cols else self._df.columns
        ordering = [F.col(c).asc() if ascending else F.col(c).desc() for c in keys]
        return KFrame(self._df.orderBy(*ordering))

    def head(self, n: int = 5) -> "KFrame":
        return KFrame(self._df.limit(n))

    # -- set-like ------------------------------------------------------
    def unique(self) -> "KFrame":
        """Distinct records, sorted by all columns (the reference's
        ``unique`` sorts then uniqs: dataframe.d:230)."""
        return KFrame(self._df.distinct()).sort()

    def append(self, other: "KFrame | Sequence[tuple]") -> "KFrame":
        """Append rows (reference ``~=``). Literal rows become a
        one-partition literal frame (:func:`local_rows`) unioned into
        the plan."""
        if isinstance(other, KFrame):
            return KFrame(self._df.unionByName(other._df))
        lit = local_rows(self._df.sparkSession, list(other), self._df.schema)
        return KFrame(self._df.unionByName(lit))

    # -- apply ---------------------------------------------------------
    def apply(self, expr: Column | str, alias: str = "result") -> DataFrame:
        """Map an expression over rows/columns (reference apply).

        The reference evaluates a D lambda per row; here the expression
        is a Catalyst Column → whole-stage codegen, no Python in the
        loop. Use `F.*` combinators or a SQL expression string.
        """
        if isinstance(expr, str):
            expr = F.expr(expr)
        return self._df.select(expr.alias(alias))

    def apply_batch(self, fn, schema: str) -> "KFrame":
        """Arbitrary-Python row map (reference apply with a D lambda,
        dataframe.d:252) for logic no Column expression can express.

        The escape hatch is Arrow-batched mapInPandas — ``fn`` receives
        and returns pandas DataFrames, runs where the partitions sit,
        and never collects to the driver; still ~10-100x faster than a
        row-at-a-time Python UDF. Prefer ``apply`` (pure expressions,
        whole-stage codegen) whenever the logic is expressible."""

        def op(batches):
            for pdf in batches:
                yield fn(pdf)

        return KFrame(self._df.mapInPandas(op, schema=schema))

    # -- groupby -------------------------------------------------------
    def groupby(self, *keys: str) -> "KGroupby":
        return KGroupby(self._df, list(keys))

    def __repr__(self) -> str:
        return f"KFrame({self._df.schema.simpleString()})"


class KGroupby:
    """Grouped frame (reference ``Groupby`` struct, groupby.d:21).

    The reference sorts the frame and scans for group boundaries — a
    single-node sort-groupby. Here each aggregation is a hash
    aggregation with map-side partial combine; only (key, partial-agg)
    rows shuffle, which is what survives a 100×  scale-up.
    """

    def __init__(self, df: DataFrame, keys: list[str]):
        self._df = df
        self._keys = keys

    def _numeric_cols(self) -> list[str]:
        return [
            f.name
            for f in self._df.schema.fields
            if f.name not in self._keys and _is_numeric(f.dataType)
        ]

    def count(self) -> KFrame:
        out = self._df.groupBy(*self._keys).agg(F.count(F.lit(1)).alias("count"))
        return KFrame(out).sort(*self._keys)

    def first(self) -> KFrame:
        """First record per group in sort order of the keys — made
        deterministic with row_number over (keys, all columns), unlike
        a bare ``F.first`` which is order-dependent."""
        others = [c for c in self._df.columns if c not in self._keys]
        w = Window.partitionBy(*self._keys).orderBy(
            *[F.col(c).asc_nulls_first() for c in others]
        )
        out = (
            self._df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        return KFrame(out).sort(*self._keys)

    def _numeric_apply(self, fn: Callable[[str], Column], suffix: str = "") -> KFrame:
        cols = self._numeric_cols()
        aggs = [fn(c).alias(c + suffix) for c in cols]
        return KFrame(self._df.groupBy(*self._keys).agg(*aggs)).sort(*self._keys)

    def sum(self) -> KFrame:
        return self._numeric_apply(F.sum)

    def mean(self) -> KFrame:
        return self._numeric_apply(F.avg)

    def min(self) -> KFrame:
        return self._numeric_apply(F.min)

    def max(self) -> KFrame:
        return self._numeric_apply(F.max)

    def agg(self, *exprs: Column) -> KFrame:
        return KFrame(self._df.groupBy(*self._keys).agg(*exprs))


def concat(*frames: KFrame) -> KFrame:
    """Union frames by column name (reference concat, dataframe.d:311)."""
    if not frames:
        raise ValueError("concat requires at least one frame")
    df = frames[0].df
    for f in frames[1:]:
        df = df.unionByName(f.df)
    return KFrame(df)
