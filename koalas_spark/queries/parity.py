"""Reference-parity queries (SURVEY.md §2.1).

Each query exercises one operator of the koalas reference surface
(/root/reference/source/koalas/dataframe.d, groupby.d) through the
KFrame API, against the benchmark tables, with a DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from koalas_spark.frame import KFrame, concat
from koalas_spark.memo import staged
from koalas_spark.queries import query
from koalas_spark.queries.analytics import _t, dsum, _dsum_sql


def _kf(spark: SparkSession, sf_dir: str, name: str) -> KFrame:
    return KFrame(_t(spark, sf_dir, name))


# 1+2. read_table / write_csv — CSV roundtrip (dataframe.d:108,128).
# Distributed write then schema-declared read; int/string cols only so
# the text roundtrip is lossless.
@query(
    "read_table",
    oracle="""
SELECT l_orderkey, l_linenumber, l_returnflag, l_linestatus
FROM lineitem WHERE l_orderkey <= 100
""",
    bench=False,
)
def read_table_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") <= 100)
        .select("l_orderkey", "l_linenumber", "l_returnflag", "l_linestatus")
    )
    path = staged(
        spark,
        "read_table_roundtrip",
        (sf_dir, "lineitem"),
        lambda p: KFrame(src).to_csv(p, sep="\t"),
    )
    return KFrame.from_table(
        spark,
        path,
        "l_orderkey bigint, l_linenumber int, l_returnflag string, l_linestatus string",
        sep="\t",
    ).df


# 3. select!(col, op)(val) — single-predicate filter (dataframe.d:73).
@query(
    "select_filter",
    oracle="SELECT * FROM lineitem WHERE l_quantity > 45.0",
    bench=False,
)
def select_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _kf(spark, sf_dir, "lineitem").select("l_quantity", ">", 45.0).df


# 4. subset!([cols]) — column projection (dataframe.d:223).
@query(
    "subset_cols",
    oracle="SELECT l_orderkey, l_partkey, l_quantity FROM lineitem",
    bench=False,
)
def subset_cols(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _kf(spark, sf_dir, "lineitem").subset(["l_orderkey", "l_partkey", "l_quantity"]).df


# 5. getCol — single column (dataframe.d:86).
@query("get_col", oracle="SELECT o_totalprice FROM orders", bench=False)
def get_col(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _kf(spark, sf_dir, "orders").get_col("o_totalprice")


# 6. addNewCol — computed column (dataframe.d:93). Per-row double
# arithmetic is IEEE-deterministic, portable without decimal tricks.
@query(
    "add_new_col",
    oracle="""
SELECT l_orderkey, l_linenumber,
       l_extendedprice * (1 - l_discount) AS net_price
FROM lineitem
""",
    bench=False,
)
def add_new_col(spark: SparkSession, sf_dir: str) -> DataFrame:
    kf = _kf(spark, sf_dir, "lineitem").subset(["l_orderkey", "l_linenumber", "l_extendedprice", "l_discount"])
    out = kf.add_new_col("net_price", F.col("l_extendedprice") * (1 - F.col("l_discount")))
    return out.subset(["l_orderkey", "l_linenumber", "net_price"]).df


# 7. groupby.count (groupby.d:48).
@query(
    "groupby_count",
    oracle="""
SELECT l_returnflag, l_linestatus, COUNT(*) AS count
FROM lineitem GROUP BY 1, 2
""",
    bench=False,
)
def groupby_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _kf(spark, sf_dir, "lineitem").groupby("l_returnflag", "l_linestatus").count().df


# 8. groupby.first (groupby.d:63) — deterministic first-in-sort-order.
@query(
    "groupby_first",
    oracle="""
SELECT o_orderpriority, o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate
FROM (
  SELECT *, ROW_NUMBER() OVER (
      PARTITION BY o_orderpriority
      ORDER BY o_orderkey ASC, o_custkey ASC, o_orderstatus ASC,
               o_totalprice ASC, o_orderdate ASC) AS _rn
  FROM orders) t
WHERE _rn = 1
""",
    bench=False,
)
def groupby_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = _kf(spark, sf_dir, "orders").groupby("o_orderpriority").first().df
    return out.select(
        "o_orderpriority", "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate"
    )


# 9-11. groupby numericApply: sum / mean / min+max (groupby.d:72-90).
@query(
    "groupby_sum",
    oracle=f"""
SELECT l_returnflag,
       {_dsum_sql('l_quantity')} AS l_quantity,
       {_dsum_sql('l_extendedprice')} AS l_extendedprice,
       {_dsum_sql('l_discount')} AS l_discount,
       {_dsum_sql('l_tax')} AS l_tax
FROM lineitem GROUP BY l_returnflag
""",
    bench=False,
)
def groupby_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    kf = _kf(spark, sf_dir, "lineitem").subset(
        ["l_returnflag", "l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    )
    return kf.groupby("l_returnflag").agg(
        dsum("l_quantity").alias("l_quantity"),
        dsum("l_extendedprice").alias("l_extendedprice"),
        dsum("l_discount").alias("l_discount"),
        dsum("l_tax").alias("l_tax"),
    ).df


@query(
    "groupby_mean",
    oracle=f"""
SELECT l_returnflag,
       {_dsum_sql('l_quantity')} / COUNT(l_quantity) AS l_quantity,
       {_dsum_sql('l_extendedprice')} / COUNT(l_extendedprice) AS l_extendedprice
FROM lineitem GROUP BY l_returnflag
""",
    bench=False,
)
def groupby_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        (dsum("l_quantity") / F.count("l_quantity")).alias("l_quantity"),
        (dsum("l_extendedprice") / F.count("l_extendedprice")).alias("l_extendedprice"),
    )


@query(
    "groupby_minmax",
    oracle="""
SELECT l_returnflag,
       MIN(l_quantity) AS min_qty, MAX(l_quantity) AS max_qty,
       MIN(l_extendedprice) AS min_price, MAX(l_extendedprice) AS max_price
FROM lineitem GROUP BY l_returnflag
""",
    bench=False,
)
def groupby_minmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.min("l_quantity").alias("min_qty"),
        F.max("l_quantity").alias("max_qty"),
        F.min("l_extendedprice").alias("min_price"),
        F.max("l_extendedprice").alias("max_price"),
    )


# 12. sort!(cols) — multi-key total sort (dataframe.d:177, index.d:24).
# Top-100 with full tie-break so the result set is deterministic.
@query(
    "sort_multi",
    oracle="""
SELECT l_suppkey, l_shipdate, l_orderkey, l_linenumber
FROM lineitem
ORDER BY l_suppkey, l_shipdate, l_orderkey, l_linenumber
LIMIT 100
""",
    bench=False,
)
def sort_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    kf = _kf(spark, sf_dir, "lineitem").subset(
        ["l_suppkey", "l_shipdate", "l_orderkey", "l_linenumber"]
    )
    return kf.sort("l_suppkey", "l_shipdate", "l_orderkey", "l_linenumber").head(100).df


# 13. head(n) (dataframe.d:199) — deterministic via sort-first.
@query(
    "head_n",
    oracle="""
SELECT o_orderkey, o_custkey, o_totalprice FROM orders
ORDER BY o_orderkey LIMIT 5
""",
    bench=False,
)
def head_n(spark: SparkSession, sf_dir: str) -> DataFrame:
    kf = _kf(spark, sf_dir, "orders").subset(["o_orderkey", "o_custkey", "o_totalprice"])
    return kf.sort("o_orderkey").head(5).df


# 14. unique() (dataframe.d:230) — distinct records.
@query(
    "unique_records",
    oracle="SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
    bench=False,
)
def unique_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _kf(spark, sf_dir, "lineitem").subset(["l_returnflag", "l_linestatus"]).unique().df


# 15. apply(fun, col) (dataframe.d:238) — expression map over one col.
@query(
    "apply_col",
    oracle="""
SELECT l_orderkey, l_linenumber, l_quantity * 2 AS result
FROM lineitem
""",
    bench=False,
)
def apply_col(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    kf = KFrame(li.select("l_orderkey", "l_linenumber", "l_quantity"))
    return kf.add_new_col("result", F.col("l_quantity") * 2).subset(
        ["l_orderkey", "l_linenumber", "result"]
    ).df


# 16. apply(fun) over rows (dataframe.d:252) — multi-column expression.
@query(
    "apply_rows",
    oracle="""
SELECT o_orderkey, CONCAT(o_orderstatus, '-', o_orderpriority) AS result
FROM orders
""",
    bench=False,
)
def apply_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.concat(F.col("o_orderstatus"), F.lit("-"), F.col("o_orderpriority")).alias("result"),
    )


# 17. concat (dataframe.d:311) — union of frames.
@query(
    "concat_frames",
    oracle="""
SELECT * FROM (
  SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderstatus = 'F'
  UNION ALL
  SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderstatus = 'O') t
""",
    bench=False,
)
def concat_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = KFrame(_t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice", "o_orderstatus"))
    a = o.select("o_orderstatus", "==", "F").subset(["o_orderkey", "o_totalprice"])
    b = o.select("o_orderstatus", "==", "O").subset(["o_orderkey", "o_totalprice"])
    return concat(a, b).df


# 18. opIndex(bool mask) (dataframe.d:279) — compound predicate filter.
@query(
    "mask_filter",
    oracle="""
SELECT l_orderkey, l_linenumber, l_quantity, l_discount
FROM lineitem WHERE l_quantity > 40.0 AND l_discount < 0.02
""",
    bench=False,
)
def mask_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    kf = _kf(spark, sf_dir, "lineitem").subset(
        ["l_orderkey", "l_linenumber", "l_quantity", "l_discount"]
    )
    return kf.mask((F.col("l_quantity") > 40.0) & (F.col("l_discount") < 0.02)).df
