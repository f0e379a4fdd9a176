"""koalas_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of blachlylab/koalas, re-architected for
Spark's distributed execution model.

The reference (/root/reference, D language) is a compile-time-typed,
single-node DataFrame library. This package expresses the same
semantics — typed frames, filter/sort/groupby/apply/concat, lazy views
— as Catalyst logical plans over columnar parquet, plus the operators a
large-scale LLM-training-data pipeline needs (dedup, similarity search,
text analysis, multimodal columns, streaming).

Public API:
    from koalas_spark import KFrame, get_spark, read_table
"""

from koalas_spark.plans.session import get_spark
from koalas_spark.frame import KFrame
from koalas_spark.sources.io import read_table

__all__ = ["KFrame", "get_spark", "read_table"]
__version__ = "0.1.0"
