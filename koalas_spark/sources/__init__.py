from koalas_spark.sources.io import read_table, write_csv

__all__ = ["read_table", "write_csv"]
