from koalas_spark.plans.session import get_spark

__all__ = ["get_spark"]
