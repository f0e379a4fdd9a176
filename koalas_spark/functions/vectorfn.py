"""Vector math over array<double> columns: the one place that scores
vectors.

The contract that keeps every vector result oracle-exact:

* double arrays in — cast float input ONCE per row with ``as_double``
  (in the projection that also computes the row's norm), never per
  scored pair;
* sequential fold — every score folds its element terms in index
  order into one accumulator, exactly as a plain loop or DuckDB's
  ``list_dot_product`` does, so results are bit-identical across
  engines and partitionings. ``zero`` picks the accumulator: ``0.0``
  folds in double, an integer ``0`` folds in long (exact integer
  arithmetic over quantized vectors).

JVM-side codegen; no UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def as_double(v: Column) -> Column:
    """The per-element cast to double, applied once per row."""
    return F.transform(v, lambda x: x.cast("double"))


def _fold(terms: Column, zero: float | int) -> Column:
    z = F.lit(zero) if isinstance(zero, float) else F.lit(zero).cast("long")
    return F.aggregate(terms, z, lambda acc, x: acc + x)


def dot(a: Column, b: Column, zero: float | int = 0.0) -> Column:
    """Sequential-fold dot product."""
    return _fold(F.zip_with(a, b, lambda x, y: x * y), zero)


def l2_sq(a: Column, b: Column, zero: float | int = 0.0) -> Column:
    """Sequential-fold squared L2 distance."""
    return _fold(F.zip_with(a, b, lambda x, y: (x - y) * (x - y)), zero)


def norm_sq(a: Column, zero: float | int = 0.0) -> Column:
    return dot(a, a, zero)


def rounded_cosine(a: Column, b: Column, na: Column, nb: Column) -> Column:
    """round(dot(a, b) / sqrt(na * nb), 6) from precomputed squared
    norms — one sqrt of the product, the shape DuckDB's
    list_cosine_similarity uses; the 6-decimal round makes rankings
    tie-stable across engines."""
    return cosine_of_dot(dot(a, b), na, nb)


def cosine_of_dot(ab: Column, na: Column, nb: Column) -> Column:
    """rounded_cosine from a dot product the caller also keeps, so
    each scored pair folds its terms once."""
    return F.round(ab / F.sqrt(na * nb), 6)
