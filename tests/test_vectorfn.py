"""The vector kernel contract (koalas_spark/functions/vectorfn.py):
every score folds its terms sequentially in index order, so it is
bit-identical to a plain Python loop and to DuckDB's list_dot_product /
list_sum — checked on inputs where the summation order changes the
double result, plus the exact long-accumulator form."""

import math
from decimal import ROUND_HALF_UP, Decimal

import duckdb
from pyspark.sql import functions as F

from koalas_spark.functions.vectorfn import dot, l2_sq, norm_sq, rounded_cosine

# (a, b) pairs whose double folds depend on the summation order
_CASES = [
    ([1e16, 1.0, -1e16, 1.0], [1.0, 1.0, 1.0, 1.0]),
    ([0.1, 0.2, 0.3], [1.0, 1.0, 1.0]),
    ([1e8 + 1.0, 2.0, 2.0], [1.0, 1.0, 1.0]),
    ([0.3, -0.7, 2.5, 1e-3], [1.5, 0.25, -4.0, 3.0]),
]


def _seq(terms, zero=0.0):
    acc = zero
    for t in terms:
        acc += t
    return acc


def _round6(x: float) -> float:
    # Spark's round: HALF_UP on the double's shortest decimal form
    return float(Decimal(repr(x)).quantize(Decimal("1e-6"), ROUND_HALF_UP))


def _duck(con, expr: str, a, b, t: str = "DOUBLE"):
    """DuckDB's value of ``expr`` over lists a and b."""
    sql = f"SELECT {expr} FROM (SELECT $1::{t}[] AS a, $2::{t}[] AS b)"
    return con.execute(sql, [a, b]).fetchone()[0]


def test_double_folds_match_sequential_loop_and_duckdb(spark):
    df = spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(_CASES)],
        "i int, a array<double>, b array<double>",
    )
    a, b = F.col("a"), F.col("b")
    got = {
        r.i: r
        for r in df.select(
            "i",
            dot(a, b).alias("dot"),
            l2_sq(a, b).alias("l2"),
            rounded_cosine(a, b, norm_sq(a), norm_sq(b)).alias("cos"),
        ).collect()
    }
    con = duckdb.connect()
    sq_sql = "list_sum(list_transform(range(1, len(a) + 1), i -> (a[i] - b[i]) * (a[i] - b[i])))"
    cos_sql = (
        "ROUND(list_dot_product(a, b)"
        " / SQRT(list_dot_product(a, a) * list_dot_product(b, b)), 6)"
    )
    order_sensitive = 0
    for i, (va, vb) in enumerate(_CASES):
        prods = [x * y for x, y in zip(va, vb)]
        sqs = [(x - y) * (x - y) for x, y in zip(va, vb)]
        want_dot, want_l2 = _seq(prods), _seq(sqs)
        want_cos = _round6(
            want_dot / math.sqrt(_seq([x * x for x in va]) * _seq([y * y for y in vb]))
        )
        order_sensitive += (want_dot != _seq(reversed(prods))) + (
            want_l2 != _seq(reversed(sqs))
        )
        assert got[i].dot == want_dot, i
        assert got[i].dot == _duck(con, "list_dot_product(a, b)", va, vb), i
        assert got[i].l2 == want_l2 == _duck(con, sq_sql, va, vb), i
        assert got[i].cos == want_cos == _duck(con, cos_sql, va, vb), i
    # the cases really discriminate: a reordered fold would differ
    assert order_sensitive >= 3


def test_long_zero_folds_exactly(spark):
    # a double accumulator loses the low digits of both sums; the
    # long accumulator keeps them
    a, b = [2**53, 1, 3], [1, 1, -2]
    c, d = [3_000_000_000, 1, 7], [0, 2, 1]
    df = spark.createDataFrame(
        [(a, b, c, d)], "a array<bigint>, b array<bigint>, c array<bigint>, d array<bigint>"
    )
    r = df.select(
        dot(F.col("a"), F.col("b"), 0).alias("dot"),
        l2_sq(F.col("c"), F.col("d"), 0).alias("l2"),
        norm_sq(F.col("c"), 0).alias("n"),
    ).first()
    prods = [x * y for x, y in zip(a, b)]
    sqs = [(x - y) * (x - y) for x, y in zip(c, d)]
    assert r.dot == _seq(prods, 0) == 2**53 - 5
    assert r.l2 == _seq(sqs, 0) == 9_000_000_000_000_000_037
    assert r.n == _seq([x * x for x in c], 0)
    assert r.dot != _seq([float(x) for x in prods])
    assert r.l2 != _seq([float(x) for x in sqs])
    con = duckdb.connect()
    exact = "CAST(list_sum(list_transform(range(1, 4), i -> a[i] * b[i])) AS BIGINT)"
    assert r.dot == _duck(con, exact, a, b, "BIGINT")
