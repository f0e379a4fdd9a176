"""Distributed k-means (Lloyd's algorithm) over an embedding column.

The 100 TB shape: centroids are tiny (k × dim values) and live on the
driver between iterations; each iteration is ONE map-side pass over
the corpus (assign to nearest centroid via a broadcast literal array)
plus ONE partial-aggregated shuffle of k rows per partition (sum/count
per cluster). No corpus self-joins, no driver collect of vectors —
the only thing that ever crosses to the driver is the k×dim centroid
matrix.

Since r7 the arithmetic is QUANTIZED-GRID Lloyd: components quantize
to a 1e-4 grid (half-up via floor(x*1e4 + 0.5) — engines disagree on
round()'s tie rule but all floor identically), per-cluster sums are
exact int64, centroids re-quantize to the same grid with sign-aware
half-up integer division, and distances are exact integer
Σ(q_d - m_d)². Every step is order-independent integer math, so the
result is bit-identical across engines, partitionings, and reduction
orders — which is what lets #80 carry a plain-SQL DuckDB oracle
(previously rows-only: float-sum reassociation could flip boundary
assignments). Quantization error is bounded by half a grid step per
component and is part of the operator's definition, not noise.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from koalas_spark.functions.vectorfn import l2_sq

QUANT = 10_000  # 1e-4 grid; |x| ≤ ~50 keeps Σ(q−m)² inside exact-double range


def _half_up_div(s: int, n: int) -> int:
    """Sign-aware round-half-up integer division s/n (n > 0) — the same
    ((2|s|+n) // 2n) form the SQL oracles use (grouped_demean pattern)."""
    sign = -1 if s < 0 else 1
    return sign * ((2 * abs(s) + n) // (2 * n))


def _dist_pairs(centroids: list[list[int]]) -> F.Column:
    # One (cluster, dist) struct array from ONE literal centroid
    # matrix + ONE transform (r13): the previous shape built k
    # independent zip_with/aggregate trees and re-derived them for the
    # argmin, the min and the runner-up, so every iteration re-planned
    # a ~k*dim*3-node expression forest — at bench scale the driver's
    # analysis time dominated the whole operator. Distances are the
    # same exact integer Σ(q−m)²; array_min over struct(d2, c) breaks
    # ties to the lowest cluster id exactly like the old
    # array_position-of-min.
    cmat = F.array(
        *[
            F.struct(
                F.lit(i).cast("long").alias("c"),
                F.array(*[F.lit(int(x)) for x in cc]).alias("qc"),
            )
            for i, cc in enumerate(centroids)
        ]
    )
    return F.transform(
        cmat,
        lambda s: F.struct(l2_sq(F.col("q"), s["qc"], 0).alias("d2"), s["c"].alias("c")),
    )


def _assign(frame: DataFrame, centroids: list[list[int]]) -> DataFrame:
    m = F.array_min(_dist_pairs(centroids))
    return frame.select(
        "id", "q", m["c"].alias("cluster"), m["d2"].alias("qdist")
    )


def kmeans_core(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 8,
    iters: int = 5,
) -> tuple[DataFrame, list[list[int]]]:
    """The training prefix of Lloyd's algorithm: the quantized-corpus
    checkpoint plus the converged k×dim centroid matrix. Split out
    (r13) so consumers that share the identical (k, iters) training —
    kmeans_clusters and silhouette_simplified — can run it once per
    session and differ only in the final pass (kmeans_finish)."""
    qv = F.transform(
        F.col(vec_col), lambda x: F.floor(x.cast("double") * QUANT + F.lit(0.5)).cast("long")
    )
    # lazy checkpoint: every iteration (and the final assignment) maps
    # over the quantized corpus — materialize it once as local blocks
    # instead of re-running scan+quantize iters+1 times (the standard
    # iterative-algorithm trade: executor-local storage for the
    # working set vs re-reading the source each round)
    base = df.select(F.col(id_col).alias("id"), qv.alias("q")).localCheckpoint(
        eager=False
    )
    centroids = [
        [int(x) for x in r.q] for r in base.orderBy("id").limit(k).collect()
    ]

    dim = len(centroids[0])
    for _ in range(iters):
        # per-dimension sums via posexplode + a (cluster, dim) keyed
        # aggregate: k*dim tiny rows after map-side partial
        # aggregation, and a constant-size plan instead of `dim` sum
        # columns (the assignment stays a pure map pass — nothing
        # corpus-sized shuffles)
        sums = (
            _assign(base, centroids)
            .select("cluster", F.posexplode("q").alias("i", "val"))
            .groupBy("cluster", "i")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("val").alias("s"),
            )
        )
        comp: dict[tuple[int, int], tuple[int, int]] = {}
        for r in sums.collect():
            comp[(int(r["cluster"]), int(r["i"]))] = (int(r["s"]), int(r["n"]))
        new = {
            c: [
                _half_up_div(*comp[(c, i)])
                for i in range(dim)
            ]
            for c in {c for c, _ in comp}
        }
        centroids = [new.get(c, centroids[c]) for c in range(k)]
    return base, centroids


def kmeans_finish(
    base: DataFrame, centroids: list[list[int]], second: bool = False
) -> DataFrame:
    """The final assignment pass over a trained (base, centroids)
    core — per-consumer, never memoized."""
    if second:
        # ONE sorted (d2, c) array serves cluster, qdist AND the
        # runner-up distance (r13): the previous shape ran assign()'s
        # array_min over dist_pairs() and then re-derived the ENTIRE
        # k×dim distance forest a second time for sort_array — the
        # final pass paid every distance twice. sort_array over
        # struct(d2, c) orders by (d2, c), so element 0 is exactly
        # array_min's (min d2, lowest cluster id) tie-break and
        # element 1 is the second-nearest centroid.
        ds = F.sort_array(_dist_pairs(centroids))
        return base.select(
            "id",
            ds[0]["c"].alias("cluster"),
            ds[0]["d2"].alias("qdist"),
            ds[1]["d2"].alias("qdist2"),
        )
    return _assign(base, centroids).select("id", "cluster", "qdist")


def kmeans_lloyd(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 8,
    iters: int = 5,
    second: bool = False,
) -> DataFrame:
    """Run `iters` Lloyd iterations; returns (id, cluster, qdist).

    Init: the k lowest-id vectors (deterministic). Empty clusters keep
    their previous centroid. `qdist` is the exact integer squared L2
    distance on the 1e-4 quantized grid (i.e. true distance × 1e8).
    With ``second=True`` the result also carries `qdist2`, the exact
    squared distance to the second-nearest centroid (what the
    simplified-silhouette quality metric needs)."""
    base, centroids = kmeans_core(df, id_col, vec_col, k=k, iters=iters)
    return kmeans_finish(base, centroids, second=second)
