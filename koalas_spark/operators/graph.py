"""Distributed graph primitives for dedup clustering.

connected_components: iterative min-label propagation over an edge
DataFrame — the standard distributed CC (GraphX/Pregel formulation)
expressed in pure DataFrame ops. Each round is one join + one
partial-aggregated groupBy, both shuffling on the SAME node key, so
consecutive rounds reuse the exchange layout. Rounds are unrolled in
BATCHES of `batch` lazy rounds per materialization: one eager
localCheckpoint + one convergence count per batch instead of per
round (iterative plans otherwise grow exponentially and re-execute
prior rounds, and per-round actions dominate wall time on shallow
graphs — per-round checkpoint+count measured ~2.9s at sf0.1 for a
158-node dup graph vs ~1.2s batched). The batch carries the previous
round's label alongside the current one, so convergence is read off
the SAME materialized frame: LP is a deterministic fixed-point
iteration, so lbl == prev_lbl for every node after round k implies
global convergence. Converges in O(graph diameter) rounds; batch=2
is optimal for the dominant diameter-1 case (dup pairs / stars:
round 1 converges, round 2 proves it, one materialization total);
deeper chains just take another batch over already-converged tiny
data.

At 100 TB the label frame is |V| rows of two longs and every round's
shuffle is bounded by |E| — no step ever materializes anything
quadratic.

Reference parity: extends `groupby.d:48 count`-style grouping to the
iterative clustering the reference cannot express.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 50,
    batch: int = 2,
    driver_edge_limit: int = 1_000_000,
) -> DataFrame:
    """Components of the undirected graph given by (src, dst) pairs.

    Returns (node, comp) where comp is the smallest node id reachable
    from node. Isolated nodes only appear if self-loops are included.

    Size-adaptive, the same way AQE picks join strategies at runtime:
    the edge list is materialized once (a checkpoint the iterative
    path needs anyway) and counted; at or under ``driver_edge_limit``
    edges (default 1M ≈ 16 MB of longs — broadcast-threshold-scale
    driver state, NOT proportional to the corpus) a driver-side
    union-find answers in one collect instead of paying 2-3 distributed
    fixed-point rounds, each a checkpoint + convergence action. Dedup
    graphs after pair verification are usually far below the gate even
    when the corpus is 100 TB — dup EDGES are the rare survivors of a
    verified near-dup test — while a graph above it takes the
    distributed path untouched. Pass ``driver_edge_limit=0`` to force
    the distributed path (tests exercise both), which is min-label
    propagation in O(diameter) rounds.
    """
    raw = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    if driver_edge_limit > 0:
        raw = raw.localCheckpoint(eager=True)
        if raw.count() <= driver_edge_limit:
            return _driver_components(raw)
    e = (
        raw.union(raw.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # (node, lbl); the initial-distinct shuffle folds into batch 1's
    # first lazy round rather than paying its own materialization
    labels = (
        e.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("lbl", F.col("node"))
    )
    rounds = 0
    while rounds < max_iter:
        cur = labels
        for _ in range(min(batch, max_iter - rounds)):
            # smallest label among each node's neighbors this round
            nbr = (
                e.join(
                    cur.select(
                        F.col("node").alias("_n"), F.col("lbl").alias("_l")
                    ),
                    e["dst"] == F.col("_n"),
                )
                .groupBy("src")
                .agg(F.min("_l").alias("_nl"))
            )
            cur = (
                cur.join(nbr, cur["node"] == nbr["src"], "left")
                .select(
                    cur["node"].alias("node"),
                    F.col("lbl").alias("prev_lbl"),
                    F.least(
                        F.col("lbl"), F.coalesce(F.col("_nl"), F.col("lbl"))
                    ).alias("lbl"),
                )
            )
            rounds += 1
        cur = cur.localCheckpoint(eager=True)
        changed = cur.filter(F.col("lbl") != F.col("prev_lbl")).count()
        labels = cur.select("node", "lbl")
        if changed == 0:
            break
    return labels.select("node", F.col("lbl").alias("comp"))


def _driver_components(edges: DataFrame) -> DataFrame:
    """Union-find over a small, already-materialized edge list.

    Only reached under the ``driver_edge_limit`` gate, so the collect
    is bounded (≤ limit rows of two longs) regardless of corpus size —
    the same bounded-driver-state argument as broadcast joins. Output
    matches the distributed paths exactly: (node, comp) with comp the
    component minimum, one row per node that appears in an edge."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for row in edges.collect():
        a, b = row[0], row[1]
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            # union by min keeps the invariant comp == component min
            if ra < rb:
                parent[rb] = ra
            else:
                parent[ra] = rb
    rows = [(n, find(n)) for n in parent]
    return edges.sparkSession.createDataFrame(rows, "node long, comp long")
