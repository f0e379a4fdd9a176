"""Corpus/graph mining operators (SURVEY.md §2 extensions): exact
duplicate-span detection (the substring-dedup signal of Lee et al. /
RefinedWeb), character-entropy quality gates, RAG chunking, market-
basket pair mining, degree-oriented triangle counting, robust
median/IQR scaling, and a scale-safe token frequency spectrum.

Reference parity note: these extend the reference's groupby/apply
surface (reference source/koalas/groupby.d:48-90, dataframe.d:238-262)
to the corpus-mining workloads the brief mandates; none exist in the
reference itself.

Cross-engine determinism: counts and ppm ratios are exact integers
(x*1000000 div n), frequency buckets use binary-string length (exact
integer log2 — no libm), and the two entropy/robust-scale queries
round to 4 decimals to absorb last-ulp libm differences (repo-wide
convention, see SURVEY §4).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from koalas_spark import memo
from koalas_spark.queries import query
from koalas_spark.queries.analytics import _t
from koalas_spark.functions.textfn import tokens


# --------------------------------------------------------------------
# 167. duplicate-span detection — the exact-substring dedup signal:
# for every document, how many of its distinct 8-token spans also
# appear in ANOTHER document (df >= 2 over per-doc-distinct spans).
# Plan shape at 100 TB: one explode to (doc, span) with per-doc
# distinct done ARRAY-SIDE (array_distinct before the explode — no
# (doc,span) shuffle just to dedup), one groupBy(span) whose
# aggregation state is a single counter (map-side combine collapses
# each partition's span multiset first), and one shuffle join back on
# span. No collect_set, no quadratic doc-pair stage: cost is linear
# in corpus tokens + Σ_span df, the same budget as the inverted
# index. A span shared by millions of docs is just a big COUNT — the
# 2 GB array limit never enters.
@query(
    "duplicate_span_detect",
    oracle="""
WITH sp AS (
  SELECT doc_id, unnest(list_distinct(list_transform(
             range(1, LEN(toks) - 6),
             i -> array_to_string(toks[i:i+7], ' ')))) AS span
  FROM (SELECT doc_id, string_split_regex(TRIM(text), '\\s+') AS toks
        FROM documents) t
  WHERE LEN(toks) >= 8),
df AS (SELECT span, COUNT(*) AS df FROM sp GROUP BY span),
tot AS (SELECT doc_id, COUNT(*) AS n_spans FROM sp GROUP BY doc_id),
dup AS (
  SELECT s.doc_id, COUNT(*) AS n_dup
  FROM sp s JOIN df ON s.span = df.span
  WHERE df.df >= 2
  GROUP BY s.doc_id)
SELECT tot.doc_id,
       CAST(tot.n_spans AS BIGINT)           AS n_spans,
       CAST(COALESCE(dup.n_dup, 0) AS BIGINT) AS n_dup,
       CAST(COALESCE(dup.n_dup, 0) * 1000000 // tot.n_spans AS BIGINT)
         AS dup_ppm
FROM tot LEFT JOIN dup ON tot.doc_id = dup.doc_id
""",
)
def duplicate_span_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    sp = (
        d.select("doc_id", tokens(F.col("text")).alias("t"))
        .filter(F.size("t") >= 8)
        .select(
            "doc_id",
            F.explode(
                F.array_distinct(
                    F.transform(
                        F.sequence(F.lit(1), F.size("t") - 7),
                        lambda i: F.concat_ws(" ", F.slice(F.col("t"), i, 8)),
                    )
                )
            ).alias("span"),
        )
    )
    sp = sp.localCheckpoint(eager=False)  # span frame feeds 3 consumers
    df = sp.groupBy("span").agg(F.count(F.lit(1)).alias("df"))
    tot = sp.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_spans"))
    dup = (
        sp.join(df.filter(F.col("df") >= 2).select("span"), "span")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_dup"))
    )
    return tot.join(dup, "doc_id", "left").select(
        "doc_id",
        F.col("n_spans").cast("bigint").alias("n_spans"),
        F.coalesce("n_dup", F.lit(0)).cast("bigint").alias("n_dup"),
        F.expr("coalesce(n_dup, 0) * 1000000 div n_spans")
        .cast("bigint")
        .alias("dup_ppm"),
    )


# --------------------------------------------------------------------
# 168. character-entropy quality gate: Shannon entropy (nats) of the
# per-document character distribution — low entropy flags repetitive
# boilerplate / keyboard-mash that token-level gates miss. Identity
# H = ln(n) - (Σ c·ln c)/n needs only per-(doc,char) counts: the
# explode is linear in corpus bytes and map-side combine collapses to
# ~alphabet-size rows per doc before the one shuffle; the per-doc
# aggregation buffer is two doubles. ROUND(,4) absorbs libm ln()
# last-ulp + summation-order differences between engines (SURVEY §4).
@query(
    "char_entropy_quality",
    oracle="""
WITH ch AS (
  SELECT doc_id, unnest(string_split(text, '')) AS c FROM documents),
cc AS (SELECT doc_id, c, COUNT(*) AS cnt FROM ch GROUP BY doc_id, c)
SELECT doc_id,
       CAST(SUM(cnt) AS BIGINT)   AS n_ch,
       CAST(COUNT(*) AS BIGINT)   AS n_distinct,
       ROUND(LN(SUM(cnt)) - SUM(cnt * LN(cnt)) / SUM(cnt), 4) AS entropy
FROM cc GROUP BY doc_id
""",
)
def char_entropy_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    cc = (
        d.select("doc_id", F.explode(F.split(F.col("text"), "")).alias("c"))
        .groupBy("doc_id", "c")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return cc.groupBy("doc_id").agg(
        F.sum("cnt").cast("bigint").alias("n_ch"),
        F.count(F.lit(1)).cast("bigint").alias("n_distinct"),
        F.round(
            F.ln(F.sum("cnt")) - F.sum(F.col("cnt") * F.ln("cnt")) / F.sum("cnt"),
            4,
        ).alias("entropy"),
    )


# --------------------------------------------------------------------
# 169. RAG chunking: split every document into overlapping 32-token
# windows (stride 24), emitting a stable chunk id, the window's token
# count, and an md5 content key for downstream embedding/dedup. Pure
# per-row expression work — sequence + explode + slice, zero shuffles
# and zero Python; the fan-out is len/stride per doc (bounded by doc
# length), so the op is a flat map at any corpus size. chunk_idx
# derives arithmetically from the window start ((start-1) div 24) —
# no ordinality bookkeeping to drift between engines.
@query(
    "rag_chunk_windows",
    oracle="""
SELECT doc_id,
       CAST((start - 1) // 24 AS BIGINT)                 AS chunk_idx,
       CAST(LEAST(32, LEN(toks) - start + 1) AS BIGINT)  AS n_tok,
       md5(array_to_string(toks[start:start+31], ' '))   AS chunk_hash
FROM (
  SELECT doc_id, toks,
         unnest(range(1, GREATEST(LEN(toks) - 31, 1) + 1, 24)) AS start
  FROM (SELECT doc_id, string_split_regex(TRIM(text), '\\s+') AS toks
        FROM documents) t)
""",
)
def rag_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return (
        d.select("doc_id", tokens(F.col("text")).alias("toks"))
        .select(
            "doc_id",
            "toks",
            F.explode(
                F.sequence(
                    F.lit(1),
                    F.greatest(F.size("toks") - 31, F.lit(1)),
                    F.lit(24),
                )
            ).alias("start"),
        )
        .select(
            "doc_id",
            F.expr("(start - 1) div 24").cast("bigint").alias("chunk_idx"),
            F.least(F.lit(32), F.size("toks") - F.col("start") + 1)
            .cast("bigint")
            .alias("n_tok"),
            F.md5(F.concat_ws(" ", F.slice(F.col("toks"), F.col("start"), 32)))
            .alias("chunk_hash"),
        )
    )


# --------------------------------------------------------------------
# 170. market-basket pair mining: top-20 part pairs by co-occurrence
# support across orders. The pair generation is a SELF-JOIN
# CO-PARTITIONED ON l_orderkey (both sides shuffle once on the same
# key, then the join is local), and TPC-H order width is bounded
# (~7 items), so the fan-out is O(width²) = O(49) per order — linear
# in orders at any scale, never a cross join. Support counting is one
# map-side-combined shuffle on the pair; the global top-20 is a
# TakeOrderedAndProject (each partition ships 20 rows, no global
# sort). Ties broken by (part1, part2) so the cut is deterministic.
@query(
    "copurchase_pairs",
    oracle="""
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
SELECT a.l_partkey AS part1, b.l_partkey AS part2,
       CAST(COUNT(*) AS BIGINT) AS support
FROM li a JOIN li b
  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
GROUP BY a.l_partkey, b.l_partkey
ORDER BY support DESC, part1, part2
LIMIT 20
""",
)
def copurchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        copurchase_pair_table(spark, sf_dir)
        .select(
            F.col("u").alias("part1"),
            F.col("v").alias("part2"),
            F.col("cnt").alias("support"),
        )
        .orderBy(F.desc("support"), "part1", "part2")
        .limit(20)
    )


TRIANGLE_EXACT_MAX_BYTES = int(
    os.environ.get("SPARK_GRAFT_TRIANGLE_EXACT_MAX", 256 * 1024 * 1024)
)


# --------------------------------------------------------------------
# 171. triangle counting over the co-purchase graph — the classic
# distributed graph primitive (clustering coefficient / community
# density). Scale design: edges are DEGREE-ORIENTED (low (deg, id) →
# high) before the wedge join, the standard trick that bounds every
# vertex's out-degree by O(√m) even when the raw graph has hubs with
# million-edge stars — the wedge fan-out is Σ outdeg² = O(m^1.5)
# worst-case instead of Σ deg² (unbounded under skew). The closing-
# edge check is a plain equi-join on (src, dst). Orientation changes
# nothing about the count (each triangle is counted exactly once
# from its (deg,id)-minimal vertex), so the oracle can use the simple
# id-ordered 3-way join.
# Measured: 7.8s at sf0.1, 40.7s at sf1 (10 disjoint graph copies →
# ~linear). The cost is real — the wedge set (Σ outdeg² ≈ 10⁸ rows at
# sf1) must flow through the closing-edge shuffle; that is what exact
# triangle counting costs. At 100 TB one runs the same plan on a
# support-thresholded edge set, or DOULION-style edge sampling for an
# unbiased approximate count — both reuse this pipeline unchanged.
@query(
    "triangle_count_parts",
    oracle="""
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
e AS (SELECT DISTINCT a.l_partkey AS s, b.l_partkey AS t
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey)
SELECT CAST((SELECT COUNT(*) FROM e) AS BIGINT) AS n_edges,
       CAST((SELECT COUNT(*) FROM e e1
             JOIN e e2 ON e2.s = e1.s AND e2.t > e1.t
             JOIN e e3 ON e3.s = e1.t AND e3.t = e2.t) AS BIGINT)
         AS n_triangles
""",
    # two 1-row frames (edge count × triangle count) cross-joined
    allow={"BroadcastNestedLoopJoin"},
)
def triangle_count_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    # EXPLICIT scale guard (round-12 sf10 gate): the exact wedge set
    # at sf10 is ~5e9 rows — a >120 GB closing-join shuffle that
    # exceeds this box's free disk and died twice (10-minute JVM
    # death march, DISK_ONLY notwithstanding). The guard is
    # metadata-only (no job runs at DataFrame construction, so the
    # plan audit stays lazy): estimate the pair-table size from the
    # source lineitem bytes on disk; the measured ratio is ~0.9×
    # (sf1: 103 MB lineitem → 94 MB pair table; sf10: 1.1 GB →
    # 918 MB), so 0.85× is a safe proxy that keeps sf1 admissible
    # (~40s exact count) and refuses sf10. Deployments with real
    # shuffle disk raise SPARK_GRAFT_TRIANGLE_EXACT_MAX; the
    # documented at-scale paths are triangle_count_doulion (unbiased
    # sampled, passes the sf10 gate) or a support-thresholded edge
    # set through this same pipeline.
    li_bytes = memo.source_bytes(sf_dir, "lineitem")
    est = int(li_bytes * 0.85)
    basis = f"estimated {est >> 20} MB from lineitem {li_bytes >> 20} MB"
    if est > TRIANGLE_EXACT_MAX_BYTES:
        raise RuntimeError(
            "triangle_count_parts: exact wedge join is infeasible at "
            f"this scale ({basis} > "
            f"{TRIANGLE_EXACT_MAX_BYTES >> 20} MB guard). Use "
            "triangle_count_doulion (unbiased sampled count) or raise "
            "SPARK_GRAFT_TRIANGLE_EXACT_MAX on a cluster with "
            "sufficient shuffle disk."
        )
    e = _copurchase_edge_set(spark, sf_dir)
    tri = _count_triangles(
        e,
        sf_dir,
        ckpt_level=graph_ckpt_level(sf_dir),
        deg=copurchase_degree_table(spark, sf_dir).select(
            "x", F.col("dg").alias("dg")
        ),
    )
    n_e = e.agg(F.count(F.lit(1)).cast("bigint").alias("n_edges"))
    return n_e.crossJoin(tri)  # two 1-row frames


def copurchase_pair_table(
    spark: SparkSession, sf_dir: str, rebuild: bool = False
) -> DataFrame:
    """The canonical weighted co-purchase pair table (u < v, cnt =
    co-occurrence support), built ONCE PER SESSION per sf_dir
    (localCheckpoint + session memo) and shared by every graph /
    market-basket consumer (triangles, DOULION, label propagation,
    k-hop BFS, degree distribution, item-item top-k, affinity lift,
    top-20 pairs).

    Why share: the build — distinct baskets, per-order self-join,
    pair-count shuffle — is the dominant cost of every one of those
    queries (it owned the bench tail: 7.1s label_propagation, 6.4s
    triangles at sf0.1), and the result is a pure function of
    lineitem. At 100 TB this is exactly the "build the edge list
    once, checkpoint it, fan out the analyses" discipline a real
    graph pipeline uses. It is a session artifact (koalas_spark.memo);
    ``rebuild=True`` bypasses the store and recomputes fresh (used by
    the parity test that proves shared == fresh build)."""
    # Build shape (r14, guide §2.3/§2.4): ONE scan + TWO exchanges.
    # collect_set per order replaces the old distinct + orderkey
    # self-join (2 scans, 4 exchanges — distinct shuffle, both join
    # re-shuffles on orderkey, pair aggregate); the basket array is
    # sorted once and the u < v pairs are generated MAP-SIDE with
    # array combinators, so only the basket rollup and the pair
    # counts ever cross the network. Value-identical: collect_set ==
    # the old DISTINCT, and enumerating ordered combinations of the
    # sorted basket == the old a.partkey < b.partkey join condition.
    # Skew posture: pairs per order = k(k-1)/2 for basket size k —
    # bounded by the order line cap (7 for TPC-H-shaped data), so no
    # per-order hot spot; a corpus with giant baskets would need the
    # basket split/salt treatment before this explode (guide §2.5).
    items = (
        _t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("items"))
        .filter(F.size("items") >= 2)
    )
    combos = F.flatten(
        F.transform(
            F.col("items"),
            lambda x, i: F.transform(
                F.slice(F.col("items"), i + F.lit(2), F.size(F.col("items"))),
                lambda y: F.struct(x.alias("u"), y.alias("v")),
            ),
        )
    )
    fresh = (
        items.select(F.explode(combos).alias("p"))
        .groupBy(F.col("p.u").alias("u"), F.col("p.v").alias("v"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    if rebuild:
        return fresh
    # Re-spread before the checkpoint so every downstream graph join
    # starts from a cluster-wide partitioning (same discipline as
    # analytics._spread), memoized per session so the bench's 8
    # consumers share one checkpointed copy.
    # Storage level (VERDICT r10 #2): localCheckpoint defaults to
    # MEMORY_AND_DESER storage, and at sf10 this session-lifetime
    # derivative deserializes to ~12.8 GB — one of the two owners of
    # the 48g-heap requirement (SCALING.md r10). When the SOURCE
    # lineitem exceeds ~0.5 GB on disk (sf10's is 1.1 GB; sf1 is
    # 103 MB) the checkpoint goes DISK_ONLY instead: each consumer
    # re-reads compact serialized blocks from local disk, trading
    # ~seconds of re-read for ~13 GB of resident heap. Driver-graded
    # SFs (<=0.1) keep the in-memory default.
    level = graph_ckpt_level(sf_dir)
    return memo.artifact(
        spark,
        "copurchase_pairs",
        (sf_dir, "lineitem"),
        lambda: fresh.repartition(
            spark.sparkContext.defaultParallelism, "u", "v"
        ).localCheckpoint(eager=False, storageLevel=level),
    )


def copurchase_degree_table(
    spark: SparkSession, sf_dir: str, rebuild: bool = False
) -> DataFrame:
    """(x, dg) node-degree table of the co-purchase graph, a session
    artifact (koalas_spark.memo) next to the pair table.

    Why: degrees are the other computation EVERY wedge/probe-family
    consumer repeats — a groupBy over the 2|E|-row symmetrized
    adjacency (~600M rows at sf10), measured at roughly half of
    local_clustering_probes' sf10 wall. Like daily_revenue_table,
    the result is a pure function of the pair table and is |V|-sized
    (~200k rows at sf10), so one build amortizes across the family
    within a session. ``rebuild=True`` recomputes fresh (the parity
    test's path). Oracles are unaffected — they recompute degrees in
    SQL."""
    e = _copurchase_edge_set(spark, sf_dir)
    fresh = (
        e.select(F.explode(F.array("u", "v")).alias("x"))
        .groupBy("x")
        .agg(F.count(F.lit(1)).cast("bigint").alias("dg"))
    )
    if rebuild:
        return fresh
    # |V|-sized: a plain respread suffices (no graph-sized checkpoint)
    return memo.artifact(
        spark,
        "copurchase_degrees",
        (sf_dir, "lineitem"),
        lambda: fresh.repartition(
            spark.sparkContext.defaultParallelism, "x"
        ).localCheckpoint(eager=False),
    )


# Source lineitem bytes up to which frames of each size class of the
# co-purchase graph broadcast (memo.source_bytes). |V|-sized frames (one
# (long, long) row per node, ~16 B/node: 200k nodes = ~3 MB at sf10)
# stay broadcast-sized well past sf10. |E|-sized frames outgrow
# broadcast where sf1's 103 MB lineitem (a ~12M-edge, ~190 MB hash
# relation — heavy but measured cheaper than re-shuffling the wedge
# fan-out) gives way to sf10's 1.1 GB; above E_GATE_BYTES graph
# checkpoints also go DISK_ONLY and the triangle wedge joins fall back
# from SHUFFLE_HASH to sort-merge. Above either gate the hint is
# dropped and the planner shuffles — values never depend on strategy.
V_GATE_BYTES = 8 << 30
E_GATE_BYTES = 512 << 20


def graph_ckpt_level(sf_dir: str):
    """Storage level for GRAPH-SIZED per-call checkpoints (symmetrized
    edge frames, adjacency derivatives): DISK_ONLY above E_GATE_BYTES
    (sf10+), None (the MEMORY_AND_DESER default) at driver-graded SFs.
    Both softer alternatives, MEMORY_AND_DISK and the deserialized
    default at a 48 GB heap, measured slower at sf10 (SCALING.md,
    round 12)."""
    if memo.source_bytes(sf_dir, "lineitem") <= E_GATE_BYTES:
        return None
    from pyspark.storagelevel import StorageLevel

    return StorageLevel.DISK_ONLY


def bcast_v(df: DataFrame, sf_dir: str) -> DataFrame:
    """``df``, a |V|-SIZED frame of the co-purchase family (degree,
    cap and label tables), broadcast under V_GATE_BYTES."""
    return F.broadcast(df) if memo.source_bytes(sf_dir, "lineitem") <= V_GATE_BYTES else df


def bcast_e(df: DataFrame, sf_dir: str) -> DataFrame:
    """``df``, an |E|-DERIVED frame (probe-filtered adjacency slices,
    the edge set in closing/anti joins, wedge frames), broadcast under
    E_GATE_BYTES."""
    return F.broadcast(df) if memo.source_bytes(sf_dir, "lineitem") <= E_GATE_BYTES else df


def _copurchase_edge_set(
    spark: SparkSession, sf_dir: str, pre_distinct_filter=None
) -> DataFrame:
    """Canonical (u < v) distinct co-purchase edges — a projection of
    the materialized pair table (already distinct by construction).

    ``pre_distinct_filter``: per-(u, v) predicate (e.g. the DOULION
    coin). It commutes with the pair dedup, so applying it to the
    cached distinct edges is value-identical to pushing it below a
    fresh build's DISTINCT."""
    e = copurchase_pair_table(spark, sf_dir).select("u", "v")
    if pre_distinct_filter is not None:
        e = e.filter(pre_distinct_filter)
    return e


def symmetric(e: DataFrame) -> DataFrame:
    """``e`` UNION ALL ``e`` with columns u and v swapped; any other
    column rides along. Over a canonical (u < v) distinct edge set the
    result is the distinct directed adjacency, 2|E| rows."""
    swap = {"u": F.col("v").alias("u"), "v": F.col("u").alias("v")}
    return e.unionAll(e.select(*[swap.get(c, c) for c in e.columns]))


def copurchase_adjacency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The symmetrized (u, v) co-purchase edge frame, checkpointed
    lazily at graph_ckpt_level — one build per call, not a session
    artifact. Iterating callers unpersist it once their last round
    has materialized. It is not keyed before the checkpoint: Spark
    4.1's localCheckpoint records UnknownPartitioning, so every
    consumer join exchanges it anyway."""
    return symmetric(_copurchase_edge_set(spark, sf_dir)).localCheckpoint(
        eager=False, storageLevel=graph_ckpt_level(sf_dir)
    )


def label_rounds(spark: SparkSession, sf_dir: str, rounds: int) -> DataFrame:
    """(x, lbl) node labels after ``rounds`` synchronous label-
    propagation rounds over the co-purchase graph, starting from
    identity labels; each round a node takes its neighbors' most
    frequent label, ties to the smallest.

    Round 1 is a closed form: identity labels over a distinct edge set
    give every (node, neighbor-label) vote count 1, so the argmax is
    the MINIMUM neighbor id — one map-side-combined aggregate. Every
    later round is one Spark 4 ``mode(l, deterministic=true)``
    aggregate (most frequent, ties to the lowest value — exactly the
    oracle's two-step count + ROW_NUMBER argmax) over the adjacency
    joined to the |V|-sized label lookup, which rides the bcast_v
    gate: as a broadcast build the 2|E|-row adjacency streams through
    the join, and the vote aggregate is the round's only exchange.

    Rotation (VERDICT r10 #2): each round's labels checkpoint EAGERLY
    so the superseded round is unpersisted as soon as its successor
    is materialized — only the latest rotation (198 MB at sf10) stays
    resident — and the adjacency checkpoint is released on return."""
    d = copurchase_adjacency(spark, sf_dir)
    labels = (
        d.groupBy(F.col("u").alias("x"))
        .agg(F.min("v").alias("lbl"))
        .localCheckpoint(eager=True)
    )
    for _ in range(rounds - 1):
        prev = labels
        labels = (
            d.join(
                bcast_v(
                    prev.select(F.col("x").alias("nx"), F.col("lbl").alias("l")),
                    sf_dir,
                ),
                d["v"] == F.col("nx"),
            )
            .groupBy(F.col("u").alias("x"))
            .agg(F.mode("l", True).alias("lbl"))
            .localCheckpoint(eager=True)
        )
        prev.unpersist()
    d.unpersist()
    return labels


def probe_wedges(adj: DataFrame, ctr: DataFrame, sf_dir: str) -> DataFrame:
    """Probe wedges of the link-prediction family: every path
    u - c - v (v != u) of the symmetrized (c, x) adjacency ``adj``
    from a probe u (x % 97 = 0, the slate-request batch) through a
    center c kept by ``ctr`` (column c plus per-center columns, which
    ride along) → (c, u, *ctr columns, v); callers aggregate by
    (u, v). ctr broadcasts under the |V| gate and the probe slice
    (|2E|/97 rows) under the |E| gate, so the full adjacency STREAMS
    through the wedge join; the only exchanges left are the callers'
    (u, v) aggregate and ranking window."""
    a1 = (
        adj.filter(F.col("x") % 97 == 0)
        .select(F.col("c"), F.col("x").alias("u"))
        .join(bcast_v(ctr, sf_dir), "c")
    )
    a2 = adj.select(F.col("c"), F.col("x").alias("v"))
    return bcast_e(a1, sf_dir).join(a2, "c").filter(F.col("v") != F.col("u"))


def open_pairs(cand: DataFrame, e: DataFrame, sf_dir: str) -> DataFrame:
    """``cand`` rows whose (u, v) is not already an edge of the
    canonical (u < v) edge set ``e`` — the link-prediction family's
    closing anti-join. The edge side rides the |E| broadcast gate: as
    a broadcast build the candidate frame is not re-shuffled on the
    pair key (above the gate this is a shuffle anti-join)."""
    closed = bcast_e(
        e.select(F.col("u").alias("eu"), F.col("v").alias("ev")), sf_dir
    )
    return cand.join(
        closed,
        (F.least(F.col("u"), F.col("v")) == F.col("eu"))
        & (F.greatest(F.col("u"), F.col("v")) == F.col("ev")),
        "left_anti",
    )


def _bfs_layer_counts(
    e: DataFrame, seeds: DataFrame, hops: int
) -> dict[tuple[int, int], int]:
    """Cumulative BFS reach sizes per (seed, hop) with a BOUNDED
    frontier lifecycle (VERDICT r10 #2).

    ``e`` is a symmetrized (u, v) edge frame, ``seeds`` a 1-column
    frame of seed ids ``s``. Each hop expands reach x edges (a
    key-partitioned equi-join + distinct), localCheckpoints the new
    cumulative reach EAGERLY, collects its |seeds|-row count frame
    (bounded driver state), and immediately unpersists the SUPERSEDED
    previous hop's checkpoint — so at any instant at most two hop
    states are resident instead of all of them. At sf10 the khop
    frontier state measured 18-19 GB when every hop's checkpoint was
    kept (SCALING.md r10); this rotation is what lets the graph
    cohort run in a 16g heap. Counts are exact integers, so the
    driver-side assembly is value-identical to the old lazy plan."""
    reach = seeds.select("s", F.col("s").alias("node"))
    counts: dict[tuple[int, int], int] = {}
    prev = None
    for hop in range(1, hops + 1):
        expanded = reach.join(e, reach["node"] == e["u"]).select(
            "s", F.col("v").alias("node")
        )
        reach = reach.unionAll(expanded).distinct().localCheckpoint(
            eager=True
        )
        for r in (
            reach.groupBy("s")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
            .collect()
        ):
            counts[(r["s"], hop)] = r["n"]
        if prev is not None:
            prev.unpersist()
        prev = reach
    if prev is not None:
        prev.unpersist()
    return counts


def _count_triangles(
    e: DataFrame, sf_dir: str, ckpt_level=None, deg: DataFrame | None = None
) -> DataFrame:
    """Degree-oriented wedge join + closing equi-join over a canonical
    (u, v) edge frame → 1-row (n_triangles) frame. ``ckpt_level``
    feeds the oriented-edge checkpoint (callers pass
    graph_ckpt_level(sf_dir)): at sf10 the EXACT path's oriented
    frame is ~300M rows and the deserialized default killed a 16g
    session — the round-12 sf10 gate's catch."""
    # ``deg``: callers whose edge frame IS the full pair table pass
    # the shared |V|-sized degree artifact (r13 — skips re-deriving
    # degrees from the |2E|-row explode); samplers (DOULION) must
    # leave it None so degrees reflect the sparsified graph.
    if deg is None:
        deg = (
            e.select(F.explode(F.array("u", "v")).alias("x"))
            .groupBy("x")
            .agg(F.count(F.lit(1)).alias("dg"))
        )
    # orient each edge from the (deg, id)-smaller endpoint to the larger
    o = (
        e.join(deg.withColumnRenamed("x", "u").withColumnRenamed("dg", "du"), "u")
        .join(deg.withColumnRenamed("x", "v").withColumnRenamed("dg", "dv"), "v")
        .select(
            F.when(
                (F.col("du") < F.col("dv"))
                | ((F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))),
                F.struct(
                    F.col("u").alias("src"),
                    F.col("v").alias("dst"),
                    F.col("dv").alias("ddst"),
                ),
            )
            .otherwise(
                F.struct(
                    F.col("v").alias("src"),
                    F.col("u").alias("dst"),
                    F.col("du").alias("ddst"),
                )
            )
            .alias("s")
        )
        .select("s.src", "s.dst", "s.ddst")
        # r14 measured-negative: keying this frame on src before the
        # checkpoint (hoping the wedge self-join would reuse the
        # partitioning) does NOT work — Spark 4.1's localCheckpoint
        # records UnknownPartitioning on the LogicalRDD (verified with
        # and without AQE, eager and lazy), so the extra exchange was
        # pure overhead (7.09 -> 7.73s).
        .localCheckpoint(eager=False, storageLevel=ckpt_level)
    )
    # r14 (guide §3.1): both wedge-stage joins sit behind the
    # checkpoint, so the planner has no size estimate and falls back
    # to sort-merge — which SORTS the wedge fan-out (the largest frame
    # in the pipeline) just to join it. SHUFFLE_HASH on the |E|-sized
    # sides (y: the oriented frame; z: its 2-column projection) keeps
    # the shuffles but drops the sorts: each partition builds a hash
    # table over its |E|/P slice (~36 MB at sf10's 300M oriented rows
    # across 200 partitions) and the wedge stream probes it. Same-
    # session alternating A/B at sf0.1: SMJ min 7.54 / med 8.3 vs SHJ
    # min 5.58 / med 6.0. Join strategy only — counts identical.
    # Each hash build holds an |E|/P slice, so above E_GATE_BYTES the
    # hints are dropped and the planner falls back to sort-merge,
    # which spills instead of failing.
    y, z = o, o.select("src", "dst")
    if memo.source_bytes(sf_dir, "lineitem") <= E_GATE_BYTES:
        y, z = y.hint("shuffle_hash"), z.hint("shuffle_hash")
    x, y, z = o.alias("x"), y.alias("y"), z.alias("z")
    wedges = x.join(
        y,
        (F.col("x.src") == F.col("y.src"))
        & (
            (F.col("x.ddst") < F.col("y.ddst"))
            | (
                (F.col("x.ddst") == F.col("y.ddst"))
                & (F.col("x.dst") < F.col("y.dst"))
            )
        ),
    )
    return wedges.join(
        z,
        (F.col("z.src") == F.col("x.dst")) & (F.col("z.dst") == F.col("y.dst")),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_triangles"))


# --------------------------------------------------------------------
# 207. DOULION sampled triangle count (Tsourakakis et al., KDD'09) —
# the 100 TB path #171's own comments name: keep each edge with an
# independent coin of probability p, run the IDENTICAL degree-oriented
# exact pipeline on the sparsified graph, scale the count by 1/p³ for
# an unbiased estimate (each triangle survives with probability p³).
# The wedge stage shrinks ~p² and the edge shuffle ~p — at p = 1/4
# that is 16× less wedge traffic for a known variance bound. The coin
# is the repo's portable md5 device (span_corruption_masks pattern):
# substr(md5(u ':' v), 1, 4) < '8000' gives p = 1/2 exactly, so the
# sampled edge set — and therefore the sampled count AND the ×8
# estimate — is deterministic and oracle-exact on both engines (the
# estimator's randomness is over coins, which are pinned; the sf1
# ERROR-BOUND measurement vs the exact count lives in SCALING.md).
@query(
    "triangle_count_doulion",
    oracle="""
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
e0 AS (SELECT DISTINCT a.l_partkey AS s, b.l_partkey AS t
       FROM li a JOIN li b
         ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
e AS (SELECT s, t FROM e0
      WHERE substr(md5(CAST(s AS VARCHAR) || ':' || CAST(t AS VARCHAR)), 1, 4)
            < '8000'),
tri AS (SELECT COUNT(*) AS c FROM e e1
        JOIN e e2 ON e2.s = e1.s AND e2.t > e1.t
        JOIN e e3 ON e3.s = e1.t AND e3.t = e2.t)
SELECT CAST((SELECT COUNT(*) FROM e) AS BIGINT) AS n_edges_sampled,
       CAST(tri.c AS BIGINT) AS n_tri_sampled,
       CAST(8 * tri.c AS BIGINT) AS est_triangles
FROM tri
""",
    # same two-1-row-frames crossJoin as triangle_count_parts
    allow={"BroadcastNestedLoopJoin"},
)
def triangle_count_doulion(spark: SparkSession, sf_dir: str) -> DataFrame:
    coin = F.substring(
        F.md5(
            F.concat(
                F.col("u").cast("string"), F.lit(":"), F.col("v").cast("string")
            )
        ),
        1,
        4,
    )
    # coin pushed BELOW the edge DISTINCT (it commutes — the coin
    # depends only on the canonical pair), so the dedup shuffle and
    # everything after see only the kept half. Interleaved A/B at
    # sf0.1 measured a WASH (3.4-4.3s both shapes): the pushdown
    # evaluates md5 on ~2x rows (raw pairs vs distinct edges), which
    # locally cancels the halved shuffle — kept anyway because on a
    # real cluster the dedup shuffle is network-bound and the hash is
    # free CPU, so the trade tilts decisively to the pushdown
    es = _copurchase_edge_set(spark, sf_dir, pre_distinct_filter=coin < "8000")
    tri = _count_triangles(es, sf_dir)
    n_e = es.agg(F.count(F.lit(1)).cast("bigint").alias("n_edges_sampled"))
    return n_e.crossJoin(tri).select(
        "n_edges_sampled",
        F.col("n_triangles").alias("n_tri_sampled"),
        (F.col("n_triangles") * 8).cast("bigint").alias("est_triangles"),
    )


# --------------------------------------------------------------------
# 172. robust per-language scaling: (n_chars − median) / IQR — the
# outlier-proof cousin of the z-score (median/quartiles don't move
# when a crawler bug injects 2 GB documents). The per-language
# thresholds are a tiny exact-percentile aggregate that BROADCASTS
# back onto the scan: one 5-row shuffle + one broadcast join + pure
# codegen arithmetic, no Python, no window over the full table.
# percentile() (Spark) == quantile_cont (DuckDB): both exact linear
# interpolation on integers. ROUND(,4)+0.0 per repo convention
# (collapses IEEE −0.0, see grouped_zscore).
@query(
    "robust_scale_by_lang",
    oracle="""
WITH th AS (
  SELECT lang,
         quantile_cont(n_chars, 0.5)  AS med,
         quantile_cont(n_chars, 0.75) - quantile_cont(n_chars, 0.25) AS iqr
  FROM documents GROUP BY lang)
SELECT d.doc_id, d.lang,
       ROUND((d.n_chars - th.med) / th.iqr, 4) + 0.0 AS robust_z
FROM documents d JOIN th ON d.lang = th.lang
""",
    bench=False,
)
def robust_scale_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    th = d.groupBy("lang").agg(
        F.percentile("n_chars", F.lit(0.5)).alias("med"),
        (
            F.percentile("n_chars", F.lit(0.75))
            - F.percentile("n_chars", F.lit(0.25))
        ).alias("iqr"),
    )
    return d.join(F.broadcast(th), "lang").select(
        "doc_id",
        "lang",
        (
            F.round((F.col("n_chars") - F.col("med")) / F.col("iqr"), 4) + 0.0
        ).alias("robust_z"),
    )


# --------------------------------------------------------------------
# 173. token frequency spectrum — the scale-safe form of "how big a
# vocab covers X% of token mass". A global freq-sorted cumulative sum
# is a single-partition window (the classic driver-melter); instead
# tokens bucket by ⌊log2 freq⌋ — computed EXACTLY as the length of
# the binary string (conv/printf('%b')), no libm — giving ≤64 bucket
# rows whose top-down cumulative coverage is a window over a tiny
# frame. Coverage is integer ppm (exact). Answers the same capacity-
# planning question (mass above any frequency threshold) with two
# linear aggregations and zero global sorts.
@query(
    "token_freq_spectrum",
    oracle="""
WITH tf AS (
  SELECT token, COUNT(*) AS freq
  FROM (SELECT unnest(string_split_regex(TRIM(text), '\\s+')) AS token
        FROM documents) t
  GROUP BY token),
b AS (
  SELECT CAST(LENGTH(printf('%b', freq)) - 1 AS BIGINT) AS bucket,
         CAST(COUNT(*) AS BIGINT) AS n_types,
         CAST(SUM(freq) AS BIGINT) AS mass
  FROM tf GROUP BY 1)
SELECT bucket, n_types, mass,
       CAST(SUM(mass) OVER (ORDER BY bucket DESC) * 1000000
            // (SELECT SUM(mass) FROM b) AS BIGINT) AS cum_ppm
FROM b
""",
    bench=False,
    # cumulative coverage over the ≤64-row log2-frequency bucket frame,
    # plus the 1-row total-mass frame cross-joined onto it
    allow={"BroadcastNestedLoopJoin", "GlobalWindow"},
)
def token_freq_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    tf = (
        d.select(F.explode(tokens(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    b = tf.groupBy(
        (F.length(F.conv(F.col("freq"), 10, 2)) - 1)
        .cast("bigint")
        .alias("bucket")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_types"),
        F.sum("freq").cast("bigint").alias("mass"),
    )
    total = b.agg(F.sum("mass").alias("tot"))
    return (
        b.crossJoin(total)  # ≤64 rows × 1 row
        .withColumn(
            "cum_ppm",
            F.expr("sum(mass) over (order by bucket desc) * 1000000 div tot")
            .cast("bigint"),
        )
        .select("bucket", "n_types", "mass", "cum_ppm")
    )


# --------------------------------------------------------------------
# 178. winnowing fingerprints (Schleimer et al., SIGMOD'03 — the MOSS
# algorithm): instead of keeping EVERY 8-token span like
# duplicate_span_detect, hash all 5-token shingles and keep only the
# MINIMUM hash in each window of 4 consecutive shingles. Guarantee:
# any shared substring of >= 8 tokens still produces a shared
# fingerprint, but fingerprint density drops to ~2/(w+1) of positions
# — the sublinear storage path for corpus-scale substring dedup. All
# selection is ARRAY-SIDE (per-row codegen, no shuffle until the tiny
# (doc, fp) explode); min is over 8-hex-char md5 prefixes, and
# lexicographic string order is identical in both engines. The df
# stage mirrors duplicate_span_detect: O(1) aggregation buffers,
# linear join back.
@query(
    "winnowing_fingerprints",
    oracle="""
WITH fp AS (
  SELECT doc_id, unnest(list_distinct(list_transform(
             range(1, LEN(hs) - 2),
             j -> list_min(hs[j:j+3])))) AS fp
  FROM (
    SELECT doc_id,
           list_transform(
               list_transform(range(1, LEN(toks) - 3),
                              i -> array_to_string(toks[i:i+4], ' ')),
               s -> substr(md5(s), 1, 8)) AS hs
    FROM (SELECT doc_id, string_split_regex(TRIM(text), '\\s+') AS toks
          FROM documents) t
    WHERE LEN(toks) >= 8) h),
df AS (SELECT fp, COUNT(*) AS df FROM fp GROUP BY fp),
tot AS (SELECT doc_id, COUNT(*) AS n_fp FROM fp GROUP BY doc_id),
dup AS (
  SELECT f.doc_id, COUNT(*) AS n_shared
  FROM fp f JOIN df ON f.fp = df.fp
  WHERE df.df >= 2
  GROUP BY f.doc_id)
SELECT tot.doc_id,
       CAST(tot.n_fp AS BIGINT)                 AS n_fp,
       CAST(COALESCE(dup.n_shared, 0) AS BIGINT) AS n_shared,
       CAST(COALESCE(dup.n_shared, 0) * 1000000 // tot.n_fp AS BIGINT)
         AS shared_ppm
FROM tot LEFT JOIN dup ON tot.doc_id = dup.doc_id
""",
    bench=False,
)
def winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    hs = F.transform(
        F.transform(
            F.sequence(F.lit(1), F.size("t") - 4),
            lambda i: F.concat_ws(" ", F.slice(F.col("t"), i, 5)),
        ),
        lambda s: F.substring(F.md5(s), 1, 8),
    )
    fp = (
        d.select("doc_id", tokens(F.col("text")).alias("t"))
        .filter(F.size("t") >= 8)
        .select("doc_id", hs.alias("hs"))
        .select(
            "doc_id",
            F.explode(
                F.array_distinct(
                    F.transform(
                        F.sequence(F.lit(1), F.size("hs") - 3),
                        lambda j: F.array_min(F.slice(F.col("hs"), j, 4)),
                    )
                )
            ).alias("fp"),
        )
        .localCheckpoint(eager=False)  # fingerprint frame feeds 3 consumers
    )
    df = fp.groupBy("fp").agg(F.count(F.lit(1)).alias("df"))
    tot = fp.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_fp"))
    dup = (
        fp.join(df.filter(F.col("df") >= 2).select("fp"), "fp")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    return tot.join(dup, "doc_id", "left").select(
        "doc_id",
        F.col("n_fp").cast("bigint").alias("n_fp"),
        F.coalesce("n_shared", F.lit(0)).cast("bigint").alias("n_shared"),
        F.expr("coalesce(n_shared, 0) * 1000000 div n_fp")
        .cast("bigint")
        .alias("shared_ppm"),
    )
