"""Round-7 additions (SURVEY.md §2 extensions): distributed Gram /
covariance matrix over embeddings, Pareto skyline via distributed
prefix-min, blocked fuzzy (edit-distance) entity matching, an A/B
two-proportion z-test, and a Spark 4 Python UDTF demo.

Reference parity note: none of these exist in the reference (its
surface is the frame ops in source/koalas/dataframe.d:73-311); they
extend the engine toward the feature-engineering / data-curation
workloads the brief mandates, following the repo's cross-engine
determinism rules (queries/__init__.py docstring).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from koalas_spark.queries import query
from koalas_spark.queries.analytics import _t
from koalas_spark.queries.pipeline import _coin

_COV_DIM = 16  # leading block of the 64-dim embedding (oracle cost bound)
_SCALE = 1048576  # 2^20 — float->double exact, |x|<1 so v fits 21 bits


def gram_partials(embeddings: DataFrame) -> DataFrame:
    """Exact integer partial sums per Arrow batch over the leading
    ``_COV_DIM`` embedding components on the ``_SCALE`` grid: for every
    upper-triangle (i, j), the batch's row count, sum v_i, sum v_j and
    sum v_i*v_j. Summing the partials per (i, j) gives the exact inputs
    of the covariance matrix."""
    d, scale = _COV_DIM, _SCALE

    def partial_gram(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.stack(pdf["embedding"].to_numpy())[:, :d].astype(np.float64)
            v = np.trunc(x * scale).astype(np.int64)  # == CAST(double AS BIGINT)
            gram = v.T @ v  # exact: |v|<2^21, 10k rows -> <2^56
            sx = v.sum(axis=0)
            iu, ju = np.triu_indices(d)
            yield pd.DataFrame(
                {
                    "i": iu.astype("int32"),
                    "j": ju.astype("int32"),
                    "n_part": np.full(len(iu), len(pdf), dtype=np.int64),
                    "sx_part": sx[iu],
                    "sy_part": sx[ju],
                    "sxy_part": gram[iu, ju],
                }
            )

    return embeddings.select("embedding").mapInPandas(
        partial_gram,
        schema="i int, j int, n_part long, sx_part long, sy_part long, sxy_part long",
    )


# --------------------------------------------------------------------
# 213. embedding covariance matrix — the d x d second-moment / Gram
# matrix that feeds PCA whitening, OPQ rotation training, and mahalanobis
# outlier gates. Plan shape: mapInPandas computes ONE d x d int64 partial
# Gram per Arrow batch (numpy einsum over <=10k rows — products are
# <=2^42, batch sums <=2^56, no overflow), so the shuffle moves
# #batches x d(d+1)/2 tiny rows instead of n x d elements; the cross-batch
# reduce goes through DECIMAL(25,0) sums (order-independent, exact),
# and one fixed double sequence produces cov. At 100 TB this is the
# only sane shape: per-executor compute is dense BLAS-grade numpy, the
# shuffle is O(cores x d^2), and nothing quadratic in rows exists.
# Components scale as trunc(x * 2^20) (repo convention, see #99
# embedding_centroids) so both engines sum identical integers.
@query(
    "embedding_covariance",
    oracle=f"""
WITH sv AS (
  SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS i,
         CAST(trunc(CAST(unnest(embedding) AS DOUBLE) * {_SCALE}) AS BIGINT) AS v
  FROM embeddings),
p AS (SELECT * FROM sv WHERE i < {_COV_DIM}),
m AS (
  SELECT a.i AS i, b.i AS j,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(CAST(SUM(CAST(a.v AS DECIMAL(25,0))) AS VARCHAR) AS DOUBLE) AS sx,
         CAST(CAST(SUM(CAST(b.v AS DECIMAL(25,0))) AS VARCHAR) AS DOUBLE) AS sy,
         CAST(CAST(SUM(CAST(a.v * b.v AS DECIMAL(25,0))) AS VARCHAR) AS DOUBLE)
           AS sxy
  FROM p a JOIN p b ON a.vec_id = b.vec_id AND a.i <= b.i
  GROUP BY a.i, b.i)
SELECT CAST(i AS INT) AS i, CAST(j AS INT) AS j, n,
       ROUND((sxy / n - (sx / n) * (sy / n)) / {_SCALE * _SCALE}.0, 12) AS cov
FROM m
""",
    allow={"Python"},
)
def embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    partials = gram_partials(_t(spark, sf_dir, "embeddings"))
    dsum = lambda c: F.sum(F.col(c).cast("decimal(25,0)")).cast("string").cast("double")
    m = partials.groupBy("i", "j").agg(
        F.sum("n_part").cast("bigint").alias("n"),
        dsum("sx_part").alias("sx"),
        dsum("sy_part").alias("sy"),
        dsum("sxy_part").alias("sxy"),
    )
    cov = (
        F.col("sxy") / F.col("n")
        - (F.col("sx") / F.col("n")) * (F.col("sy") / F.col("n"))
    ) / F.lit(float(_SCALE) * float(_SCALE))
    return m.select("i", "j", "n", F.round(cov, 12).alias("cov"))


# --------------------------------------------------------------------
# 214. Pareto skyline (minimize price, minimize size) — the classic
# multi-objective "undominated set" query. The naive formulation is an
# O(n^2) dominance anti-join; the classic 2-D trick is a prefix-min of
# size in price order. r8 rewrite (VERDICT r7 #4): instead of per-row
# windows whose partitions grow with the corpus, pre-aggregate to
# price_cents granularity — DOMAIN-bounded (~1.2e5 distinct cents
# values regardless of row count) — prefix-min that tiny table ONCE
# (a single-partition window over <=~1e5 rows, the same bounded-
# GlobalWindow shape as doc_pack_shards' superblock pass), and
# BROADCAST it back onto the corpus. A row survives iff no strictly-
# cheaper price has min-size <= its own (m_lt > p_size) and it attains
# its own price's min size (p_size == m_eq). The corpus-side plan is
# scan -> map-side partial agg -> broadcast-join -> filter: no window,
# no shuffle of row-scale data beyond the cents aggregation.
@query(
    "pareto_skyline_parts",
    oracle="""
SELECT p.p_partkey, p.p_name,
       CAST(FLOOR(p.p_retailprice * 100 + 0.5) AS BIGINT) AS price_cents,
       CAST(p.p_size AS INT) AS p_size
FROM part p
WHERE NOT EXISTS (
  SELECT 1 FROM part q
  WHERE q.p_retailprice <= p.p_retailprice AND q.p_size <= p.p_size
    AND (q.p_retailprice < p.p_retailprice OR q.p_size < p.p_size))
""",
    allow={"GlobalWindow"},
)
def pareto_skyline_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _t(spark, sf_dir, "part").select(
        "p_partkey",
        "p_name",
        F.floor(F.col("p_retailprice") * 100 + F.lit(0.5))
        .cast("bigint")
        .alias("price_cents"),
        F.col("p_size").cast("int").alias("p_size"),
    )
    # domain-bounded cents table: one row per distinct price_cents
    cents = p.groupBy("price_cents").agg(F.min("p_size").alias("m_eq"))
    w_lt = Window.orderBy("price_cents").rowsBetween(
        Window.unboundedPreceding, -1
    )
    cents_mins = cents.select(
        "price_cents",
        "m_eq",
        F.coalesce(F.min("m_eq").over(w_lt), F.lit(2**31 - 1)).alias("m_lt"),
    )
    return (
        p.join(F.broadcast(cents_mins), "price_cents")
        .filter(
            (F.col("m_lt") > F.col("p_size"))
            & (F.col("m_eq") == F.col("p_size"))
        )
        .select("p_partkey", "p_name", "price_cents", "p_size")
    )


# --------------------------------------------------------------------
# 215. blocked fuzzy match — entity-resolution's candidate-pair stage:
# part names within the same p_size block whose edit distance <= 3.
# The quadratic is bounded by BLOCKING (equi-join on the block key)
# plus the standard levenshtein length-band prune (|len(a)-len(b)| <= 3
# is a lower bound on edit distance, applied BEFORE the O(len^2)
# distance call). Both engines ship the identical classic Levenshtein
# (verified value-for-value), so the oracle is exact.
#
# SCALE GATE (r8, mirroring neardup_embedding_gated, dedup.py:265):
# p_size alone has a BOUNDED domain (~50 values in TPC-H), so blocks
# grow linearly with the corpus and sum(|block|^2) ~ n^2/50 — the
# exact hazard #41 was gated for in r7. One cheap aggregate (per-size
# counts -> max) decides the plan: coarse p_size blocks while every
# block fits under FUZZY_BLOCK_LIMIT; past it, the key refines to
# (p_size, first-name-token) — record linkage's standard recall-vs-
# block-size knob, and the finer key's block count GROWS with the
# corpus (name vocabulary), so blocks stay bounded. At oracle SFs
# (0.001/0.01/0.1: max block <= ~400) the coarse exact path always
# runs, keeping the registered oracle exact; the scaled sf1 replica
# (max block ~4000) trips the gate — the refined path is value-checked
# there against a refined-key oracle (SCALING.md round-8). The limit
# is LOWER than NEARDUP's 20k because cost per block is pairs x
# levenshtein(O(len^2)), not pairs x dot: 2000^2/2 = 2M candidate
# pairs per block is already ~seconds of JVM codegen per block task.
FUZZY_BLOCK_LIMIT = 2_000


# Output-workload ceiling for the ALL-PAIRS fuzzy contract (round 13,
# VERDICT r12 lead item): Σb(b-1)/2 candidate pairs under the chosen
# blocking key — the same estimator blocking_key_workload_audit
# (analytics55.py:281) publishes as a standing advisor. Measured
# refined-key workloads (DuckDB over the part snapshots): ~51M
# candidates at sf1, ~5.1B at sf10 (395s wall in the r12 grid —
# feasible here), ~510B at sf100 (candidates alone exceed what this
# box could enumerate, and the match OUTPUT grows the same Θ(n²/V)
# under the generator's fixed name vocabulary). The default 1e10
# admits every SF the standing gates run and refuses one decade
# later, BEFORE any quadratic stage launches.
# Deployments with real clusters raise SPARK_GRAFT_FUZZY_WORKLOAD_MAX;
# the bounded-output alternative is fuzzy_match_topk (top-k matches
# per left row — the standard record-linkage contract at scale).
FUZZY_WORKLOAD_MAX = int(
    os.environ.get("SPARK_GRAFT_FUZZY_WORKLOAD_MAX", 10_000_000_000)
)


def _fuzzy_block_stats(p: DataFrame, block_cols: list[str]) -> tuple[int, int]:
    """(max_block, Σb(b-1)/2 pair workload) for a candidate blocking
    key — one tiny aggregation job over the |part|-row frame, run at
    DataFrame-construction time as the feasibility gate (the part
    table is metadata-scale next to the Θ(n²/V) pair output it
    guards). DECIMAL(38) products per the #406 estimator discipline."""
    row = (
        p.groupBy(*block_cols)
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .agg(
            F.max("c").alias("mx"),
            F.sum(
                F.expr("CAST(c AS DECIMAL(38,0)) * (c - 1) / 2")
            ).alias("wl"),
        )
        .first()
    )
    return int(row["mx"] or 0), int(row["wl"] or 0)


def _fuzzy_workload_guard(workload: int, key_desc: str) -> None:
    if workload > FUZZY_WORKLOAD_MAX:
        raise RuntimeError(
            "fuzzy_match_parts: all-pairs fuzzy matching is infeasible "
            f"at this scale (blocking key {key_desc} yields "
            f"{workload:,} candidate pairs > "
            f"{FUZZY_WORKLOAD_MAX:,} guard; output is Θ(n²/V) under "
            "the fixed name vocabulary). Use fuzzy_match_topk "
            "(bounded top-k matches per row) or raise "
            "SPARK_GRAFT_FUZZY_WORKLOAD_MAX on a cluster sized for "
            "the full pair output."
        )


def _fuzzy_pairs(p: DataFrame, block_cols: list[str]) -> DataFrame:
    a = p.select(
        F.col("p_partkey").alias("key_a"),
        F.col("p_name").alias("name_a"),
        *[F.col(c) for c in block_cols],
    )
    b = p.select(
        F.col("p_partkey").alias("key_b"),
        F.col("p_name").alias("name_b"),
        *[F.col(c) for c in block_cols],
    )
    pairs = a.join(b, block_cols).filter(
        (F.col("key_a") < F.col("key_b"))
        & (F.abs(F.length("name_a") - F.length("name_b")) <= 3)
    )
    return (
        pairs.withColumn("dist", F.levenshtein("name_a", "name_b").cast("int"))
        .filter((F.col("dist") <= 3) & (F.col("name_a") != F.col("name_b")))
        .select("key_a", "key_b", "name_a", "name_b", "dist")
    )


def _fuzzy_blocked_part(
    spark: SparkSession, sf_dir: str, block_limit: int = FUZZY_BLOCK_LIMIT
) -> tuple[DataFrame, list[str], int]:
    """The SF-aware blocking decision shared by the all-pairs and
    top-k fuzzy contracts: (blocked part frame, blocking columns,
    Σb(b-1)/2 candidate workload under that key)."""
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_name", "p_size")
    max_block, workload = _fuzzy_block_stats(p, ["p_size"])
    # repartition by the blocking key before returning (r13): both
    # fuzzy contracts self-join this frame ON that key, so a keyed
    # respread makes the block join exchange-free on both sides AND
    # keeps the Θ(workload) levenshtein sweep at cluster parallelism —
    # the single-row-group part scan otherwise serialized it onto the
    # few partitions AQE's bytes-based coalescing left (guide §2.4,
    # §2.6). Values are join-key-partitioning-independent.
    fan = spark.sparkContext.defaultParallelism
    if max_block > block_limit:
        fine = p.withColumn(
            "blk2", F.split(F.col("p_name"), " ").getItem(0)
        )
        _, workload = _fuzzy_block_stats(fine, ["p_size", "blk2"])
        cols = ["p_size", "blk2"]
        return fine.repartition(fan, *cols), cols, workload
    return p.repartition(fan, "p_size"), ["p_size"], workload


def fuzzy_match_parts_gated(
    spark: SparkSession, sf_dir: str, block_limit: int = FUZZY_BLOCK_LIMIT
) -> DataFrame:
    blocked, cols, workload = _fuzzy_blocked_part(spark, sf_dir, block_limit)
    # Feasibility guard BEFORE the quadratic stage launches (round 13):
    # the all-pairs contract's output grows Θ(n²/V); refuse fast with
    # the bounded alternative when the candidate workload estimate
    # exceeds the ceiling (the triangle_count_parts precedent).
    _fuzzy_workload_guard(workload, "(" + ", ".join(cols) + ")")
    return _fuzzy_pairs(blocked, cols)


# The oracle is SF-AWARE (round 12, VERDICT r11 item 2): it computes
# the SAME max-block gate as the Spark path (max per-p_size block
# count > FUZZY_BLOCK_LIMIT) and, when tripped, applies the refined
# first-word blocking key as an extra predicate — so the standing
# sf1 sweep reads green with no allowlist. At oracle SFs the gate is
# false and the predicate is vacuous (identical to the r11 coarse
# oracle); at sf1 it reproduces the refined path that was
# value-verified by EXCEPT-both-ways in round 10 (SWEEP_r10.md).
@query(
    "fuzzy_match_parts",
    oracle="""
WITH gate AS (
  SELECT MAX(c) > 2000 AS refined
  FROM (SELECT COUNT(*) AS c FROM part GROUP BY p_size) t)
SELECT a.p_partkey AS key_a, b.p_partkey AS key_b,
       a.p_name AS name_a, b.p_name AS name_b,
       CAST(levenshtein(a.p_name, b.p_name) AS INT) AS dist
FROM part a JOIN part b
  ON a.p_size = b.p_size AND a.p_partkey < b.p_partkey
 AND ABS(LEN(a.p_name) - LEN(b.p_name)) <= 3
WHERE levenshtein(a.p_name, b.p_name) <= 3 AND a.p_name <> b.p_name
  AND (NOT (SELECT refined FROM gate)
       OR split_part(a.p_name, ' ', 1) = split_part(b.p_name, ' ', 1))
""",
)
def fuzzy_match_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return fuzzy_match_parts_gated(spark, sf_dir)


# --------------------------------------------------------------------
# 473. top-k fuzzy matches per row — the record-linkage contract that
# SURVIVES the scale the all-pairs #215 cannot (VERDICT r12): output
# is bounded at k rows per left part (3n total) no matter how dense
# the name vocabulary makes the blocks, so the op has no workload
# guard — candidates are enumerated block-locally (same blocking key
# family as #215, SF-aware refinement) with flat per-pair levenshtein
# throughput, and the per-key top-3 goes through a row_number window
# that Spark's WindowGroupLimit pushes below the shuffle (partial
# top-k per map task — only ~k rows per key cross the wire). The
# candidate join is symmetric (key_a <> key_b: every row gets ITS
# nearest neighbors, unlike #215's canonical a<b orientation), and
# (dist, key_b) is a total order within each key_a so membership is
# deterministic in both engines.
@query(
    "fuzzy_match_topk",
    oracle="""
WITH gate AS (
  SELECT MAX(c) > 2000 AS refined
  FROM (SELECT COUNT(*) AS c FROM part GROUP BY p_size) t),
cand AS (
  SELECT a.p_partkey AS key_a, b.p_partkey AS key_b,
         a.p_name AS name_a, b.p_name AS name_b,
         CAST(levenshtein(a.p_name, b.p_name) AS INT) AS dist
  FROM part a JOIN part b
    ON a.p_size = b.p_size AND a.p_partkey <> b.p_partkey
   AND ABS(LEN(a.p_name) - LEN(b.p_name)) <= 3
  WHERE levenshtein(a.p_name, b.p_name) <= 3 AND a.p_name <> b.p_name
    AND (NOT (SELECT refined FROM gate)
         OR split_part(a.p_name, ' ', 1) = split_part(b.p_name, ' ', 1)))
SELECT key_a, key_b, name_a, name_b, dist, match_rank FROM (
  SELECT cand.*,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY key_a ORDER BY dist, key_b) AS INT) AS match_rank
  FROM cand) r
WHERE match_rank <= 3
""",
)
def fuzzy_match_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    blocked, cols, _ = _fuzzy_blocked_part(spark, sf_dir)
    a = blocked.select(
        F.col("p_partkey").alias("key_a"),
        F.col("p_name").alias("name_a"),
        *[F.col(c) for c in cols],
    )
    b = blocked.select(
        F.col("p_partkey").alias("key_b"),
        F.col("p_name").alias("name_b"),
        *[F.col(c) for c in cols],
    )
    # enumerate candidates in CANONICAL orientation (key_a < key_b)
    # and mirror the survivors afterwards: levenshtein is symmetric,
    # so this halves the edit-distance sweep — the op's compute wall —
    # while producing the exact same symmetric candidate set (r13).
    half = (
        a.join(b, cols)
        .filter(
            (F.col("key_a") < F.col("key_b"))
            & (F.abs(F.length("name_a") - F.length("name_b")) <= 3)
        )
        .withColumn("dist", F.levenshtein("name_a", "name_b").cast("int"))
        .filter((F.col("dist") <= 3) & (F.col("name_a") != F.col("name_b")))
        .select("key_a", "key_b", "name_a", "name_b", "dist")
    )
    cand = half.unionByName(
        half.select(
            F.col("key_b").alias("key_a"),
            F.col("key_a").alias("key_b"),
            F.col("name_b").alias("name_a"),
            F.col("name_a").alias("name_b"),
            "dist",
        )
    )
    w = Window.partitionBy("key_a").orderBy("dist", "key_b")
    return (
        cand.withColumn("match_rank", F.row_number().over(w).cast("int"))
        .filter(F.col("match_rank") <= 3)
        .select("key_a", "key_b", "name_a", "name_b", "dist", "match_rank")
    )


# --------------------------------------------------------------------
# 216. A/B-test conversion lift — users hash-split 50/50 into variants
# (md5 coin, reproducible on any cluster), per-goal conversion rates
# and the two-proportion z-score. One groupBy(user) to collapse events
# to per-user goal flags (map-side combine does the heavy lifting),
# then a 2-row aggregate and a conditional cross of the two variant
# rows. All counts are exact integers; the z-score is one fixed double
# sequence over identical integers -> identical IEEE both engines.
@query(
    "ab_test_conversion_lift",
    oracle="""
WITH u AS (
  SELECT user_id,
         CASE WHEN substring(md5(CAST(user_id AS VARCHAR)), 1, 4) < '8000'
              THEN 'A' ELSE 'B' END AS variant,
         MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv_purchase,
         MAX(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS conv_signup
  FROM events GROUP BY user_id),
v AS (
  SELECT variant, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(conv_purchase) AS BIGINT) AS c_purchase,
         CAST(SUM(conv_signup) AS BIGINT) AS c_signup
  FROM u GROUP BY variant),
g AS (
  SELECT goal, variant, n,
         CASE goal WHEN 'purchase' THEN c_purchase ELSE c_signup END AS c
  FROM v, (SELECT 'purchase' AS goal UNION ALL SELECT 'signup') goals),
w AS (
  SELECT a.goal,
         a.n AS n_a, a.c AS c_a, b.n AS n_b, b.c AS c_b
  FROM g a JOIN g b ON a.goal = b.goal AND a.variant = 'A' AND b.variant = 'B')
SELECT goal, n_a, c_a, n_b, c_b,
       ROUND(CAST(c_a AS DOUBLE) / n_a - CAST(c_b AS DOUBLE) / n_b, 6) AS lift,
       CASE WHEN c_a + c_b = 0 OR c_a + c_b = n_a + n_b THEN NULL
            ELSE ROUND((CAST(c_a AS DOUBLE) / n_a - CAST(c_b AS DOUBLE) / n_b)
                 / sqrt((CAST(c_a + c_b AS DOUBLE) / (n_a + n_b))
                        * (1.0 - CAST(c_a + c_b AS DOUBLE) / (n_a + n_b))
                        * (1.0 / n_a + 1.0 / n_b)), 6) END AS z_score
FROM w
""",
    # 2-row goals frame cross-joined onto the 2-row variant aggregate
    allow={"BroadcastNestedLoopJoin"},
)
def ab_test_conversion_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    u = (
        ev.withColumn(
            "variant",
            F.when(_coin(F.col("user_id")) < "8000", "A").otherwise("B"),
        )
        .groupBy("user_id", "variant")
        .agg(
            F.max((F.col("event_type") == "purchase").cast("int")).alias(
                "conv_purchase"
            ),
            F.max((F.col("event_type") == "signup").cast("int")).alias(
                "conv_signup"
            ),
        )
    )
    v = u.groupBy("variant").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("conv_purchase").cast("bigint").alias("c_purchase"),
        F.sum("conv_signup").cast("bigint").alias("c_signup"),
    )
    goals = spark.createDataFrame([("purchase",), ("signup",)], "goal string")
    g = v.crossJoin(F.broadcast(goals)).select(
        "goal",
        "variant",
        "n",
        F.when(F.col("goal") == "purchase", F.col("c_purchase"))
        .otherwise(F.col("c_signup"))
        .alias("c"),
    )
    a = g.filter(F.col("variant") == "A").select(
        "goal", F.col("n").alias("n_a"), F.col("c").alias("c_a")
    )
    b = g.filter(F.col("variant") == "B").select(
        "goal", F.col("n").alias("n_b"), F.col("c").alias("c_b")
    )
    w = a.join(b, "goal")
    p_a = F.col("c_a").cast("double") / F.col("n_a")
    p_b = F.col("c_b").cast("double") / F.col("n_b")
    p_pool = (F.col("c_a") + F.col("c_b")).cast("double") / (
        F.col("n_a") + F.col("n_b")
    )
    conv_total = F.col("c_a") + F.col("c_b")
    n_total = F.col("n_a") + F.col("n_b")
    # degenerate pools (0% or 100% conversion) have zero variance: NULL z
    z = F.when(
        (conv_total == 0) | (conv_total == n_total), F.lit(None).cast("double")
    ).otherwise(
        (p_a - p_b)
        / F.sqrt(
            p_pool
            * (F.lit(1.0) - p_pool)
            * (F.lit(1.0) / F.col("n_a") + F.lit(1.0) / F.col("n_b"))
        )
    )
    return w.select(
        "goal",
        "n_a",
        "c_a",
        "n_b",
        "c_b",
        F.round(p_a - p_b, 6).alias("lift"),
        F.round(z, 6).alias("z_score"),
    )


# --------------------------------------------------------------------
# 217. Python UDTF demo (Spark 4) — per-document term counts emitted
# as a LATERAL table function: one input row fans out to a variable
# number of output rows, the shape built-in generators can't express
# when the expansion logic is imperative. This is the seventh Spark-4
# feature demo (after pipe syntax, transpose, VARIANT, lateralJoin,
# WITH RECURSIVE, SQL UDFs). The UDTF runs Arrow-batched per
# partition — embarrassingly parallel — but it IS Python-per-row, so
# the demo gates to lang='en' docs and the in-code guidance says:
# use explode(split()) (pure codegen, see #53 word_count_topk) when
# the expansion is expressible; UDTFs are for when it is not.
@query(
    "udtf_term_counts",
    oracle="""
SELECT doc_id, term, CAST(COUNT(*) AS INT) AS n FROM (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term
  FROM documents WHERE lang = 'en') t
GROUP BY doc_id, term
""",
    # deliberate Spark-4 UDTF demo: a LATERAL table function is
    # row-wise Python BY DEFINITION (one row fans out imperatively).
    # Gated to lang='en'; the in-code guidance points hot paths at
    # explode(split()) (#53). This is the ONLY allowed row-wise entry —
    # BatchEvalPython anywhere else still fails the audit.
    allow={"BatchEvalPython"},
)
def udtf_term_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import udtf

    @udtf(returnType="term string, n int")
    class TermCounts:
        def eval(self, text: str):
            from collections import Counter

            # NULL-only skip, matching the oracle: DuckDB's
            # string_split('', ' ') yields [''], so an empty-text doc
            # must emit ('', 1) on both engines (r7 advice: `if text:`
            # silently diverged on empty strings)
            if text is not None:
                for t, c in Counter(text.split(" ")).items():
                    yield t, c

    spark.udtf.register("term_counts_udtf", TermCounts)
    _t(spark, sf_dir, "documents").filter(F.col("lang") == "en").select(
        "doc_id", "text"
    ).createOrReplaceTempView("_udtf_docs")
    return spark.sql(
        """
        SELECT d.doc_id, t.term, t.n
        FROM _udtf_docs d, LATERAL term_counts_udtf(d.text) t
        """
    )
