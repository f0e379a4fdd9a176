"""Round-8 batch-8 additions (SURVEY.md §2 extensions): PCA top
principal component via integer power iteration, k-hop BFS
reachability over the co-purchase graph, parquet schema-evolution
(mergeSchema) reads, per-group deterministic exact-k sampling,
Theil-Sen robust trend estimation, and a CSV round-trip.

Reference parity note: none of these exist in the reference (its
surface is the frame ops in source/koalas/dataframe.d:73-311); they
extend the engine toward the ML-feature / graph / lakehouse
workloads the brief mandates. Cross-engine determinism follows the
repo rules (queries/__init__.py docstring): exact integer/DECIMAL
reductions, the VARCHAR-hop DECIMAL->DOUBLE cast, sign-aware
half-up division (the kmeans/grouped_demean ((2|s|+n) // 2n) form —
`//` floors in DuckDB while `div` truncates in Spark, so every
divided quantity is made non-negative first), and double-precision
expressions kept to IDENTICAL shapes on both engines (IEEE ops on
identical doubles are bit-identical everywhere).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from koalas_spark.memo import staged
from koalas_spark.queries import query
from koalas_spark.queries.analytics import _t
from koalas_spark.queries.analytics9 import _COV_DIM, _SCALE

_PCA_ITERS = 8
_V_SCALE = 100000  # eigenvector components live on a 1e-5 grid


# --------------------------------------------------------------------
# 257. PCA top principal component via power iteration — the
# dimensionality-reduction primitive behind embedding whitening and
# OPQ rotation init. Plan shape (the ONLY sane one at 100 TB): the
# corpus contributes exactly one distributed pass — the same
# mapInPandas partial-Gram kernel as #213 embedding_covariance
# (per-Arrow-batch d x d int64 einsum, shuffle moves O(batches x d^2)
# tiny rows, exact DECIMAL reduce) — after which ALL iteration state
# is the d x d matrix on the driver (d=16: 256 ints), mirroring the
# kmeans k x dim discipline (operators/clustering.py). The iteration
# itself is EXACT integer math so any partitioning and both engines
# reach the identical fixed-8-iteration result: the centered
# covariance (one double expression per cell, identical shape both
# engines -> bit-identical IEEE doubles) is floor-quantized to
# +-1e6 via cd*1e6/md (md = max |cd|), v0 = 1e5 everywhere, and each
# step computes w = Sn.v in int64 (|w| <= 16e11), renormalizing with
# the sign-aware half-up division to the 1e5 grid. Output: the 16
# loadings (integers, 1e-5 grid) plus the exact integer Rayleigh
# numerator/denominator in Sn units — no rounding anywhere.
@query(
    "pca_power_iteration",
    oracle=f"""
WITH sv AS MATERIALIZED (
  SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS i,
         CAST(trunc(CAST(unnest(embedding) AS DOUBLE) * {_SCALE}) AS BIGINT) AS v
  FROM embeddings),
p AS MATERIALIZED (SELECT * FROM sv WHERE i < {_COV_DIM}),
m AS MATERIALIZED (
  SELECT a.i AS i, b.i AS j,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(CAST(SUM(CAST(a.v AS DECIMAL(25,0))) AS VARCHAR) AS DOUBLE) AS sx,
         CAST(CAST(SUM(CAST(b.v AS DECIMAL(25,0))) AS VARCHAR) AS DOUBLE) AS sy,
         CAST(CAST(SUM(CAST(a.v * b.v AS DECIMAL(25,0))) AS VARCHAR) AS DOUBLE)
           AS sxy
  FROM p a JOIN p b ON a.vec_id = b.vec_id AND a.i <= b.i
  GROUP BY a.i, b.i),
cd AS MATERIALIZED (
  SELECT i, j, sxy / n - (sx / n) * (sy / n) AS c FROM m),
md AS MATERIALIZED (SELECT MAX(ABS(c)) AS d FROM cd),
sn AS MATERIALIZED (
  SELECT i, j, CAST(FLOOR(c * 1000000.0 / d) AS BIGINT) AS s
  FROM cd, md),
snf AS MATERIALIZED (
  SELECT i, j, s FROM sn
  UNION ALL
  SELECT j AS i, i AS j, s FROM sn WHERE i < j),
v0 AS MATERIALIZED (SELECT DISTINCT i, CAST({_V_SCALE} AS BIGINT) AS x FROM snf),
w1 AS MATERIALIZED (SELECT sn.i AS i, CAST(SUM(sn.s * v.x) AS BIGINT) AS w
       FROM snf sn JOIN v0 v ON sn.j = v.i GROUP BY sn.i),
m1 AS MATERIALIZED (SELECT GREATEST(MAX(ABS(w)), 1) AS m FROM w1),
v1 AS MATERIALIZED (SELECT i, CASE WHEN w < 0 THEN -1 ELSE 1 END
              * CAST((2 * ABS(w) * {_V_SCALE} + m) // (2 * m) AS BIGINT) AS x
       FROM w1, m1),
w2 AS MATERIALIZED (SELECT sn.i AS i, CAST(SUM(sn.s * v.x) AS BIGINT) AS w
       FROM snf sn JOIN v1 v ON sn.j = v.i GROUP BY sn.i),
m2 AS MATERIALIZED (SELECT GREATEST(MAX(ABS(w)), 1) AS m FROM w2),
v2 AS MATERIALIZED (SELECT i, CASE WHEN w < 0 THEN -1 ELSE 1 END
              * CAST((2 * ABS(w) * {_V_SCALE} + m) // (2 * m) AS BIGINT) AS x
       FROM w2, m2),
w3 AS MATERIALIZED (SELECT sn.i AS i, CAST(SUM(sn.s * v.x) AS BIGINT) AS w
       FROM snf sn JOIN v2 v ON sn.j = v.i GROUP BY sn.i),
m3 AS MATERIALIZED (SELECT GREATEST(MAX(ABS(w)), 1) AS m FROM w3),
v3 AS MATERIALIZED (SELECT i, CASE WHEN w < 0 THEN -1 ELSE 1 END
              * CAST((2 * ABS(w) * {_V_SCALE} + m) // (2 * m) AS BIGINT) AS x
       FROM w3, m3),
w4 AS MATERIALIZED (SELECT sn.i AS i, CAST(SUM(sn.s * v.x) AS BIGINT) AS w
       FROM snf sn JOIN v3 v ON sn.j = v.i GROUP BY sn.i),
m4 AS MATERIALIZED (SELECT GREATEST(MAX(ABS(w)), 1) AS m FROM w4),
v4 AS MATERIALIZED (SELECT i, CASE WHEN w < 0 THEN -1 ELSE 1 END
              * CAST((2 * ABS(w) * {_V_SCALE} + m) // (2 * m) AS BIGINT) AS x
       FROM w4, m4),
w5 AS MATERIALIZED (SELECT sn.i AS i, CAST(SUM(sn.s * v.x) AS BIGINT) AS w
       FROM snf sn JOIN v4 v ON sn.j = v.i GROUP BY sn.i),
m5 AS MATERIALIZED (SELECT GREATEST(MAX(ABS(w)), 1) AS m FROM w5),
v5 AS MATERIALIZED (SELECT i, CASE WHEN w < 0 THEN -1 ELSE 1 END
              * CAST((2 * ABS(w) * {_V_SCALE} + m) // (2 * m) AS BIGINT) AS x
       FROM w5, m5),
w6 AS MATERIALIZED (SELECT sn.i AS i, CAST(SUM(sn.s * v.x) AS BIGINT) AS w
       FROM snf sn JOIN v5 v ON sn.j = v.i GROUP BY sn.i),
m6 AS MATERIALIZED (SELECT GREATEST(MAX(ABS(w)), 1) AS m FROM w6),
v6 AS MATERIALIZED (SELECT i, CASE WHEN w < 0 THEN -1 ELSE 1 END
              * CAST((2 * ABS(w) * {_V_SCALE} + m) // (2 * m) AS BIGINT) AS x
       FROM w6, m6),
w7 AS MATERIALIZED (SELECT sn.i AS i, CAST(SUM(sn.s * v.x) AS BIGINT) AS w
       FROM snf sn JOIN v6 v ON sn.j = v.i GROUP BY sn.i),
m7 AS MATERIALIZED (SELECT GREATEST(MAX(ABS(w)), 1) AS m FROM w7),
v7 AS MATERIALIZED (SELECT i, CASE WHEN w < 0 THEN -1 ELSE 1 END
              * CAST((2 * ABS(w) * {_V_SCALE} + m) // (2 * m) AS BIGINT) AS x
       FROM w7, m7),
w8 AS MATERIALIZED (SELECT sn.i AS i, CAST(SUM(sn.s * v.x) AS BIGINT) AS w
       FROM snf sn JOIN v7 v ON sn.j = v.i GROUP BY sn.i),
m8 AS MATERIALIZED (SELECT GREATEST(MAX(ABS(w)), 1) AS m FROM w8),
v8 AS MATERIALIZED (SELECT i, CASE WHEN w < 0 THEN -1 ELSE 1 END
              * CAST((2 * ABS(w) * {_V_SCALE} + m) // (2 * m) AS BIGINT) AS x
       FROM w8, m8),
ray AS MATERIALIZED (
  SELECT CAST(SUM(sn.s * a.x * b.x) AS BIGINT) AS rq_num
  FROM snf sn JOIN v8 a ON sn.i = a.i JOIN v8 b ON sn.j = b.i),
den AS MATERIALIZED (SELECT CAST(SUM(x * x) AS BIGINT) AS rq_den FROM v8)
SELECT CAST(v8.i AS INT) AS i, CAST(v8.x AS BIGINT) AS loading,
       ray.rq_num, den.rq_den
FROM v8, ray, den
""",
)
def pca_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    import pandas as pd

    e = _t(spark, sf_dir, "embeddings").select("embedding")
    d, scale = _COV_DIM, _SCALE

    def partial_gram(batches):
        import numpy as np

        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.stack(pdf["embedding"].to_numpy())[:, :d].astype(np.float64)
            v = np.trunc(x * scale).astype(np.int64)
            gram = v.T @ v
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

    partials = e.mapInPandas(
        partial_gram,
        schema="i int, j int, n_part long, sx_part long, sy_part long, sxy_part long",
    )
    rows = (
        partials.groupBy("i", "j")
        .agg(
            F.sum("n_part").cast("bigint").alias("n"),
            F.sum(F.col("sx_part").cast("decimal(25,0)")).alias("sx"),
            F.sum(F.col("sy_part").cast("decimal(25,0)")).alias("sy"),
            F.sum(F.col("sxy_part").cast("decimal(25,0)")).alias("sxy"),
        )
        .collect()
    )
    # d x d driver state from exact integer sums; every double step
    # below mirrors the oracle's expression SHAPE exactly (IEEE ops
    # on identical doubles are bit-identical across engines). Each
    # integer sum is converted to float BEFORE dividing — the oracle
    # casts the DECIMAL sums to DOUBLE first, so both engines round
    # the operands identically and then perform the same double
    # division (int/int in Python is single-rounded and can differ by
    # 1 ulp once |sxy| exceeds 2^53).
    cov = {}
    for r in rows:
        n = float(int(r["n"]))
        sx, sy, sxy = (
            float(int(r["sx"])),
            float(int(r["sy"])),
            float(int(r["sxy"])),
        )
        cov[(int(r["i"]), int(r["j"]))] = sxy / n - (sx / n) * (sy / n)
    md = max(abs(c) for c in cov.values())
    sn = {}
    for (i, j), c in cov.items():
        s = math.floor(c * 1000000.0 / md)
        sn[(i, j)] = s
        if i < j:
            sn[(j, i)] = s
    v = [_V_SCALE] * d
    for _ in range(_PCA_ITERS):
        w = [
            sum(sn[(i, j)] * v[j] for j in range(d)) for i in range(d)
        ]
        m = max(max(abs(x) for x in w), 1)
        v = [
            (-1 if x < 0 else 1) * ((2 * abs(x) * _V_SCALE + m) // (2 * m))
            for x in w
        ]
    rq_num = sum(
        sn[(i, j)] * v[i] * v[j] for i in range(d) for j in range(d)
    )
    rq_den = sum(x * x for x in v)
    out = [(i, v[i], rq_num, rq_den) for i in range(d)]
    return spark.createDataFrame(
        out, "i int, loading bigint, rq_num bigint, rq_den bigint"
    )


# --------------------------------------------------------------------
# 258. k-hop BFS reachability over the co-purchase graph — the "how
# far does influence spread" graph primitive (recommendation radius,
# contamination blast radius). Reuses #206's canonical distinct edge
# set (mining._copurchase_edge_set — one checkpointed dedup shuffle),
# symmetrized; seeds are the 3 smallest node ids (deterministic, no
# sampling); 3 FIXED frontier expansions, each a key-partitioned
# equi-join frontier x edges + distinct — the textbook BFS shape
# whose per-hop cost is |frontier| x avg-degree, never corpus^2.
# Output: 9 rows (seed x hop), the cumulative reachable-set size
# (seed included). At 100 TB the edge set is the dominant term and
# is built exactly once here.
@query(
    "khop_reach_copurchase",
    oracle="""
WITH li AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
e0 AS MATERIALIZED (
  SELECT a.l_partkey AS u, b.l_partkey AS v
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2),
e AS MATERIALIZED (SELECT u, v FROM e0 UNION ALL SELECT v AS u, u AS v FROM e0),
seeds AS MATERIALIZED (SELECT u AS s FROM (SELECT DISTINCT u FROM e ORDER BY u LIMIT 3)),
r0 AS MATERIALIZED (SELECT s, s AS node FROM seeds),
r1 AS MATERIALIZED (
  SELECT DISTINCT s, node FROM (
    SELECT s, node FROM r0
    UNION ALL
    SELECT r0.s, e.v AS node FROM r0 JOIN e ON e.u = r0.node)),
r2 AS MATERIALIZED (
  SELECT DISTINCT s, node FROM (
    SELECT s, node FROM r1
    UNION ALL
    SELECT r1.s, e.v AS node FROM r1 JOIN e ON e.u = r1.node)),
r3 AS MATERIALIZED (
  SELECT DISTINCT s, node FROM (
    SELECT s, node FROM r2
    UNION ALL
    SELECT r2.s, e.v AS node FROM r2 JOIN e ON e.u = r2.node))
SELECT s AS seed, hop, n_reach FROM (
  SELECT s, 1 AS hop, CAST(COUNT(*) AS BIGINT) AS n_reach FROM r1 GROUP BY s
  UNION ALL
  SELECT s, 2, CAST(COUNT(*) AS BIGINT) FROM r2 GROUP BY s
  UNION ALL
  SELECT s, 3, CAST(COUNT(*) AS BIGINT) FROM r3 GROUP BY s)
""",
)
def khop_reach_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    from koalas_spark.queries.mining import (
        _bfs_layer_counts,
        _copurchase_edge_set,
        graph_ckpt_level,
    )

    e0 = _copurchase_edge_set(spark, sf_dir)
    # key the symmetrized adjacency on u BEFORE checkpointing (r13):
    # every BFS hop equi-joins on e.u, and the checkpoint preserves
    # the hash partitioning, so the |2E|-row frame is exchanged once
    # here instead of once per hop (guide §2.4 — share one exchange).
    e = (
        e0.unionAll(
            e0.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        .repartition(spark.sparkContext.defaultParallelism, "u")
        .localCheckpoint(eager=False, storageLevel=graph_ckpt_level(sf_dir))
    )
    seeds = (
        e.select("u").distinct().orderBy("u").limit(3).select(
            F.col("u").alias("s")
        )
    )
    # per-hop frontier rotation + eager counts (VERDICT r10 #2): the
    # 9 (seed, hop, n) integers are bounded driver state; superseded
    # hop checkpoints are unpersisted inside _bfs_layer_counts, and
    # the per-call symmetrized edge checkpoint is released here once
    # the counts are in hand — nothing graph-sized survives the call.
    counts = _bfs_layer_counts(e, seeds, hops=3)
    e.unpersist()
    rows = [
        (int(s), int(hop), int(n)) for (s, hop), n in sorted(counts.items())
    ]
    return spark.createDataFrame(
        rows, "seed bigint, hop int, n_reach bigint"
    )


# --------------------------------------------------------------------
# 259. parquet schema evolution (mergeSchema) — the lakehouse reality
# that a column added in March must read cleanly over February's
# files. Stages two snapshot generations once per session: v1 carries
# only (event_id, ts, event_type) — the "legacy" files written before the
# value column existed (even event_ids) — and v2 adds value (odd
# event_ids). A single mergeSchema read unions the schemas, nulls
# filling the legacy rows; per-type stats prove both the fill and the
# surviving values. The oracle recomputes the expectation straight
# from the original events table (same trick as the ORC/JSONL
# round-trips), so any mis-merge shows up as a value mismatch.
@query(
    "schema_evolution_stats",
    oracle="""
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_legacy,
       CAST(CAST(SUM(CASE WHEN event_id % 2 = 1
                     THEN CAST(value AS DECIMAL(25,6)) END) AS VARCHAR)
         AS DOUBLE) AS sum_value_new
FROM events GROUP BY event_type
""",
)
def schema_evolution_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")

    def write(base: str) -> None:
        ev.filter(F.col("event_id") % 2 == 0).select(
            "event_id", "ts", "event_type"
        ).write.parquet(f"{base}/v1")
        ev.filter(F.col("event_id") % 2 == 1).select(
            "event_id", "ts", "event_type", "value"
        ).write.parquet(f"{base}/v2")

    base = staged(spark, "events_evol", (sf_dir, "events"), write, "v2/_SUCCESS")
    v1, v2 = f"{base}/v1", f"{base}/v2"
    merged = spark.read.option("mergeSchema", "true").parquet(v1, v2)
    # n_legacy counts by the partition key that DEFINES a legacy row
    # (even event_id), not by NULL-ness of the merged value column —
    # the two only coincide while the generator never emits a NULL
    # value in an odd-id row, and the defining predicate stays
    # correct if it ever does.
    return merged.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.when(F.col("event_id") % 2 == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_legacy"),
        F.sum(F.col("value").cast("decimal(25,6)"))
        .cast("string")
        .cast("double")
        .alias("sum_value_new"),
    )


# --------------------------------------------------------------------
# 260. per-group deterministic exact-k sample — the stratified twin
# of #220 doc_sample_exact_k: exactly 10 docs per language, ranked by
# the fixed md5(doc_id) permutation (portable, partition-invariant —
# everything rand() and Bernoulli coins are not). The plan is the
# rank<=k window Spark 4 rewrites with WindowGroupLimit: each map
# task keeps only its local top-k PER GROUP before the shuffle, so
# the exchange moves O(groups x k) rows, not the corpus — the
# distributed form of "top-k per key". doc_id tiebreak makes the
# order total.
@query(
    "grouped_sample_exact_k",
    oracle="""
SELECT lang, rk, doc_id, n_chars FROM (
  SELECT lang, doc_id, n_chars,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY lang
           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS INT) AS rk
  FROM documents)
WHERE rk <= 10
""",
)
def grouped_sample_exact_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        d.select(
            "lang",
            "doc_id",
            "n_chars",
            F.row_number().over(w).alias("rk"),
        )
        .filter(F.col("rk") <= 10)
        .select("lang", "rk", "doc_id", "n_chars")
    )


# --------------------------------------------------------------------
# 261. Theil-Sen robust trend of daily revenue — the
# outlier-insensitive slope estimator (median of all pairwise
# slopes). The corpus collapses to the day-DOMAIN daily-cents table
# first (one map-side-combined aggregate, same shape as #254), so the
# quadratic runs over DAYS not rows: ~2.4k days -> ~3M pairs, bounded
# by the time span at ANY corpus scale (the legitimate-quadratic
# argument: the pair count is time^2, never rows^2). Slopes are
# sign-aware half-up integer micro-cents/day ((2|dx| 1e6 + dd) //
# 2 dd — both engines floor on the non-negative form); the exact
# median is the #227 histogram trick (group by slope value,
# single-partition prefix-sum over the bounded distinct-slope table,
# pick rank ceil(n/2) — the LOWER median, documented, so no
# two-middle averaging divergence). Small broadcast self-join; no
# corpus-scale window anywhere.
@query(
    "theil_sen_daily_trend",
    oracle="""
WITH daily AS (
  SELECT date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))
           AS d,
         CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
           AS BIGINT) AS x
  FROM orders GROUP BY 1),
pairs AS (
  SELECT b.d - a.d AS dd, b.x - a.x AS dx
  FROM daily a JOIN daily b ON b.d > a.d),
slopes AS (
  SELECT CASE WHEN dx < 0 THEN -1 ELSE 1 END
         * CAST((2 * ABS(dx) * 1000000 + dd) // (2 * dd) AS BIGINT)
           AS slope
  FROM pairs),
h AS (SELECT slope, CAST(COUNT(*) AS BIGINT) AS c FROM slopes GROUP BY slope),
cum AS (
  SELECT slope, CAST(SUM(c) OVER (ORDER BY slope
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
  FROM h),
tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n_pairs FROM h),
days_n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_days FROM daily)
SELECT days_n.n_days, tot.n_pairs,
       (SELECT CAST(MIN(slope) AS BIGINT) FROM cum, tot
        WHERE cum >= (tot.n_pairs + 1) // 2) AS median_slope_micro
FROM days_n, tot
""",
)
def theil_sen_daily_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    from koalas_spark.queries.analytics import daily_revenue_table

    daily = daily_revenue_table(spark, sf_dir)
    # fan the stream side over the cores: the artifact is one split,
    # so without this the ~3M-pair slope sweep is a single
    # BroadcastNestedLoopJoin task (guide §2.6). Slopes are exact
    # integers, so the histogram is partitioning-independent.
    a = daily.repartition(spark.sparkContext.defaultParallelism).select(
        F.col("d").alias("da"), F.col("x").alias("xa")
    )
    b = daily.select(F.col("d").alias("db"), F.col("x").alias("xb"))
    pairs = a.join(F.broadcast(b), F.col("db") > F.col("da")).select(
        (F.col("db") - F.col("da")).alias("dd"),
        (F.col("xb") - F.col("xa")).alias("dx"),
    )
    slopes = pairs.select(
        (
            F.when(F.col("dx") < 0, -1).otherwise(1)
            * F.expr("(2 * ABS(dx) * 1000000 + dd) div (2 * dd)")
        )
        .cast("bigint")
        .alias("slope")
    )
    h = slopes.groupBy("slope").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    w = Window.orderBy("slope").rowsBetween(Window.unboundedPreceding, 0)
    cum = h.select("slope", F.sum("c").over(w).cast("bigint").alias("cum"))
    tot = h.agg(F.sum("c").cast("bigint").alias("n_pairs"))
    days_n = daily.agg(F.count(F.lit(1)).cast("bigint").alias("n_days"))
    med = (
        cum.crossJoin(F.broadcast(tot))
        .filter(F.col("cum") >= F.expr("(n_pairs + 1) div 2"))
        .agg(F.min("slope").cast("bigint").alias("median_slope_micro"))
    )
    return days_n.crossJoin(F.broadcast(tot)).crossJoin(F.broadcast(med))


# --------------------------------------------------------------------
# 262. CSV round-trip — the interchange format that still moves most
# tabular data between systems. Write the event stream as
# header-ed CSV with an explicit microsecond timestamp format, read
# it back with the ORIGINAL schema and the SAME format string, and
# aggregate; matching the oracle computed on the original parquet
# proves BIGINT, shortest-repr DOUBLE (Spark writes Java
# Double.toString, which re-parses to the identical bits) and
# microsecond NTZ timestamps all survive the text hop. Staged once
# per session like the ORC/JSONL twins (#255/#224).
@query(
    "csv_roundtrip_stats",
    oracle="""
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(CAST(SUM(CAST(value AS DECIMAL(25,6))) AS VARCHAR) AS DOUBLE)
         AS sum_value,
       CAST(SUM(event_id) AS BIGINT) AS sum_id,
       MIN(ts) AS min_ts
FROM events GROUP BY event_type
""",
)
def csv_roundtrip_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    ev = _t(spark, sf_dir, "events").select(
        "event_id", "ts", "event_type", "value"
    )
    path = staged(
        spark,
        "events_csv",
        (sf_dir, "events"),
        ev.write.option("header", "true")
        .option("timestampNTZFormat", fmt)
        .option("timestampFormat", fmt)
        .csv,
        "_SUCCESS",
    )
    back = (
        spark.read.schema(ev.schema)
        .option("header", "true")
        .option("timestampNTZFormat", fmt)
        .option("timestampFormat", fmt)
        .csv(path)
    )
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("value").cast("decimal(25,6)"))
        .cast("string")
        .cast("double")
        .alias("sum_value"),
        F.sum("event_id").cast("bigint").alias("sum_id"),
        F.min("ts").alias("min_ts"),
    )
