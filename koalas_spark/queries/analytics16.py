"""Round-8 batch-11 additions (SURVEY.md §2 extensions): multi-touch
time-decay attribution, a MinHash estimator-error audit, and an
Arrow-native (mapInArrow) int8 quantization error scan.

Reference parity note: none of these exist in the reference (its
surface is the frame ops in source/koalas/dataframe.d:73-311); they
extend the engine toward the marketing-science / sketch-QA /
embedding-compression workloads the brief mandates, under the repo
determinism rules (queries/__init__.py docstring). The exp() in the
decay weight follows the #221 transcendental discipline: one fixed
double expression per value, floor-quantized to integer nanos BEFORE
any sum, so the reduction is order-independent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from koalas_spark.queries import query
from koalas_spark.queries.analytics import _t
from koalas_spark.queries.dedup import _MH_SIG_CTES


# --------------------------------------------------------------------
# 272. multi-touch time-decay attribution — the marketing-science
# upgrade of #96 first-touch: every purchase distributes ONE unit of
# credit over that user's touches (non-purchase events) in the prior
# 7 days, weighted exp(-age/2d). The touch-to-conversion pairing is
# an equi-join on user_id with a time-range filter (key-partitioned;
# per-user work bounded by events-per-user x window, never corpus^2).
# Weights are nano-quantized BEFORE summing (order-independent), the
# per-conversion normalization is a non-negative integer div (weights
# are >= 3e7 nanos inside the 7d window, so no zero denominators),
# and the report aggregates integer ppm shares per touch type.
# Timestamps go through per-value FLOOR(epoch) on BOTH engines (the
# floor-of-difference vs difference-of-floors trap).
@query(
    "time_decay_attribution",
    oracle="""
WITH ev AS (
  SELECT event_id, user_id, event_type,
         CAST(FLOOR(epoch(ts)) AS BIGINT) AS sec
  FROM events),
conv AS (SELECT event_id AS cid, user_id, sec AS csec FROM ev
         WHERE event_type = 'purchase'),
touch AS (SELECT event_id AS tid, user_id, event_type, sec AS tsec FROM ev
          WHERE event_type <> 'purchase'),
pair AS (
  SELECT conv.cid, touch.tid, touch.event_type,
         CAST(FLOOR(1000000000
                    * EXP(-CAST(conv.csec - touch.tsec AS DOUBLE)
                          / 172800.0)) AS BIGINT) AS w_nano
  FROM conv JOIN touch
    ON conv.user_id = touch.user_id
   AND touch.tsec < conv.csec
   AND conv.csec - touch.tsec <= 604800),
tot AS (SELECT cid, CAST(SUM(w_nano) AS BIGINT) AS tot_nano
        FROM pair GROUP BY cid),
share AS (
  SELECT pair.event_type,
         1000000 * pair.w_nano // tot.tot_nano AS share_ppm
  FROM pair JOIN tot ON pair.cid = tot.cid)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_touches,
       CAST(SUM(share_ppm) AS BIGINT) AS credit_ppm_total
FROM share GROUP BY event_type
""",
)
def time_decay_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        F.col("ts").cast("long").alias("sec"),
    )
    conv = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("cid"), "user_id", F.col("sec").alias("csec")
    )
    touch = ev.filter(F.col("event_type") != "purchase").select(
        F.col("event_id").alias("tid"),
        "user_id",
        "event_type",
        F.col("sec").alias("tsec"),
    )
    pair = conv.join(
        touch,
        (conv.user_id == touch.user_id)
        & (F.col("tsec") < F.col("csec"))
        & (F.col("csec") - F.col("tsec") <= 604800),
    ).select(
        "cid",
        "tid",
        "event_type",
        F.floor(
            1000000000
            * F.exp(
                -(F.col("csec") - F.col("tsec")).cast("double") / 172800.0
            )
        )
        .cast("bigint")
        .alias("w_nano"),
    )
    tot = pair.groupBy("cid").agg(
        F.sum("w_nano").cast("bigint").alias("tot_nano")
    )
    share = pair.join(tot, "cid").select(
        "event_type", F.expr("1000000 * w_nano div tot_nano").alias("share_ppm")
    )
    return share.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_touches"),
        F.sum("share_ppm").cast("bigint").alias("credit_ppm_total"),
    )


# --------------------------------------------------------------------
# 273. MinHash estimator-error audit — the sketch-QA twin of #210
# DOULION's measured error bound and #249's KMV-vs-exact report: for
# every LSH candidate pair (#38's machinery, unchanged), the
# 64-permutation MinHash Jaccard ESTIMATE (matching signature slots /
# 64) next to the EXACT shingle Jaccard, both as integer ppm, plus
# the signed error. This is the audit that justifies the LSH
# threshold choice: the estimate's quantization step is 1/64 =
# 15,625 ppm, so |err| should stay within a few steps. Corpus work
# is the same one-pass signature map as #38; the audit runs on the
# bounded candidate-pair set.
@query(
    "minhash_estimate_audit",
    oracle=f"""
WITH {_MH_SIG_CTES},
bnd AS MATERIALIZED (
  SELECT doc_id, p,
         [sig[4*p+1], sig[4*p+2], sig[4*p+3], sig[4*p+4]] AS key
  FROM sig, unnest(range(0, 16)) AS u(p)),
okb AS (SELECT p, key FROM (SELECT p, key, COUNT(*) AS n FROM bnd GROUP BY p, key) c
        WHERE n >= 2 AND n <= 1000),
cand AS MATERIALIZED (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bnd a
  JOIN okb ON okb.p = a.p AND okb.key = a.key
  JOIN bnd b ON b.p = a.p AND b.key = a.key AND a.doc_id < b.doc_id),
est AS (
  SELECT cand.id_a, cand.id_b,
         1000000 * CAST(list_sum(list_transform(range(1, 65),
             i -> CASE WHEN x.sig[i] = y.sig[i] THEN 1 ELSE 0 END))
           AS BIGINT) // 64 AS est_ppm
  FROM cand JOIN sig x ON x.doc_id = cand.id_a
            JOIN sig y ON y.doc_id = cand.id_b),
ext AS (
  SELECT cand.id_a, cand.id_b,
         1000000 * CAST(LEN(list_filter(x.hs, v -> list_contains(y.hs, v)))
           AS BIGINT)
         // (LEN(x.hs) + LEN(y.hs)
             - LEN(list_filter(x.hs, v -> list_contains(y.hs, v))))
           AS exact_ppm
  FROM cand JOIN sh x ON x.doc_id = cand.id_a
            JOIN sh y ON y.doc_id = cand.id_b)
SELECT est.id_a, est.id_b, est.est_ppm, ext.exact_ppm,
       CAST(est.est_ppm - ext.exact_ppm AS BIGINT) AS err_ppm
FROM est JOIN ext ON est.id_a = ext.id_a AND est.id_b = ext.id_b
""",
)
def minhash_estimate_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from koalas_spark.operators.dedup import lsh_candidate_pairs
    from koalas_spark.queries.dedup import minhash_sig_table

    # session-shared shingle/signature artifact (r13): the audit's own
    # LSH banding + estimate-vs-exact joins stay per-call
    base, sigs = minhash_sig_table(spark, sf_dir)
    cand = lsh_candidate_pairs(sigs, bands=16, rows=4)
    sx = sigs.select(F.col("id").alias("id_a"), F.col("sig").alias("sa"))
    sy = sigs.select(F.col("id").alias("id_b"), F.col("sig").alias("sb"))
    est = (
        cand.join(sx, "id_a")
        .join(sy, "id_b")
        .select(
            "id_a",
            "id_b",
            F.expr(
                "1000000 * aggregate(zip_with(sa, sb,"
                " (x, y) -> IF(x = y, 1L, 0L)), 0L, (acc, v) -> acc + v)"
                " div 64"
            ).alias("est_ppm"),
        )
    )
    hx = base.select(F.col("id").alias("id_a"), F.col("shingles").alias("ha"))
    hy = base.select(F.col("id").alias("id_b"), F.col("shingles").alias("hb"))
    ext = (
        cand.join(hx, "id_a")
        .join(hy, "id_b")
        .select(
            "id_a",
            "id_b",
            F.expr(
                "1000000 * CAST(size(array_intersect(ha, hb)) AS BIGINT)"
                " div (size(ha) + size(hb) - size(array_intersect(ha, hb)))"
            ).alias("exact_ppm"),
        )
    )
    return est.join(ext, ["id_a", "id_b"]).select(
        "id_a",
        "id_b",
        "est_ppm",
        "exact_ppm",
        (F.col("est_ppm") - F.col("exact_ppm")).cast("bigint").alias(
            "err_ppm"
        ),
    )


# --------------------------------------------------------------------
# 274. Arrow-native int8 quantization error scan — the compression
# QA a vector-store migration runs before switching embeddings to
# int8: per-value code = clip(trunc(x * 256), +-127), error measured
# in the 2^20 fixed-point grid (err = trunc(x * 2^20) - code * 4096).
# Implemented with mapInArrow (the zero-copy Arrow twin of
# mapInPandas — this is the repo's PythonMapInArrow API coverage):
# each RecordBatch flattens its list<float> column to one numpy
# vector, emits ONE partial-stats row (n, clipped, sum|err|, max|err|,
# per-batch exact integer sums), and a final integer reduce
# aggregates. The FIXED scale (not per-batch max) is what makes the
# result partition-invariant — a per-batch scale would change with
# batch boundaries. Constant 1-row output.
@query(
    "int8_quant_error_scan",
    oracle="""
WITH v AS (
  SELECT CAST(trunc(CAST(unnest(embedding) AS DOUBLE) * 1048576) AS BIGINT)
           AS vq,
         LEAST(GREATEST(CAST(trunc(CAST(unnest(embedding) AS DOUBLE) * 256)
           AS BIGINT), -127), 127) AS code
  FROM embeddings),
e AS (
  SELECT vq, code, ABS(vq - code * 4096) AS aerr,
         CASE WHEN vq > 127 * 4096 OR vq < -127 * 4096 THEN 1 ELSE 0 END
           AS clipped
  FROM v)
SELECT CAST(COUNT(*) AS BIGINT) AS n_vals,
       CAST(SUM(clipped) AS BIGINT) AS n_clipped,
       CAST(SUM(aerr) AS BIGINT) AS sum_abs_err,
       CAST(MAX(aerr) AS BIGINT) AS max_abs_err
FROM e
""",
    # the mapInArrow (MapInArrow) stage is the API under test; it emits
    # one partial-stats row per Arrow batch
    allow={"Python"},
)
def int8_quant_error_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings").select("embedding")

    def batch_stats(batches):
        import numpy as np
        import pyarrow as pa

        for batch in batches:
            col = batch.column(0)
            flat = col.flatten() if hasattr(col, "flatten") else col
            x = flat.to_numpy(zero_copy_only=False).astype(np.float64)
            if x.size == 0:
                continue
            vq = np.trunc(x * 1048576).astype(np.int64)
            raw = np.trunc(x * 256).astype(np.int64)
            code = np.clip(raw, -127, 127)
            aerr = np.abs(vq - code * 4096)
            clipped = ((vq > 127 * 4096) | (vq < -127 * 4096)).sum()
            yield pa.RecordBatch.from_pydict(
                {
                    "n_part": pa.array([int(x.size)], pa.int64()),
                    "clip_part": pa.array([int(clipped)], pa.int64()),
                    "sum_part": pa.array([int(aerr.sum())], pa.int64()),
                    "max_part": pa.array([int(aerr.max())], pa.int64()),
                }
            )

    partials = e.mapInArrow(
        batch_stats,
        schema="n_part long, clip_part long, sum_part long, max_part long",
    )
    return partials.agg(
        F.sum("n_part").cast("bigint").alias("n_vals"),
        F.sum("clip_part").cast("bigint").alias("n_clipped"),
        F.sum("sum_part").cast("bigint").alias("sum_abs_err"),
        F.max("max_part").cast("bigint").alias("max_abs_err"),
    )
