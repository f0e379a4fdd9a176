"""Round-9 batch-20 additions (SURVEY.md §2 extensions): retrieval
diversification (MMR) and the hashing-trick feature encoder — the two
ends of a training-data curation loop (retrieve diverse exemplars,
featurize them without a vocabulary).

Reference parity note: not in the reference (its surface is the frame
ops in source/koalas/dataframe.d:73-311); these extend the
retrieval/ML-feature shelves under the repo determinism rules
(queries/__init__.py docstring): nano-quantized similarities so the
greedy argmax is integer-exact, bounded driver state only (the
clustering.py:72 discipline), and md5-prefix buckets/signs for the
hashing trick (#329's audited coin).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from koalas_spark.frame import local_rows
from koalas_spark.queries import query
from koalas_spark.queries.analytics import _t

# nano-quantization of the ROUND(...,6) cosine — exact for 6-dp input
_NANO = "CAST(FLOOR({c} * 1000000000 + 0.5) AS BIGINT)"

_MMR_COS = (
    "ROUND(list_dot_product({a}.e, {b}.e)"
    " / SQRT({a}.n * {b}.n), 6)"
)

_MMR_CAND = 12
_MMR_K = 5
_MMR_LAMBDA10 = 7  # lambda = 0.7, x10 so the MMR score stays integer


def _mmr_oracle() -> str:
    """Chained-MATERIALIZED replay of the greedy MMR selection (the
    kmeans/bpe iterative-oracle pattern): each step picks the
    (7*sim_to_query - 3*max_sim_to_selected) argmax among unselected
    candidates, integer nanos, vec_id tie-break."""
    steps = []
    prev_sel = "s1"
    for k in range(2, _MMR_K + 1):
        steps.append(
            f"""p{k} AS MATERIALIZED (
  SELECT c.vec_id, c.sq,
         {_MMR_LAMBDA10} * c.sq
           - {10 - _MMR_LAMBDA10} * MAX(p.pn) AS mmr
  FROM cand c
  JOIN pairs p ON p.a = c.vec_id
  JOIN {prev_sel}_all s ON p.b = s.vec_id
  WHERE c.vec_id NOT IN (SELECT vec_id FROM {prev_sel}_all)
  GROUP BY c.vec_id, c.sq),
s{k} AS MATERIALIZED (
  SELECT vec_id, sq, {k} AS rk FROM p{k}
  ORDER BY mmr DESC, vec_id LIMIT 1),
s{k}_all AS MATERIALIZED (
  SELECT vec_id FROM {prev_sel}_all
  UNION ALL SELECT vec_id FROM s{k})"""
        )
        prev_sel = f"s{k}"
    union = "\nUNION ALL\n".join(
        f"SELECT rk, vec_id, sq FROM s{k}" for k in range(1, _MMR_K + 1)
    )
    qn = _NANO.format(c=_MMR_COS.format(a="q", b="c"))
    pn = _NANO.format(c=_MMR_COS.format(a="va", b="vb"))
    return f"""
WITH v AS MATERIALIZED (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
         list_dot_product(CAST(embedding AS DOUBLE[]),
                          CAST(embedding AS DOUBLE[])) AS n
  FROM embeddings),
q AS MATERIALIZED (SELECT * FROM v WHERE vec_id = 0),
cand AS MATERIALIZED (
  SELECT vec_id, sq FROM (
    SELECT c.vec_id, {qn} AS sq,
           ROW_NUMBER() OVER (
             ORDER BY {_MMR_COS.format(a="q", b="c")} DESC,
                      c.vec_id ASC) AS rk
    FROM v c, q WHERE c.vec_id != q.vec_id) t
  WHERE rk <= {_MMR_CAND}),
pairs AS MATERIALIZED (
  SELECT a.vec_id AS a, b.vec_id AS b, {pn} AS pn
  FROM cand a JOIN cand b ON a.vec_id != b.vec_id
  JOIN v va ON va.vec_id = a.vec_id
  JOIN v vb ON vb.vec_id = b.vec_id),
s1 AS MATERIALIZED (
  SELECT vec_id, sq, 1 AS rk FROM cand
  ORDER BY sq DESC, vec_id LIMIT 1),
s1_all AS MATERIALIZED (SELECT vec_id FROM s1),
{",".join(steps)}
SELECT CAST(rk AS INT) AS sel_rank, vec_id,
       CAST(sq AS BIGINT) AS simq_nano
FROM ({union}) ORDER BY rk
"""


# --------------------------------------------------------------------
# 356. MMR-diversified top-k retrieval — maximal marginal relevance
# over the embedding corpus: relevance from the exact-cosine top-12
# candidate pool (#42's brute-force machinery — ONE distributed pass,
# probes broadcast, corpus never self-joins), then a 5-step greedy
# that balances query similarity against redundancy with the already-
# selected set (lambda = 0.7). Similarities are nano-quantized
# integers, so the per-step argmax (7*sq - 3*max_pair) is exact with a
# vec_id tie-break; the greedy itself runs on BOUNDED driver state
# (12 candidates + 132 pair sims — the clustering.py:72 discipline).
# At 100 TB only the candidate generation touches the corpus; the
# diversification cost is k * |cand|, independent of corpus size.
@query("mmr_diversified_topk", oracle=_mmr_oracle())
def mmr_diversified_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from koalas_spark.operators.similarity import brute_force_topk

    emb = _t(spark, sf_dir, "embeddings")
    probe = emb.filter(F.col("vec_id") == 0)
    cand = brute_force_topk(
        emb, probe, "vec_id", "embedding", k=_MMR_CAND
    ).select(
        F.col("neighbor_id").alias("vec_id"),
        F.floor(F.col("cos_sim") * 1000000000 + 0.5)
        .cast("bigint")
        .alias("sq"),
    )
    from koalas_spark.functions.vectorfn import as_double, norm_sq, rounded_cosine

    cvec = cand.join(emb, "vec_id").select("vec_id", "sq", "embedding")
    e = as_double(F.col("embedding"))
    a = cvec.select(F.col("vec_id").alias("a"), e.alias("ea"), norm_sq(e).alias("na"))
    b = cvec.select(F.col("vec_id").alias("b"), e.alias("eb"), norm_sq(e).alias("nb"))
    pairs = (
        a.crossJoin(b)
        .filter(F.col("a") != F.col("b"))
        .select(
            "a",
            "b",
            F.floor(
                rounded_cosine(F.col("ea"), F.col("eb"), F.col("na"), F.col("nb"))
                * 1000000000
                + 0.5
            )
            .cast("bigint")
            .alias("pn"),
        )
    )
    # bounded driver state: 12 candidates + 132 pair sims
    cand_rows = [(r["vec_id"], r["sq"]) for r in cand.collect()]
    pn = {(r["a"], r["b"]): r["pn"] for r in pairs.collect()}
    sq = dict(cand_rows)
    selected: list[tuple[int, int]] = []
    first = max(cand_rows, key=lambda t: (t[1], -t[0]))
    selected.append((1, first[0]))
    chosen = {first[0]}
    for k in range(2, _MMR_K + 1):
        best = None
        for vid, s in sorted(cand_rows):
            if vid in chosen:
                continue
            mmr = _MMR_LAMBDA10 * s - (10 - _MMR_LAMBDA10) * max(
                pn[(vid, c)] for c in chosen
            )
            if best is None or mmr > best[0] or (
                mmr == best[0] and vid < best[1]
            ):
                best = (mmr, vid)
        selected.append((k, best[1]))
        chosen.add(best[1])
    out = [(rk, vid, int(sq[vid])) for rk, vid in selected]
    schema = "sel_rank int, vec_id bigint, simq_nano bigint"
    return local_rows(spark, out, schema).orderBy("sel_rank")


# --------------------------------------------------------------------
# 357. hashing-trick feature encoder — vocabulary-free featurization
# (the production path when the token universe is unbounded): every
# token maps to one of 256 buckets by its md5 prefix, with a +/-1 sign
# from the next hex digit (the signed hashing trick keeps collision
# noise zero-mean). Buckets and signs are STRING comparisons on the
# md5 hex — the same portable coin every sampler here uses — so both
# engines agree exactly; outputs are exact integers. One
# map-side-combined groupBy over the exploded tokens.
@query(
    "feature_hashing_counts",
    oracle="""
WITH tok AS (
  SELECT unnest(string_split_regex(TRIM(text), '\\s+')) AS token
  FROM documents),
h AS (
  SELECT substr(md5(token), 1, 2) AS bucket,
         CASE WHEN substr(md5(token), 3, 1) < '8' THEN 1 ELSE -1 END
           AS sgn,
         token
  FROM tok)
SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(SUM(sgn) AS BIGINT) AS signed_sum,
       CAST(COUNT(DISTINCT token) AS BIGINT) AS n_distinct
FROM h GROUP BY bucket ORDER BY bucket
""",
)
def feature_hashing_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from koalas_spark.functions.textfn import tokens

    d = _t(spark, sf_dir, "documents")
    h = d.select(
        F.explode(tokens(F.col("text"))).alias("token")
    ).select(
        F.substring(F.md5("token"), 1, 2).alias("bucket"),
        F.when(F.substring(F.md5("token"), 3, 1) < "8", 1)
        .otherwise(-1)
        .alias("sgn"),
        "token",
    )
    return (
        h.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.sum("sgn").cast("bigint").alias("signed_sum"),
            F.countDistinct("token").cast("bigint").alias("n_distinct"),
        )
        .orderBy("bucket")
    )
