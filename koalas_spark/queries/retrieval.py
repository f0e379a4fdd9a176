"""Retrieval-layer queries over the documents corpus: BM25 ranked
search against the token index, and cross-document boilerplate n-gram
detection (the template/navigation-chrome removal step of a web
pre-training pipeline).

Reference parity note: the reference (blachlylab/koalas) has no IR
layer; these extend the §2.5 text-analysis family the same way
tfidf_top_terms/inverted_index do, reusing its determinism
conventions (integer-scaled idf rationals — dataframe.d has no
floating aggregates to mirror, and libm log is not correctly-rounded
across engines, so ranking math stays in BIGINT end-to-end).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from koalas_spark.frame import local_rows
from koalas_spark.functions.textfn import token_count, tokens, word_shingles
from koalas_spark.memo import artifact
from koalas_spark.queries import query
from koalas_spark.queries.analytics import _t
from koalas_spark.queries.text import _BPE_RE

_BPE_ORACLE = _BPE_RE.replace("'", "''")

# The benchmark query set: (query_id, term). 'dup' is the one rare
# term in the corpus vocabulary (df ~26 vs ~900 for everything else),
# so q0 exercises the idf contrast; q1/q2 are uniform-df queries where
# the tf-normalization decides the ranking.
_QUERIES: list[tuple[int, str]] = [
    (0, "hash"),
    (0, "join"),
    (0, "dup"),
    (1, "window"),
    (1, "sort"),
    (1, "merge"),
    (2, "table"),
    (2, "scan"),
    (2, "filter"),
]

_Q_VALUES = ", ".join(f"({qid}, '{t}')" for qid, t in _QUERIES)


# --------------------------------------------------------------------
# 148. BM25 top-k retrieval. Plan shape for a 100 TB corpus:
#   1. the query-term table broadcasts onto the exploded token stream,
#      so everything NOT matching a query term dies before the first
#      shuffle (in a real corpus query terms are a vanishing fraction
#      of the token stream; here the tiny vocab makes the prune mild);
#   2. ONE shuffle on (term, doc_id) builds tf with map-side combine;
#      df derives from the materialized tf frame (count of rows per
#      term — already distinct by construction), not a second pass;
#   3. doc length comes straight off the documents scan (no explode),
#      and corpus totals (N docs, T tokens) are a 1-row broadcast;
#   4. per-(query, doc) scores are an integer SUM — order-independent,
#      so any partitioning gives the identical ranking.
# Scoring is the BM25 shape (k1=1.2, b=0.75) with the Robertson idf's
# rational core kept UN-logged and integer-scaled — ln() is not
# correctly rounded in libm/JVM, and a monotone transform of the
# per-term weight is the price of a bit-exact cross-engine oracle:
#   idf_s   = (2*(N-df)+1) * 1000 div (2*df+1)        # (N-df+.5)/(df+.5)
#   tfnorm  = 22*tf*T*1000 div (10*tf*T + 3*T + 9*dl*N)
#             # == 1000 * tf*(k1+1) / (tf + k1*(1-b+b*dl/avgdl))
#   score   = SUM over query terms of idf_s * tfnorm
# Overflow headroom: 22*tf*T*1000 needs tf*T < 4e14; per-doc tf is
# bounded by doc length (~1e3), so T (corpus tokens) can reach ~4e11
# before the numerator nears int64 — beyond that, drop the x1000 tfnorm
# scale (documented seam, not hit at any bench SF).
@query(
    "bm25_topk",
    oracle=f"""
WITH q(query_id, term) AS (VALUES {_Q_VALUES}),
tok AS (SELECT doc_id, unnest(string_split_regex(TRIM(text), '\\s+')) AS term
        FROM documents),
qt AS (SELECT DISTINCT term FROM q),
tf AS (SELECT term, doc_id, COUNT(*) AS tf
       FROM tok JOIN qt USING (term) GROUP BY term, doc_id),
dfq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
dl AS (SELECT doc_id, LEN(string_split_regex(TRIM(text), '\\s+')) AS dl
       FROM documents),
st AS (SELECT COUNT(*) AS n, SUM(dl) AS t FROM dl),
scored AS (
  SELECT q.query_id, tf.doc_id,
         SUM(((2 * (st.n - dfq.df) + 1) * 1000 // (2 * dfq.df + 1))
             * ((22 * tf.tf * st.t * 1000)
                // (10 * tf.tf * st.t + 3 * st.t + 9 * dl.dl * st.n)))
           AS score
  FROM tf JOIN q USING (term)
          JOIN dfq USING (term)
          JOIN dl ON dl.doc_id = tf.doc_id
          CROSS JOIN st
  GROUP BY q.query_id, tf.doc_id)
SELECT query_id, doc_id, CAST(score AS BIGINT) AS score, rk FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY score DESC, doc_id ASC) AS rk
  FROM scored) t
WHERE rk <= 5
""",
)
def bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    scored = _bm25_scored(spark, sf_dir)
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .select("query_id", "doc_id", "score", "rk")
    )


def _bm25_parts(
    spark: SparkSession, sf_dir: str, rebuild: bool = False
) -> tuple[DataFrame, DataFrame]:
    """#148's integer BM25 machinery: (tf frame, scored frame). tf is
    the checkpointed (term, doc_id, tf) posting slice for query terms;
    scored is the pre-window (query_id, doc_id, score) for every doc
    matching >= 1 query term. Shared by bm25_topk and the
    retrieval-eval ops (#467-469) so all of them rank the exact same
    scores — and so the eval ops can derive their relevance labels
    from tf instead of a second corpus pass.

    A session artifact (koalas_spark.memo): four queries consume the
    identical scoring pipeline, and it is a pure function of the
    documents table plus the fixed query set. ``rebuild=True``
    bypasses the store (parity test)."""
    if rebuild:
        return _bm25_build(spark, sf_dir)

    def build():
        tf, scored = _bm25_build(spark, sf_dir)
        # the scored frame is (query, matching-doc)-sized — checkpoint
        # it so the store's later consumers skip the scoring joins too
        return tf, scored.localCheckpoint(eager=False)

    return artifact(spark, "bm25", (sf_dir, "documents"), build)


def _bm25_build(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    d = _t(spark, sf_dir, "documents")
    q = spark.createDataFrame(_QUERIES, "query_id int, term string")
    # r14 (guide §2.3 "project before you generate"): the query-term
    # set is a fixed 9-term literal, so the membership test runs
    # INSIDE the token array (one In per element) and only matching
    # tokens are ever exploded into rows — the old shape exploded
    # every token of every document into a row and culled them one
    # broadcast-hash probe later. Value-identical: a token survives
    # the array filter iff it equals a distinct query term, which is
    # exactly the old inner join against qt.
    qterms = sorted({t for _, t in _QUERIES})
    tok = d.select(
        "doc_id",
        F.explode(
            F.filter(tokens(F.col("text")), lambda t: t.isin(*qterms))
        ).alias("term"),
    )
    tf = (
        tok.groupBy("term", "doc_id")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint(eager=False)  # feeds df, the score join, rel
    )
    dfq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    dl = d.select("doc_id", token_count(F.col("text")).alias("dl"))
    st = dl.agg(
        F.count(F.lit(1)).alias("n"), F.sum("dl").alias("t")
    )
    idf_s = F.expr("(2 * (n - df) + 1) * 1000 div (2 * df + 1)")
    tfnorm = F.expr(
        "(22 * tf * t * 1000) div (10 * tf * t + 3 * t + 9 * dl * n)"
    )
    scored = (
        tf.join(F.broadcast(q), "term")
        .join(F.broadcast(dfq), "term")
        .join(dl, "doc_id")
        .crossJoin(st)
        .groupBy("query_id", "doc_id")
        .agg(F.sum(idf_s * tfnorm).alias("score"))
    )
    return tf, scored


def _bm25_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _bm25_parts(spark, sf_dir)[1]


def _relevance(spark: SparkSession, tf: DataFrame) -> DataFrame:
    """Graded pseudo-relevance labels for the benchmark queries:
    rel(query, doc) = number of the query's DISTINCT terms present in
    the doc (1..3 — docs matching no term are unlabeled). Purely
    term-presence-derived, so both engines agree exactly; this is the
    judgment set the eval ops (#467-469) grade rankings against.

    ``tf`` is #148's (term, doc_id, tf) posting slice (r13, guide §1.2
    "don't compute things twice"): a (term, doc) appears in tf iff the
    doc contains the term, so COUNT per (query, doc) over tf ⋈ q is
    value-identical to re-exploding the corpus, and the eval ops pay
    one full-corpus pass."""
    q = spark.createDataFrame(_QUERIES, "query_id int, term string")
    return (
        tf.join(F.broadcast(q), "term")
        .groupBy("query_id", "doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("rel"))
    )


# integer nDCG discounts: disc(i) = floor(1e9 / log2(i + 1)) for rank
# i = 1..10, precomputed as LITERALS in both engines (log2 is libm and
# not correctly rounded; ten constants beat a cross-engine ulp hazard)
_NDCG_DISC = [
    (1, 1000000000),
    (2, 630929753),
    (3, 500000000),
    (4, 430676558),
    (5, 386852807),
    (6, 356207187),
    (7, 333333333),
    (8, 315464876),
    (9, 301029995),
    (10, 289064826),
]
_DISC_VALUES = ", ".join(f"({i}, {v})" for i, v in _NDCG_DISC)

# the #148 BM25 scoring + graded-relevance CTE prefix shared by the
# three eval oracles (identical text => identical plans in DuckDB)
_EVAL_PREFIX = f"""
WITH q(query_id, term) AS (VALUES {_Q_VALUES}),
tok AS (SELECT doc_id, unnest(string_split_regex(TRIM(text), '\\s+')) AS term
        FROM documents),
qt AS (SELECT DISTINCT term FROM q),
tf AS (SELECT term, doc_id, COUNT(*) AS tf
       FROM tok JOIN qt USING (term) GROUP BY term, doc_id),
dfq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
dl AS (SELECT doc_id, LEN(string_split_regex(TRIM(text), '\\s+')) AS dl
       FROM documents),
st AS (SELECT COUNT(*) AS n, SUM(dl) AS t FROM dl),
scored AS (
  SELECT q.query_id, tf.doc_id,
         SUM(((2 * (st.n - dfq.df) + 1) * 1000 // (2 * dfq.df + 1))
             * ((22 * tf.tf * st.t * 1000)
                // (10 * tf.tf * st.t + 3 * st.t + 9 * dl.dl * st.n)))
           AS score
  FROM tf JOIN q USING (term)
          JOIN dfq USING (term)
          JOIN dl ON dl.doc_id = tf.doc_id
          CROSS JOIN st
  GROUP BY q.query_id, tf.doc_id),
ranked AS (
  SELECT query_id, doc_id,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id ASC) AS rk
  FROM scored),
rel AS (
  SELECT query_id, doc_id, CAST(COUNT(*) AS BIGINT) AS rel FROM (
    SELECT DISTINCT q.query_id, tok.doc_id, q.term
    FROM tok JOIN q USING (term)) t
  GROUP BY query_id, doc_id)
"""


# --------------------------------------------------------------------
# 467. nDCG@10 ranking-quality evaluation — the metric every
# retrieval deployment reports, over #148's BM25 ranking graded
# against the term-presence relevance labels (rel = distinct query
# terms present, 1..3). DCG = SUM rel_i * disc(i) over the top-10;
# the ideal DCG re-sorts the FULL labeled set by rel (ties by doc_id
# — swap-free for equal rel, so the tie pin is cosmetic); the rank
# discounts 1/log2(i+1) are ten precomputed integer LITERALS (libm
# log2 is not correctly rounded cross-engine). ndcg_ppm = dcg * 1e6
# div idcg — integers end-to-end. Plan: the #148 scoring pipeline
# (one (term,doc) shuffle) + a partitioned top-10 window + one rel
# aggregate; the final 3-row eval is a bounded rollup.
@query(
    "ndcg_at_10_eval",
    oracle=_EVAL_PREFIX
    + f""",
disc(rk, d) AS (VALUES {_DISC_VALUES}),
dcg AS (
  SELECT r.query_id,
         CAST(SUM(rel.rel * disc.d) AS BIGINT) AS dcg
  FROM ranked r
  JOIN rel ON rel.query_id = r.query_id AND rel.doc_id = r.doc_id
  JOIN disc ON disc.rk = r.rk
  WHERE r.rk <= 10
  GROUP BY r.query_id),
ideal AS (
  SELECT query_id, doc_id, rel,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY rel DESC, doc_id ASC) AS irk
  FROM rel),
idcg AS (
  SELECT i.query_id, CAST(SUM(i.rel * disc.d) AS BIGINT) AS idcg
  FROM ideal i JOIN disc ON disc.rk = i.irk
  WHERE i.irk <= 10
  GROUP BY i.query_id)
SELECT dcg.query_id, dcg.dcg, idcg.idcg,
       CAST(dcg.dcg * 1000000 // idcg.idcg AS BIGINT) AS ndcg_ppm
FROM dcg JOIN idcg ON idcg.query_id = dcg.query_id
ORDER BY dcg.query_id
""",
)
def ndcg_at_10_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    tf, scored = _bm25_parts(spark, sf_dir)
    rel = _relevance(spark, tf).localCheckpoint(
        eager=False
    )  # feeds both the DCG join and the ideal ranking
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    ranked = (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 10)
        .select("query_id", "doc_id", "rk")
    )
    disc = spark.createDataFrame(_NDCG_DISC, "rk int, d bigint")
    dcg = (
        ranked.join(rel, ["query_id", "doc_id"])
        .join(F.broadcast(disc), "rk")
        .groupBy("query_id")
        .agg(F.sum(F.col("rel") * F.col("d")).cast("bigint").alias("dcg"))
    )
    wi = Window.partitionBy("query_id").orderBy(
        F.col("rel").desc(), F.col("doc_id").asc()
    )
    ideal = (
        rel.withColumn("irk", F.row_number().over(wi))
        .filter(F.col("irk") <= 10)
        .withColumnRenamed("irk", "rk")
    )
    idcg = (
        ideal.join(F.broadcast(disc), "rk")
        .groupBy("query_id")
        .agg(F.sum(F.col("rel") * F.col("d")).cast("bigint").alias("idcg"))
    )
    return (
        dcg.join(idcg, "query_id")
        .select(
            "query_id",
            "dcg",
            "idcg",
            F.expr("CAST(dcg * 1000000 div idcg AS BIGINT)").alias(
                "ndcg_ppm"
            ),
        )
        .orderBy("query_id")
    )


# --------------------------------------------------------------------
# 468. MRR on the full-match target — reciprocal rank of the FIRST
# doc containing ALL of a query's terms in #148's BM25 ranking (the
# known-item-search eval: "how deep does the user scroll before the
# complete answer"). first_rank = MIN rank among rel == n_terms docs
# over the UNBOUNDED ranking; rr_ppm = 1e6 div first_rank, 0 when no
# doc matches all terms (LEFT join keeps the query row). Same scoring
# pipeline as #467; the min-rank collapse is a bounded aggregate.
@query(
    "mrr_full_match",
    oracle=_EVAL_PREFIX
    + """,
nt AS (SELECT query_id, CAST(COUNT(DISTINCT term) AS BIGINT) AS n_terms
       FROM q GROUP BY query_id),
hit AS (
  SELECT r.query_id, CAST(MIN(r.rk) AS BIGINT) AS first_rank
  FROM ranked r
  JOIN rel ON rel.query_id = r.query_id AND rel.doc_id = r.doc_id
  JOIN nt ON nt.query_id = r.query_id
  WHERE rel.rel = nt.n_terms
  GROUP BY r.query_id)
SELECT nt.query_id, nt.n_terms, hit.first_rank,
       CAST(COALESCE(1000000 // hit.first_rank, 0) AS BIGINT) AS rr_ppm
FROM nt LEFT JOIN hit ON hit.query_id = nt.query_id
ORDER BY nt.query_id
""",
)
def mrr_full_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    tf, scored = _bm25_parts(spark, sf_dir)
    rel = _relevance(spark, tf)
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    ranked = scored.withColumn("rk", F.row_number().over(w)).select(
        "query_id", "doc_id", "rk"
    )
    q = spark.createDataFrame(_QUERIES, "query_id int, term string")
    nt = q.groupBy("query_id").agg(
        F.countDistinct("term").cast("bigint").alias("n_terms")
    )
    hit = (
        ranked.join(rel, ["query_id", "doc_id"])
        .join(F.broadcast(nt), "query_id")
        .filter(F.col("rel") == F.col("n_terms"))
        .groupBy("query_id")
        .agg(F.min("rk").cast("bigint").alias("first_rank"))
    )
    return (
        nt.join(hit, "query_id", "left")
        .select(
            "query_id",
            "n_terms",
            "first_rank",
            F.coalesce(
                F.expr("CAST(1000000 div first_rank AS BIGINT)"), F.lit(0)
            )
            .cast("bigint")
            .alias("rr_ppm"),
        )
        .orderBy("query_id")
    )


# --------------------------------------------------------------------
# 469. precision / recall at k — the cutoff-quality table (k = 5 and
# 10) over #148's ranking with binary relevance rel >= 1: p@k =
# hits-in-top-k / k, r@k = hits-in-top-k / total-relevant, both in
# exact ppm. Every doc in the BM25 ranking matches >= 1 term, so p@k
# here measures ranking DEPTH vs the labeled pool, and r@k the pool
# coverage — the sanity pair read next to #467's graded nDCG.
@query(
    "precision_recall_at_k",
    oracle=_EVAL_PREFIX
    + """,
ks(k) AS (VALUES (5), (10)),
tot AS (SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_rel
        FROM rel GROUP BY query_id),
hits AS (
  SELECT r.query_id, ks.k, CAST(COUNT(*) AS BIGINT) AS n_hit
  FROM ranked r
  JOIN rel ON rel.query_id = r.query_id AND rel.doc_id = r.doc_id
  CROSS JOIN ks
  WHERE r.rk <= ks.k
  GROUP BY r.query_id, ks.k)
SELECT h.query_id, CAST(h.k AS INT) AS k, h.n_hit, t.n_rel,
       CAST(h.n_hit * 1000000 // h.k AS BIGINT) AS p_at_k_ppm,
       CAST(h.n_hit * 1000000 // t.n_rel AS BIGINT) AS r_at_k_ppm
FROM hits h JOIN tot t ON t.query_id = h.query_id
ORDER BY h.query_id, k
""",
    # 2-row k-dimension frame cross-joined onto the per-query hits
    allow={"BroadcastNestedLoopJoin"},
)
def precision_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    tf, scored = _bm25_parts(spark, sf_dir)
    rel = _relevance(spark, tf)
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    ranked = scored.withColumn("rk", F.row_number().over(w)).select(
        "query_id", "doc_id", "rk"
    )
    ks = spark.createDataFrame([(5,), (10,)], "k int")
    tot = rel.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rel")
    )
    hits = (
        ranked.join(rel, ["query_id", "doc_id"])
        .crossJoin(F.broadcast(ks))
        .filter(F.col("rk") <= F.col("k"))
        .groupBy("query_id", "k")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_hit"))
    )
    return (
        hits.join(tot, "query_id")
        .select(
            "query_id",
            "k",
            "n_hit",
            "n_rel",
            F.expr("CAST(n_hit * 1000000 div k AS BIGINT)").alias(
                "p_at_k_ppm"
            ),
            F.expr("CAST(n_hit * 1000000 div n_rel AS BIGINT)").alias(
                "r_at_k_ppm"
            ),
        )
        .orderBy("query_id", "k")
    )


# --------------------------------------------------------------------
# 470. Dirichlet-smoothed query-likelihood ranking (Zhai & Lafferty) —
# the LM-based retrieval model next to #148's BM25: score(q, d) =
# SUM_t ln p(t|d) with p(t|d) = (tf + mu*cf_t/C) / (dl + mu), mu =
# 2000. Computed in the SPARSE decomposition (the textbook trick that
# makes QL scale like BM25 — only matching terms shuffle):
#   score = SUM_{t in q, tf>0} ln(1 + tf*C/(mu*cf_t))
#           + |q| * ln(mu/(dl + mu))
# Each ln argument is a ratio of exact int64 products ((mu*cf + tf*C)
# / (mu*cf); (dl+mu)/mu), nano-quantized per term/doc (#221
# discipline) BEFORE the sum, so the score is an order-independent
# exact integer. Candidates are docs matching >= 1 term (standard QL
# deployments rank candidates, not the corpus). Headroom: tf*C and
# mu*cf stay under 2^63 to C ~ 4e15 corpus tokens.
@query(
    "query_likelihood_dirichlet",
    oracle=f"""
WITH q(query_id, term) AS (VALUES {_Q_VALUES}),
tok AS (SELECT doc_id, unnest(string_split_regex(TRIM(text), '\\s+')) AS term
        FROM documents),
qt AS (SELECT DISTINCT term FROM q),
tf AS (SELECT term, doc_id, CAST(COUNT(*) AS BIGINT) AS tf
       FROM tok JOIN qt USING (term) GROUP BY term, doc_id),
cf AS (SELECT term, CAST(SUM(tf) AS BIGINT) AS cf FROM tf GROUP BY term),
dl AS (SELECT doc_id, LEN(string_split_regex(TRIM(text), '\\s+')) AS dl
       FROM documents),
ct AS (SELECT CAST(SUM(dl) AS BIGINT) AS c FROM dl),
tnano AS (
  SELECT tf.term, tf.doc_id,
         CAST(FLOOR(LN(CAST(2000 * cf.cf + tf.tf * ct.c AS DOUBLE)
                       / CAST(2000 * cf.cf AS DOUBLE))
                    * 1000000000 + 0.5) AS BIGINT) AS nano
  FROM tf JOIN cf USING (term) CROSS JOIN ct),
lnano AS (
  SELECT doc_id,
         CAST(FLOOR(LN(CAST(dl + 2000 AS DOUBLE) / 2000.0)
                    * 1000000000 + 0.5) AS BIGINT) AS lnn
  FROM dl),
nt AS (SELECT query_id, CAST(COUNT(*) AS BIGINT) AS nt
       FROM q GROUP BY query_id),
sc AS (
  SELECT q.query_id, tnano.doc_id,
         CAST(SUM(tnano.nano) AS BIGINT)
           - MAX(nt.nt) * MAX(lnano.lnn) AS ql_nano
  FROM tnano JOIN q USING (term)
             JOIN nt ON nt.query_id = q.query_id
             JOIN lnano ON lnano.doc_id = tnano.doc_id
  GROUP BY q.query_id, tnano.doc_id)
SELECT query_id, doc_id, ql_nano, rk FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY ql_nano DESC, doc_id ASC) AS rk
  FROM sc) t
WHERE rk <= 5
""",
    # 1-row collection-token-total frame cross-joined onto the
    # term statistics
    allow={"BroadcastNestedLoopJoin"},
)
def query_likelihood_dirichlet(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    q = spark.createDataFrame(_QUERIES, "query_id int, term string")
    # the (term, doc_id, tf) posting slice is IDENTICAL to #148's —
    # reuse the session-shared artifact instead of a second corpus
    # explode (r13; COUNT is bigint in both builds)
    tf, _ = _bm25_parts(spark, sf_dir)
    cf = tf.groupBy("term").agg(F.sum("tf").cast("bigint").alias("cf"))
    dl = d.select("doc_id", token_count(F.col("text")).alias("dl"))
    ct = dl.agg(F.sum("dl").cast("bigint").alias("c"))
    tnano = (
        tf.join(F.broadcast(cf), "term")
        .crossJoin(ct)
        .select(
            "term",
            "doc_id",
            F.floor(
                F.log(
                    (2000 * F.col("cf") + F.col("tf") * F.col("c")).cast(
                        "double"
                    )
                    / (2000 * F.col("cf")).cast("double")
                )
                * 1000000000
                + 0.5
            )
            .cast("bigint")
            .alias("nano"),
        )
    )
    lnano = dl.select(
        "doc_id",
        F.floor(
            F.log((F.col("dl") + 2000).cast("double") / F.lit(2000.0))
            * 1000000000
            + 0.5
        )
        .cast("bigint")
        .alias("lnn"),
    )
    # |q| is derived per query from the q frame (ADVICE r12: a
    # hardcoded 3 would silently deviate if _QUERIES ever gains a
    # query with a different term count — both engines would agree,
    # so only this derivation keeps the documented Dirichlet model)
    nt = q.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("nt")
    )
    sc = (
        tnano.join(F.broadcast(q), "term")
        .join(F.broadcast(nt), "query_id")
        .join(lnano, "doc_id")
        .groupBy("query_id", "doc_id")
        .agg(
            (
                F.sum("nano").cast("bigint")
                - F.max("nt") * F.max("lnn")
            )
            .cast("bigint")
            .alias("ql_nano")
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("ql_nano").desc(), F.col("doc_id").asc()
    )
    return (
        sc.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .select("query_id", "doc_id", "ql_nano", "rk")
    )


# --------------------------------------------------------------------
# 149. boilerplate n-gram detection: word 3-grams shared by >= 5
# distinct documents, with how many sources they span (a phrase
# repeated across many sources is site chrome / license text / JS
# boilerplate — the classic pre-LLM filter before near-dedup).
# Plan: distinct shingles per doc (list_distinct inside the codegen
# expression — a doc repeating a phrase 100x still contributes df 1),
# ONE shuffle on the shingle for the (df, source-spread) aggregate,
# then a 20-row global top-k: ORDER BY + LIMIT lowers to TakeOrdered
# (each partition ships <= 20 rows to the driver-side merge, no global
# sort materialization). Aggregation buffers hold two counters per
# shingle — no posting lists — so the hot-shingle row is O(1) at any
# corpus size.
@query(
    "boilerplate_ngrams",
    oracle="""
WITH sh AS (
  SELECT doc_id, source,
         unnest(list_distinct(list_transform(
             range(1, GREATEST(LEN(toks) - 1, 1)),
             i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])))
           AS shingle
  FROM (SELECT doc_id, source,
               string_split_regex(TRIM(text), '\\s+') AS toks
        FROM documents) t
  WHERE LEN(toks) >= 3)
SELECT shingle, n_docs, n_sources FROM (
  SELECT shingle, COUNT(*) AS n_docs,
         COUNT(DISTINCT source) AS n_sources
  FROM sh GROUP BY shingle HAVING COUNT(*) >= 5) g
ORDER BY n_docs DESC, shingle ASC LIMIT 20
""",
    bench=False,
)
def boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    # materialize the token array first: word_shingles' lambda indexes
    # its input per shingle, so an inline tokens() would re-tokenize
    # each doc ~3x|shingles| times (see the word_shingles docstring)
    toks = d.select("doc_id", "source", tokens(F.col("text")).alias("toks"))
    sh = toks.select(
        "doc_id",
        "source",
        F.explode(word_shingles(F.col("toks"), 3)).alias("shingle"),
    )
    return (
        sh.groupBy("shingle")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count_distinct("source").alias("n_sources"),
        )
        .filter(F.col("n_docs") >= 5)
        .orderBy(F.col("n_docs").desc(), F.col("shingle").asc())
        .limit(20)
    )


# --------------------------------------------------------------------
# 163. collocation extraction — top bigrams by the PMI rational core
# c_xy * N / (c_x * c_y), integer-scaled x1e6 and kept UN-logged (the
# log is monotone, so the ranking is identical and the score stays
# BIGINT-exact across engines; same convention as tfidf/bm25).
# Adjacent-pair counts come from ONE explode of token-index pairs;
# unigram counts broadcast back onto the bigram aggregate. min-count
# 50 keeps the rare-pair noise PMI is famous for out of the top-k.
# Global top-20 lowers to TakeOrdered (no full sort).
@query(
    "collocation_pmi_topk",
    oracle="""
WITH toks AS (
  SELECT string_split_regex(TRIM(text), '\\s+') AS t FROM documents),
big AS (
  SELECT w1, w2, COUNT(*) AS c_xy FROM (
    SELECT t[i] AS w1, t[i+1] AS w2
    FROM toks, unnest(range(1, GREATEST(LEN(t), 1))) AS u(i)) p
  GROUP BY w1, w2),
uni AS (
  SELECT w, COUNT(*) AS c FROM (SELECT unnest(t) AS w FROM toks) u GROUP BY w),
n AS (SELECT SUM(c) AS n FROM uni)
SELECT w1, w2, c_xy,
       CAST((c_xy * n.n * 1000000) // (u1.c * u2.c) AS BIGINT) AS pmi_scaled
FROM big JOIN uni u1 ON big.w1 = u1.w
         JOIN uni u2 ON big.w2 = u2.w
         CROSS JOIN n
WHERE c_xy >= 25
ORDER BY pmi_scaled DESC, w1 ASC, w2 ASC LIMIT 20
""",
    # 1-row total-token frame cross-joined onto the bigram aggregate
    allow={"BroadcastNestedLoopJoin"},
)
def collocation_pmi_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    toks = d.select(tokens(F.col("text")).alias("t"))
    pairs = toks.select(
        F.explode(
            F.when(
                F.size("t") >= 2,
                F.transform(
                    F.sequence(F.lit(1), F.size("t") - 1),
                    lambda i: F.struct(
                        F.element_at("t", i).alias("w1"),
                        F.element_at("t", i + 1).alias("w2"),
                    ),
                ),
            ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
        ).alias("p")
    ).select("p.w1", "p.w2")
    big = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c_xy"))
    uni = (
        toks.select(F.explode("t").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    n = uni.agg(F.sum("c").alias("n"))
    u1 = uni.select(F.col("w").alias("w1"), F.col("c").alias("c1"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("c").alias("c2"))
    return (
        big.filter(F.col("c_xy") >= 25)
        .join(F.broadcast(u1), "w1")
        .join(F.broadcast(u2), "w2")
        .crossJoin(n)
        .select(
            "w1",
            "w2",
            "c_xy",
            F.expr("(c_xy * n * 1000000) div (c1 * c2)").alias("pmi_scaled"),
        )
        .orderBy(F.col("pmi_scaled").desc(), F.col("w1").asc(), F.col("w2").asc())
        .limit(20)
    )


# --------------------------------------------------------------------
# 164. tokenizer fertility — the standard multilingual diagnostic:
# sub-word tokens per whitespace word, per language (a tokenizer
# "spends" more pieces on languages it under-represents; fertility
# feeds the temperature-resampling weights, #131). Uses the BPE-ish
# regex pre-tokenizer (#60) as the sub-word side; integer-ppm ratio,
# zero shuffles before the 5-row language aggregate.
@query(
    "tokenizer_fertility",
    oracle=f"""
WITH d AS (
  SELECT lang,
         LEN(string_split_regex(TRIM(text), '\\s+')) AS n_ws,
         LEN(regexp_extract_all(text, '{_BPE_ORACLE}')) AS n_bpe
  FROM documents)
SELECT lang,
       CAST(SUM(n_ws) AS BIGINT) AS sum_words,
       CAST(SUM(n_bpe) AS BIGINT) AS sum_pieces,
       CAST((SUM(n_bpe) * 1000000) // SUM(n_ws) AS BIGINT) AS fertility_ppm
FROM d GROUP BY lang
""",
    bench=False,
)
def tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    from koalas_spark.functions.textfn import bpe_token_count, token_count

    d = _t(spark, sf_dir, "documents").select(
        "lang",
        token_count(F.col("text")).alias("n_ws"),
        bpe_token_count(F.col("text")).alias("n_bpe"),
    )
    return d.groupBy("lang").agg(
        F.sum("n_ws").cast("bigint").alias("sum_words"),
        F.sum("n_bpe").cast("bigint").alias("sum_pieces"),
        F.expr("(sum(n_bpe) * 1000000) div sum(n_ws)").alias("fertility_ppm"),
    )


# --------------------------------------------------------------------
# 177. BPE merge learning — the tokenizer-TRAINING loop (Sennrich
# BPE), distributed: each iteration is ONE map-side-combined pair-
# count aggregate over the (word, freq) vocabulary table (vocab-sized,
# not corpus-sized — the explode is per distinct word, weighted by its
# corpus frequency), then a 1-ROW collect of the winning pair (the
# only driver state, bounded by construction) broadcast back as a
# literal string replace. The merge count is parameterized
# (BPE_MERGES, default 16; production trainers run the same loop 30k
# times): cost/state bounds are n Spark jobs, n rows of driver state,
# and a lazy localCheckpoint per iteration so each replace reads the
# previous iteration's materialized blocks instead of replaying the
# whole merge chain — lineage depth stays 1 regardless of n, and the
# superseded checkpoint blocks are freed by the ContextCleaner as the
# old frames go out of scope. Greedy left-to-right non-overlapping
# replace semantics are identical in Java and DuckDB, and the winner
# is pinned by (count DESC, pair ASC), so every merge — and therefore
# the whole chain — is engine-reproducible. Oracle: the same n
# iterations as PROGRAM-GENERATED chained CTEs (_bpe_oracle_sql).
BPE_MERGES = 16


def _bpe_oracle_sql(n: int = BPE_MERGES) -> str:
    """Generate the n-iteration chained-CTE DuckDB twin of the loop.

    Every chained CTE is MATERIALIZED: DuckDB inlines plain CTEs, and
    s_{i+1} references s_i once plus m_i twice, so inlining expands
    the chain 3^n times (n=16 blew the process file-descriptor limit
    re-opening the parquet). Materialization makes it linear — one
    evaluation per iteration, the same shape the Spark loop executes.
    """
    ctes = [
        """w AS MATERIALIZED (
  SELECT word, COUNT(*) AS freq
  FROM (SELECT unnest(string_split_regex(TRIM(text), '\\s+')) AS word
        FROM documents) t
  GROUP BY word)""",
        """s1 AS MATERIALIZED (SELECT ' ' || array_to_string(string_split(word, ''), ' ') || ' ' AS sp,
              freq FROM w)""",
    ]
    for i in range(1, n + 1):
        ctes.append(
            f"""p{i} AS MATERIALIZED (
  SELECT pair, SUM(freq) AS cnt FROM (
    SELECT unnest(list_transform(range(1, LEN(tk)),
                                 i -> tk[i] || ' ' || tk[i+1])) AS pair, freq
    FROM (SELECT string_split(TRIM(sp), ' ') AS tk, freq FROM s{i}) q
    WHERE LEN(tk) >= 2) z
  GROUP BY pair)"""
        )
        ctes.append(
            f"m{i} AS MATERIALIZED (SELECT pair, cnt FROM p{i} ORDER BY cnt DESC, pair LIMIT 1)"
        )
        if i < n:
            ctes.append(
                f"""s{i + 1} AS MATERIALIZED (SELECT replace(sp, ' ' || (SELECT pair FROM m{i}) || ' ',
                      ' ' || replace((SELECT pair FROM m{i}), ' ', '') || ' ')
                 AS sp, freq FROM s{i})"""
            )
    selects = [
        f"SELECT {i} AS merge_rank, pair, CAST(cnt AS BIGINT) AS freq FROM m{i}"
        for i in range(1, n + 1)
    ]
    return "WITH " + ",\n".join(ctes) + "\n" + "\nUNION ALL\n".join(selects)


@query("bpe_learn_merges", oracle=_bpe_oracle_sql())
def bpe_learn_merges(
    spark: SparkSession, sf_dir: str, n_merges: int = BPE_MERGES
) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    w = (
        d.select(F.explode(tokens(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    # the vocab table is tiny relative to the corpus (|V| ~ 30k here;
    # ~10M even at web scale) while the loop pays per-iteration JOB
    # latency n times — 32 near-empty tasks per stage dominated the
    # merge cost. 4 partitions measured 2.2-2.8s vs 4.0-6.3s for 32
    # at sf0.1/n=16 (in-session interleaved A/B); raise the constant
    # if a deployment's vocab outgrows a few million rows per task.
    sp = w.select(
        F.concat(
            F.lit(" "), F.concat_ws(" ", F.split(F.col("word"), "")), F.lit(" ")
        ).alias("sp"),
        "freq",
    ).repartition(4).localCheckpoint(eager=False)

    merges = []
    for rank in range(1, n_merges + 1):
        tk = F.split(F.trim(F.col("sp")), " ")
        pairs = (
            sp.select(tk.alias("tk"), "freq")
            .filter(F.size("tk") >= 2)
            .select(
                F.explode(
                    F.transform(
                        F.sequence(F.lit(1), F.size("tk") - 1),
                        lambda i: F.concat(
                            F.element_at("tk", i),
                            F.lit(" "),
                            F.element_at("tk", i + 1),
                        ),
                    )
                ).alias("pair"),
                "freq",
            )
        )
        top = (
            pairs.groupBy("pair")
            .agg(F.sum("freq").alias("cnt"))
            .orderBy(F.desc("cnt"), "pair")
            .limit(1)
            .take(1)  # 1-row driver state per iteration, by design
        )
        if not top:
            # vocabulary exhausted (every word a single symbol):
            # return the merges learned so far instead of erroring
            break
        merges.append((rank, top[0]["pair"], int(top[0]["cnt"])))
        sp = sp.withColumn(
            "sp",
            F.replace(
                F.col("sp"),
                F.lit(f" {top[0]['pair']} "),
                F.lit(f" {top[0]['pair'].replace(' ', '')} "),
            ),
        ).localCheckpoint(eager=False)

    return local_rows(spark, merges, "merge_rank int, pair string, freq bigint")


# --------------------------------------------------------------------
# 475. unigram-LM tokenizer trainer — the SentencePiece-style EM
# complement to #177's BPE merge learning (Kudo 2018, hard-EM /
# Viterbi variant): seed a subword vocabulary from the top weighted
# substrings, then alternate (E) Viterbi-segment every word under the
# current piece log-probabilities and (M) re-estimate piece counts
# from the segmentations, pruning to the best pieces by exact integer
# count. Scale shape: the CORPUS contributes exactly one map-side-
# combined (word, freq) aggregate — every later stage (substring
# enumeration, DP, counts) runs on the vocabulary table, which is
# corpus-INDEPENDENT in size (|V| ~ 30k words even at web scale vs 31
# here), the same argument as #177. Driver state per round is the
# ≤ ~50-row (piece, nano) table — the k-means-centroid precedent —
# broadcast back as a map literal into the DP expression.
#
# Determinism (#221 discipline): piece log-probs are nano-quantized
# integers (FLOOR(LN(cnt/total)*1e9+0.5) — cnt/total are exact ints,
# one identical double expression per value), so every Viterbi score
# is an exact integer sum; the DP tie-break is the lexicographic min
# of [-score, piece_len] (highest score, then shortest piece) and
# vocabulary pruning orders by (cnt DESC, piece ASC) — the whole
# training run is engine-reproducible, and the oracle replays seed +
# both EM rounds as program-generated MATERIALIZED CTEs (the
# _bpe_oracle_sql pattern; the DP unrolls one CTE per position with
# correlated vocab lookups, the backtrace one column per step).
# Words are capped at UNI_MAXW chars (truncate-and-merge, mirrored in
# both engines; the corpus max is 8).
UNI_MAXW = 10  # DP positions (corpus max word length is 8)
UNI_PLEN = 4  # max piece length
UNI_MULTI = 24  # multi-char pieces kept per prune
UNI_ROUNDS = 2  # EM rounds
_UNI_NEG = -(10**15)  # not-in-vocab sentinel (sums stay in int64)


def _uni_oracle_sql(
    maxw: int = UNI_MAXW,
    plen: int = UNI_PLEN,
    multi: int = UNI_MULTI,
    rounds: int = UNI_ROUNDS,
    fertility: bool = False,
) -> str:
    neg = _UNI_NEG

    def nano(cnt: str, total: str) -> str:
        return (
            f"CAST(FLOOR(LN(CAST({cnt} AS DOUBLE) / CAST({total} AS DOUBLE))"
            f" * 1000000000 + 0.5) AS BIGINT)"
        )

    ctes = [
        """w AS MATERIALIZED (
  SELECT word, COUNT(*) AS freq
  FROM (SELECT unnest(string_split_regex(TRIM(text), '\\s+')) AS word
        FROM documents) t
  GROUP BY word)""",
        f"""wt AS MATERIALIZED (
  SELECT substring(word, 1, {maxw}) AS word, CAST(SUM(freq) AS BIGINT) AS freq
  FROM w GROUP BY 1)""",
        f"""sub AS MATERIALIZED (
  SELECT piece, CAST(SUM(freq) AS BIGINT) AS cnt FROM (
    SELECT substr(word, CAST(j.j AS INT), CAST(l.l AS INT)) AS piece, freq
    FROM wt, unnest(range(1, {maxw + 1})) j(j), unnest(range(1, {plen + 1})) l(l)
    WHERE j.j + l.l - 1 <= LEN(word)) z
  GROUP BY piece)""",
        f"""v0 AS MATERIALIZED (
  SELECT piece, cnt FROM sub WHERE LEN(piece) = 1
  UNION ALL
  SELECT piece, cnt FROM (
    SELECT piece, cnt FROM sub WHERE LEN(piece) > 1
    ORDER BY cnt DESC, piece ASC LIMIT {multi}) m)""",
        "p0 AS MATERIALIZED (SELECT piece, "
        + nano("cnt", "(SELECT SUM(cnt) FROM v0)")
        + " AS nano FROM v0)",
    ]
    def dp_round(r: int, pv: str) -> None:
        """Append the Viterbi E-step CTEs for round r under vocab
        probabilities {pv}: d{r}_0..d{r}_maxw (forward DP) + bt{r}
        (backtrace with one piece/pos column per step)."""
        prev = f"d{r}_0"
        ctes.append(
            f"{prev} AS MATERIALIZED (SELECT word, freq, LEN(word) AS n,"
            f" CAST(0 AS BIGINT) AS dp0 FROM wt)"
        )
        for j in range(1, maxw + 1):
            cands = []
            for l in range(1, min(plen, j) + 1):
                look = (
                    f"COALESCE((SELECT nano FROM {pv} WHERE piece ="
                    f" substr(d.word, {j - l + 1}, {l})), {neg})"
                )
                cands.append(
                    f"[-(d.dp{j - l} + {look}), CAST({l} AS BIGINT)]"
                )
            best = f"list_sort([{', '.join(cands)}])[1]"
            cur = f"d{r}_{j}"
            # the helper column gets a per-position name and is
            # EXCLUDEd from propagation — a bare `best` reused across
            # CTEs silently binds to the FIRST duplicate in d.*
            ctes.append(
                f"{cur} AS MATERIALIZED (\n"
                f"  SELECT d.* EXCLUDE (best{j}),"
                f" -best{j}[1] AS dp{j}, best{j}[2] AS bp{j}\n"
                f"  FROM (SELECT d.*, {best} AS best{j} FROM {prev} d) d)"
            )
            prev = cur
        # backtrace: pos walks down from n, one column per step
        bp_list = "[" + ", ".join(f"bp{j}" for j in range(1, maxw + 1)) + "]"
        q = f"SELECT word, freq, {bp_list} AS bp, n AS pos0 FROM {prev}"
        for t in range(1, maxw + 1):
            q = (
                "SELECT *,\n"
                f"  CASE WHEN pos{t - 1} >= 1 THEN substr(word,"
                f" CAST(pos{t - 1} - bp[CAST(pos{t - 1} AS INT)] + 1 AS INT),"
                f" CAST(bp[CAST(pos{t - 1} AS INT)] AS INT)) END AS piece{t},\n"
                f"  CASE WHEN pos{t - 1} >= 1"
                f" THEN pos{t - 1} - bp[CAST(pos{t - 1} AS INT)]"
                f" ELSE CAST(0 AS BIGINT) END AS pos{t}\n"
                f"FROM ({q}) s{t}"
            )
        ctes.append(f"bt{r} AS MATERIALIZED ({q})")

    for r in range(1, rounds + 1):
        dp_round(r, f"p{r - 1}")
        piece_list = "[" + ", ".join(
            f"piece{t}" for t in range(1, maxw + 1)
        ) + "]"
        ctes.append(
            f"c{r} AS MATERIALIZED (\n"
            f"  SELECT piece, CAST(SUM(freq) AS BIGINT) AS cnt FROM (\n"
            f"    SELECT unnest({piece_list}) AS piece, freq FROM bt{r}) z\n"
            f"  WHERE piece IS NOT NULL GROUP BY piece)"
        )
        ctes.append(
            f"v{r} AS MATERIALIZED (\n"
            f"  SELECT s.piece, COALESCE(c.cnt, CAST(1 AS BIGINT)) AS cnt\n"
            f"  FROM (SELECT DISTINCT piece FROM sub WHERE LEN(piece) = 1) s\n"
            f"  LEFT JOIN c{r} c USING (piece)\n"
            f"  UNION ALL\n"
            f"  SELECT piece, cnt FROM (\n"
            f"    SELECT piece, cnt FROM c{r} WHERE LEN(piece) > 1\n"
            f"    ORDER BY cnt DESC, piece ASC LIMIT {multi}) m)"
        )
        ctes.append(
            f"p{r} AS MATERIALIZED (SELECT piece, "
            + nano("cnt", f"(SELECT SUM(cnt) FROM v{r})")
            + f" AS nano FROM v{r})"
        )
    if not fertility:
        return (
            "WITH "
            + ",\n".join(ctes)
            + f"\nSELECT v.piece, v.cnt, p.nano AS prob_nano"
            f" FROM v{rounds} v JOIN p{rounds} p USING (piece)"
        )
    # apply pass: one more Viterbi round under the FINAL vocab, then
    # the per-lang fertility rollup (the #164 comparison row)
    dp_round(rounds + 1, f"p{rounds}")
    piece_list = "[" + ", ".join(
        f"piece{t}" for t in range(1, maxw + 1)
    ) + "]"
    ctes.append(
        f"""wl AS MATERIALIZED (
  SELECT lang, substring(word, 1, {maxw}) AS word,
         CAST(COUNT(*) AS BIGINT) AS freq
  FROM (SELECT lang, unnest(string_split_regex(TRIM(text), '\\s+')) AS word
        FROM documents) t
  GROUP BY 1, 2)"""
    )
    ctes.append(
        f"np AS MATERIALIZED (\n"
        f"  SELECT word, CAST(LEN(list_filter({piece_list},"
        f" x -> x IS NOT NULL)) AS BIGINT) AS n_pieces\n"
        f"  FROM bt{rounds + 1})"
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + """
SELECT lang,
       CAST(SUM(freq) AS BIGINT) AS sum_words,
       CAST(SUM(freq * n_pieces) AS BIGINT) AS sum_pieces,
       CAST((SUM(freq * n_pieces) * 1000000) // SUM(freq) AS BIGINT)
         AS fertility_ppm
FROM wl JOIN np USING (word)
GROUP BY lang"""
    )


def _uni_viterbi_pieces(vmap, maxw: int = UNI_MAXW, plen: int = UNI_PLEN):
    """Viterbi segmentation of the `word` column under the broadcast
    (piece -> nano log-prob) map literal, as ONE linear-size fold
    expression (no per-position withColumn chain — CollapseProject
    would re-expand a nested DP tree 4^maxw ways): the forward pass
    folds positions 1..maxw accumulating array<struct<dp,bp>>, the
    backtrace folds maxw steps walking pos down by bp[pos]. Returns a
    Column: the array of segment pieces (order irrelevant — the
    consumer counts them)."""
    worst = F.struct(
        F.lit(2**62).cast("bigint").alias("negs"),
        F.lit(9).cast("bigint").alias("l"),
    )

    def step(acc, j):
        cands = []
        for l in range(1, plen + 1):
            piece = F.col("word").substr(j - F.lit(l) + 1, F.lit(l))
            sc = F.element_at(acc, j - F.lit(l) + 1)["dp"] + F.coalesce(
                F.try_element_at(vmap, piece), F.lit(_UNI_NEG).cast("bigint")
            )
            cands.append(
                F.when(
                    j >= F.lit(l),
                    F.struct(
                        (-sc).cast("bigint").alias("negs"),
                        F.lit(l).cast("bigint").alias("l"),
                    ),
                ).otherwise(worst)
            )
        best = F.array_min(F.array(*cands))
        return F.concat(
            acc,
            F.array(
                F.struct(
                    (-best["negs"]).cast("bigint").alias("dp"),
                    best["l"].alias("bp"),
                )
            ),
        )

    init = F.array(
        F.struct(
            F.lit(0).cast("bigint").alias("dp"),
            F.lit(0).cast("bigint").alias("bp"),
        )
    )
    dpbp = F.aggregate(F.sequence(F.lit(1), F.lit(maxw)), init, step)
    bp_arr = F.transform(F.slice(dpbp, 2, maxw), lambda x: x["bp"])

    def back(st, _):
        bp = F.element_at(bp_arr, st["pos"].cast("int"))
        return F.when(
            st["pos"] >= 1,
            F.struct(
                (st["pos"] - bp).alias("pos"),
                F.concat(
                    st["pieces"],
                    F.array(
                        F.col("word").substr(
                            (st["pos"] - bp + 1).cast("int"), bp.cast("int")
                        )
                    ),
                ).alias("pieces"),
            ),
        ).otherwise(st)

    binit = F.struct(
        F.length("word").cast("bigint").alias("pos"),
        F.array().cast("array<string>").alias("pieces"),
    )
    return F.aggregate(
        F.sequence(F.lit(1), F.lit(maxw)), binit, back
    )["pieces"]


def _uni_train(
    spark: SparkSession,
    sf_dir: str,
    rounds: int = UNI_ROUNDS,
    final_segment: bool = False,
    rebuild: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Run the trainer; returns (final vocab frame with (piece, cnt,
    prob_nano), segmentation frame (word, freq, pieces)). The
    segmentation is the last E-step's by default (feeds the fertility
    sanity test); with ``final_segment`` it is ONE extra Viterbi pass
    under the FINAL vocab probabilities (the apply path #476
    consumes).

    The TRAINING PREFIX — corpus word table, seed substring counts,
    the EM rounds, the final vocab — is identical for both consumers
    (#475 trains, #476 applies), so it is a session artifact
    (koalas_spark.memo) per (sf_dir, rounds); ``rebuild=True``
    bypasses the store (parity test). #476's final Viterbi
    segmentation and its (lang, word) corpus rollup stay per-call."""
    if rebuild:
        core = _uni_core(spark, sf_dir, rounds)
    else:
        core = artifact(
            spark,
            "unigram_lm",
            (sf_dir, "documents"),
            lambda: _uni_core(spark, sf_dir, rounds),
            rounds,
        )
    return _uni_finish(core, final_segment)


def _uni_core(
    spark: SparkSession, sf_dir: str, rounds: int
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The training prefix: (word table, final vocab, last E-step
    segmentation)."""
    d = _t(spark, sf_dir, "documents")
    w = (
        d.select(F.explode(tokens(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    wt = (
        w.select(F.substring("word", 1, UNI_MAXW).alias("word"), "freq")
        .groupBy("word")
        .agg(F.sum("freq").cast("bigint").alias("freq"))
        .repartition(4)
        .localCheckpoint(eager=False)
    )
    # seed substring counts: every (position, length<=PLEN) slice of
    # every vocabulary word, weighted by corpus frequency
    slices = F.flatten(
        F.transform(
            F.sequence(F.lit(1), F.length("word")),
            lambda j: F.transform(
                F.sequence(
                    F.lit(1),
                    F.least(F.lit(UNI_PLEN), F.length("word") - j + 1),
                ),
                lambda l: F.col("word").substr(j.cast("int"), l.cast("int")),
            ),
        )
    )
    sub = (
        wt.select(F.explode(slices).alias("piece"), "freq")
        .groupBy("piece")
        .agg(F.sum("freq").cast("bigint").alias("cnt"))
        .localCheckpoint(eager=False)
    )
    chars = sub.filter(F.length("piece") == 1).select("piece")
    vocab = sub.filter(F.length("piece") == 1).unionByName(
        sub.filter(F.length("piece") > 1)
        .orderBy(F.desc("cnt"), F.asc("piece"))
        .limit(UNI_MULTI)
    )
    seg = None
    for _ in range(rounds):
        rows = vocab.collect()  # <= ~50 rows of driver state, by design
        total = sum(r["cnt"] for r in rows)
        nano_col = (
            F.floor(
                F.log(F.col("cnt").cast("double") / F.lit(total).cast("double"))
                * 1000000000
                + 0.5
            )
        ).cast("bigint")
        nrows = vocab.select("piece", nano_col.alias("nano")).collect()
        vmap = F.create_map(
            *[F.lit(x) for r in nrows for x in (r["piece"], r["nano"])]
        )
        seg = wt.select(
            "word", "freq", _uni_viterbi_pieces(vmap).alias("pieces")
        ).localCheckpoint(eager=False)
        counts = (
            seg.select(F.explode("pieces").alias("piece"), "freq")
            .groupBy("piece")
            .agg(F.sum("freq").cast("bigint").alias("cnt"))
            .localCheckpoint(eager=False)
        )
        vocab = (
            chars.join(counts, "piece", "left")
            .select(
                "piece",
                F.coalesce(F.col("cnt"), F.lit(1).cast("bigint")).alias("cnt"),
            )
            .unionByName(
                counts.filter(F.length("piece") > 1)
                .orderBy(F.desc("cnt"), F.asc("piece"))
                .limit(UNI_MULTI)
            )
        )
    rows = vocab.collect()
    total = sum(r["cnt"] for r in rows)
    final = vocab.select(
        "piece",
        "cnt",
        F.floor(
            F.log(F.col("cnt").cast("double") / F.lit(total).cast("double"))
            * 1000000000
            + 0.5
        )
        .cast("bigint")
        .alias("prob_nano"),
    ).localCheckpoint(eager=False)
    return wt, final, seg


def _uni_finish(
    core: tuple[DataFrame, DataFrame, DataFrame], final_segment: bool
) -> tuple[DataFrame, DataFrame]:
    """Per-call tail over the (wt, final, last-E-step seg) prefix:
    the #476 apply path re-segments the word table under the FINAL
    vocab probabilities; the train path returns the prefix as-is."""
    wt, final, seg = core
    if final_segment:
        nrows = final.select("piece", "prob_nano").collect()
        vmap = F.create_map(
            *[F.lit(x) for r in nrows for x in (r["piece"], r["prob_nano"])]
        )
        seg = wt.select(
            "word", "freq", _uni_viterbi_pieces(vmap).alias("pieces")
        ).localCheckpoint(eager=False)
    return final, seg


@query("unigram_lm_train", oracle=_uni_oracle_sql())
def unigram_lm_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    final, _ = _uni_train(spark, sf_dir)
    return final


# --------------------------------------------------------------------
# 476. unigram-tokenizer fertility by language — the APPLY path that
# closes the #475 training loop and lands the comparison row next to
# #164 (same output shape: lang, sum_words, sum_pieces,
# fertility_ppm, so the two tokenizers read side-by-side): segment
# every vocabulary word ONCE under the final trained vocab (one extra
# Viterbi pass — the fold expression of #475), then roll corpus
# fertility up per language. The corpus contributes exactly one
# (lang, word) map-side-combined aggregate; the ≤|V|-row
# (word, n_pieces) table broadcasts onto it — at 100 TB this is one
# scan + one broadcast-hash join, no vocab-sized shuffle. Words ride
# the same UNI_MAXW truncation as training (both engines).
@query(
    "unigram_fertility_by_lang", oracle=_uni_oracle_sql(fertility=True)
)
def unigram_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, seg = _uni_train(spark, sf_dir, final_segment=True)
    np = seg.select(
        "word", F.size("pieces").cast("bigint").alias("n_pieces")
    )
    d = _t(spark, sf_dir, "documents")
    wl = (
        d.select("lang", F.explode(tokens(F.col("text"))).alias("word"))
        .select("lang", F.substring("word", 1, UNI_MAXW).alias("word"))
        .groupBy("lang", "word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
    )
    return (
        wl.join(F.broadcast(np), "word")
        .groupBy("lang")
        .agg(
            F.sum("freq").cast("bigint").alias("sum_words"),
            F.sum(F.col("freq") * F.col("n_pieces"))
            .cast("bigint")
            .alias("sum_pieces"),
            F.expr("(sum(freq * n_pieces) * 1000000) div sum(freq)")
            .cast("bigint")
            .alias("fertility_ppm"),
        )
    )


# --------------------------------------------------------------------
# 465. MaxSim late-interaction retrieval (ColBERT-style) — the step
# between #148's BM25 term matching and #42's single-vector cosine
# that production retrieval pipelines deploy: every token (query AND
# document) gets its own embedding, and score(q, d) = SUM over query
# tokens t of MAX over document tokens u of sim(t, u). Unlike BM25,
# every document token contributes to every query term's max — soft
# matching, no term-overlap requirement.
#
# Token embedding: ONE md5 per distinct token string, sliced into 8
# uint16 components (hex digits 4j+1..4j+4 parsed base-16) — the
# portable_hash60 convention widened to a vector; engine-portable by
# the same argument (md5 hex is identical everywhere). sim(t, u) is
# the raw integer dot product — un-normalized, a monotone proxy, the
# same unlogged-rational discipline as #148's idf (bit-exact beats
# calibrated here). Overflow: 8 * 65535^2 < 2^35 per dot, * 3 terms
# < 2^37 per score — int64 headroom at any corpus size.
#
# Plan shape for a 100 TB corpus (VERDICT r11 item 7's brief):
#   1. the 9-row query-token frame BROADCASTS onto the exploded token
#      stream (BroadcastNestedLoopJoin over a 9-row literal frame —
#      allowlisted, bounded by construction); the corpus is never
#      re-shuffled against itself;
#   2. ONE shuffle on (query_id, term, doc_id) computes the per-term
#      max with map-side partial MAX (each task emits <= 9 rows per
#      doc regardless of document length);
#   3. the per-(query, doc) sum over <= 3 terms is a second tiny
#      keyed aggregate on the already-collapsed frame;
#   4. top-5 per query is a PARTITIONED rank window (query_id
#      partitions — WindowGroupLimit prunes to 5 per partition before
#      the final sort; no global single-task funnel).
@query(
    "maxsim_late_interaction",
    oracle=f"""
WITH q(query_id, term) AS (VALUES {_Q_VALUES}),
qv AS (SELECT query_id, term,
         CAST('0x' || substr(md5(term), 1, 4) AS BIGINT) AS q0,
         CAST('0x' || substr(md5(term), 5, 4) AS BIGINT) AS q1,
         CAST('0x' || substr(md5(term), 9, 4) AS BIGINT) AS q2,
         CAST('0x' || substr(md5(term), 13, 4) AS BIGINT) AS q3,
         CAST('0x' || substr(md5(term), 17, 4) AS BIGINT) AS q4,
         CAST('0x' || substr(md5(term), 21, 4) AS BIGINT) AS q5,
         CAST('0x' || substr(md5(term), 25, 4) AS BIGINT) AS q6,
         CAST('0x' || substr(md5(term), 29, 4) AS BIGINT) AS q7
       FROM q),
tok AS (SELECT doc_id,
               unnest(string_split_regex(TRIM(text), '\\s+')) AS u
        FROM documents),
tv AS (SELECT doc_id,
         CAST('0x' || substr(md5(u), 1, 4) AS BIGINT) AS d0,
         CAST('0x' || substr(md5(u), 5, 4) AS BIGINT) AS d1,
         CAST('0x' || substr(md5(u), 9, 4) AS BIGINT) AS d2,
         CAST('0x' || substr(md5(u), 13, 4) AS BIGINT) AS d3,
         CAST('0x' || substr(md5(u), 17, 4) AS BIGINT) AS d4,
         CAST('0x' || substr(md5(u), 21, 4) AS BIGINT) AS d5,
         CAST('0x' || substr(md5(u), 25, 4) AS BIGINT) AS d6,
         CAST('0x' || substr(md5(u), 29, 4) AS BIGINT) AS d7
       FROM tok),
m AS (SELECT qv.query_id, qv.term, tv.doc_id,
        MAX(d0*q0 + d1*q1 + d2*q2 + d3*q3
            + d4*q4 + d5*q5 + d6*q6 + d7*q7) AS mx
      FROM tv CROSS JOIN qv
      GROUP BY qv.query_id, qv.term, tv.doc_id),
s AS (SELECT query_id, doc_id,
             CAST(SUM(mx) AS BIGINT) AS maxsim_score
      FROM m GROUP BY query_id, doc_id)
SELECT query_id, doc_id, maxsim_score, rk FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY maxsim_score DESC, doc_id ASC) AS rk
  FROM s) t
WHERE rk <= 5
""",
    allow={"BroadcastNestedLoopJoin"},
)
def maxsim_late_interaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    def _vec(col: F.Column, prefix: str) -> list[F.Column]:
        h = F.md5(col)
        return [
            F.conv(F.substring(h, 4 * j + 1, 4), 16, 10)
            .cast("long")
            .alias(f"{prefix}{j}")
            for j in range(8)
        ]

    d = _t(spark, sf_dir, "documents")
    q = spark.createDataFrame(_QUERIES, "query_id int, term string")
    qv = q.select("query_id", "term", *_vec(F.col("term"), "q"))
    tok = d.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("u")
    )
    tv = tok.select("doc_id", *_vec(F.col("u"), "d"))
    dot = sum(
        (F.col(f"d{j}") * F.col(f"q{j}") for j in range(1, 8)),
        F.col("d0") * F.col("q0"),
    )
    m = (
        tv.crossJoin(F.broadcast(qv))
        .groupBy("query_id", "term", "doc_id")
        .agg(F.max(dot).alias("mx"))
    )
    s = m.groupBy("query_id", "doc_id").agg(
        F.sum("mx").cast("bigint").alias("maxsim_score")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("maxsim_score").desc(), F.col("doc_id").asc()
    )
    return (
        s.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .select("query_id", "doc_id", "maxsim_score", "rk")
    )
