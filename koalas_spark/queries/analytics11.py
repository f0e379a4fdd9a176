"""Round-8 batch-5 additions (SURVEY.md §2 extensions): Mann-Whitney
AUC from a bucketed histogram, synchronous label-propagation
communities, population-stability-index drift, day-of-week seasonal
decomposition, a Benford first-digit audit, and Efraimidis-Spirakis
weighted sampling without replacement.

Reference parity note: none of these exist in the reference (its
surface is the frame ops in source/koalas/dataframe.d:73-311); they
extend the engine toward large-scale model-eval / curation workloads
per the brief, following the repo's cross-engine determinism rules
(queries/__init__.py docstring): integer/DECIMAL math everywhere,
transcendentals only under the #221 zipf discipline (quantize
ln to ints — both engines agree to ~1 ulp, orders of magnitude
inside the quantization step) or as ONE fixed double division at
the end (#235 TWAP discipline).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from koalas_spark.queries import query
from koalas_spark.queries.analytics import _t


# --------------------------------------------------------------------
# 241. ROC AUC via the Mann-Whitney U statistic — model-eval's
# workhorse metric (here: does order value predict urgency?) computed
# WITHOUT the naive all-pairs comparison (n_pos x n_neg pairs) and
# WITHOUT a corpus-scale rank window: scores land in $100 DOMAIN
# buckets (the #236 decile-lift discipline — ~6e3 buckets at any
# corpus size), per-bucket (n_pos, n_neg) aggregate with map-side
# combine, and U comes from one prefix sum over the bucket table:
#   2U = sum_b n_pos_b * (2 * cum_neg_below_b + n_neg_b)
# (ties inside a bucket count 1/2, hence the doubled form staying
# integer). AUC = 2U / (2 * N_pos * N_neg) as ONE fixed double
# division. Exact AUC of the bucketed score at any scale; the only
# window runs over the bucket DOMAIN.
@query(
    "auc_mann_whitney",
    oracle="""
WITH s AS (
  SELECT CAST(FLOOR(o_totalprice / 100) AS BIGINT) AS b,
         CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
              THEN 1 ELSE 0 END AS pos
  FROM orders),
h AS (
  SELECT b, CAST(SUM(pos) AS BIGINT) AS np,
         CAST(SUM(1 - pos) AS BIGINT) AS nn
  FROM s GROUP BY b),
c AS (
  SELECT np, nn,
         CAST(COALESCE(SUM(nn) OVER (ORDER BY b
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS BIGINT) AS cum_nn
  FROM h),
m AS (
  SELECT CAST(SUM(np) AS BIGINT) AS n_pos,
         CAST(SUM(nn) AS BIGINT) AS n_neg,
         CAST(SUM(CAST(np AS DECIMAL(38,0))
                  * (2 * CAST(cum_nn AS DECIMAL(38,0)) + nn))
              AS DECIMAL(38,0)) AS u2
  FROM c)
SELECT n_pos, n_neg,
       ROUND(CAST(u2 AS DOUBLE)
             / (2.0 * CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE)),
             6) AS auc
FROM m
""",
    # $100-bucket-domain prefix window (same bounded shape as
    # decile_lift_table)
    allow={"GlobalWindow"},
)
def auc_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    s = o.select(
        F.floor(F.col("o_totalprice") / 100).cast("bigint").alias("b"),
        F.when(
            F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1
        )
        .otherwise(0)
        .alias("pos"),
    )
    h = s.groupBy("b").agg(
        F.sum("pos").cast("bigint").alias("np"),
        F.sum(1 - F.col("pos")).cast("bigint").alias("nn"),
    )
    w = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, -1)
    c = h.select(
        "np",
        "nn",
        F.coalesce(F.sum("nn").over(w), F.lit(0))
        .cast("bigint")
        .alias("cum_nn"),
    )
    m = c.agg(
        F.sum("np").cast("bigint").alias("n_pos"),
        F.sum("nn").cast("bigint").alias("n_neg"),
        # u2 ~ 2*N_pos*N_neg is corpus^2-proportional (5e23 at 1e12
        # orders) so the product and its sum run in DECIMAL(38,0);
        # identical to the int64 value wherever int64 didn't wrap.
        F.sum(
            F.col("np").cast("decimal(38,0)")
            * (
                2 * F.col("cum_nn").cast("decimal(38,0)")
                + F.col("nn")
            )
        )
        .cast("decimal(38,0)")
        .alias("u2"),
    )
    return m.select(
        "n_pos",
        "n_neg",
        F.round(
            F.col("u2").cast("double")
            / (
                F.lit(2.0)
                * F.col("n_pos").cast("double")
                * F.col("n_neg").cast("double")
            ),
            6,
        ).alias("auc"),
    )


# --------------------------------------------------------------------
# 242. label-propagation communities on the co-purchase graph — the
# classic near-linear community detector, run as 4 SYNCHRONOUS rounds
# (the Pregel/GraphX shape): every node starts as its own label; each
# round every node adopts the most frequent label among its
# neighbors, ties broken to the SMALLEST label (the determinism rule
# that makes the fixed-round result partition-independent and
# oracle-replayable — the same reason kmeans #80 quantizes). Per
# round: one equi-join (neighbor label lookup, shuffles on the node
# key) + one (node,label) count + one per-node argmax via
# max(struct(cnt, -label)) — NO per-node window, and labels are
# localCheckpointed per round so the 4-round lineage stays flat.
# Output is the community-size histogram (size-domain bounded).
@query(
    "label_propagation_communities",
    oracle="""
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
e AS (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
d AS (SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e),
l0 AS (SELECT DISTINCT u AS x, u AS lbl FROM d),
v1 AS (SELECT d.u AS x, p.lbl AS l, CAST(COUNT(*) AS BIGINT) AS c
       FROM d JOIN l0 p ON d.v = p.x GROUP BY 1, 2),
l1 AS (SELECT x, l AS lbl FROM (
         SELECT x, l, ROW_NUMBER() OVER (
           PARTITION BY x ORDER BY c DESC, l ASC) AS rn FROM v1)
       WHERE rn = 1),
v2 AS (SELECT d.u AS x, p.lbl AS l, CAST(COUNT(*) AS BIGINT) AS c
       FROM d JOIN l1 p ON d.v = p.x GROUP BY 1, 2),
l2 AS (SELECT x, l AS lbl FROM (
         SELECT x, l, ROW_NUMBER() OVER (
           PARTITION BY x ORDER BY c DESC, l ASC) AS rn FROM v2)
       WHERE rn = 1),
v3 AS (SELECT d.u AS x, p.lbl AS l, CAST(COUNT(*) AS BIGINT) AS c
       FROM d JOIN l2 p ON d.v = p.x GROUP BY 1, 2),
l3 AS (SELECT x, l AS lbl FROM (
         SELECT x, l, ROW_NUMBER() OVER (
           PARTITION BY x ORDER BY c DESC, l ASC) AS rn FROM v3)
       WHERE rn = 1),
v4 AS (SELECT d.u AS x, p.lbl AS l, CAST(COUNT(*) AS BIGINT) AS c
       FROM d JOIN l3 p ON d.v = p.x GROUP BY 1, 2),
l4 AS (SELECT x, l AS lbl FROM (
         SELECT x, l, ROW_NUMBER() OVER (
           PARTITION BY x ORDER BY c DESC, l ASC) AS rn FROM v4)
       WHERE rn = 1),
sz AS (SELECT lbl, CAST(COUNT(*) AS BIGINT) AS size FROM l4 GROUP BY lbl)
SELECT size, CAST(COUNT(*) AS BIGINT) AS n_communities
FROM sz GROUP BY size
""",
)
def label_propagation_communities(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from koalas_spark.queries.mining import label_rounds

    # the oracle replays all four rounds in the two-step form
    labels = label_rounds(spark, sf_dir, rounds=4)
    sz = labels.groupBy("lbl").agg(
        F.count(F.lit(1)).cast("bigint").alias("size")
    )
    return sz.groupBy("size").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_communities")
    )


# --------------------------------------------------------------------
# 243. population stability index between order-value distributions
# of two eras (the pre/post split every score-drift monitor runs):
# 10 fixed $50k value bands (DOMAIN-bounded), add-one smoothed
# proportions in exact ppm, and the per-band PSI contribution
#   (p - q) * ln(p / q)
# quantized to integer nano-PSI under the #221 ln discipline (both
# engines' ln agree to ~1 ulp; the floor boundary is ~1e-6 abs away
# at worst). Everything up to the single ln is integer, so the
# 10-row output is bit-stable on any partitioning; the corpus-side
# work is one map-side-combined aggregate per era.
@query(
    "psi_price_drift",
    oracle="""
WITH s AS (
  SELECT LEAST(CAST(FLOOR(o_totalprice) AS BIGINT) // 50000, 9) AS bucket,
         CASE WHEN CAST(o_orderdate AS DATE) < DATE '1995-01-01'
              THEN 1 ELSE 0 END AS era_a
  FROM orders),
h AS (
  SELECT bucket,
         CAST(SUM(era_a) AS BIGINT) AS ca,
         CAST(SUM(1 - era_a) AS BIGINT) AS cb
  FROM s GROUP BY bucket),
t AS (SELECT CAST(SUM(ca) AS BIGINT) AS ta,
             CAST(SUM(cb) AS BIGINT) AS tb FROM h),
p AS (
  SELECT h.bucket,
         1000000 * (h.ca + 1) // (t.ta + 10) AS p_ppm,
         1000000 * (h.cb + 1) // (t.tb + 10) AS q_ppm
  FROM h, t)
SELECT bucket, p_ppm, q_ppm,
       CAST(FLOOR((p_ppm - q_ppm)
            * LN(CAST(p_ppm AS DOUBLE) / CAST(q_ppm AS DOUBLE))
            * 1000) AS BIGINT) AS psi_nano
FROM p
""",
    # 1-row era-totals frame cross-joined onto the 10-band histogram
    allow={"BroadcastNestedLoopJoin"},
)
def psi_price_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    s = o.select(
        F.least(
            F.expr("CAST(FLOOR(o_totalprice) AS BIGINT) div 50000"),
            F.lit(9).cast("bigint"),
        ).alias("bucket"),
        F.when(
            F.col("o_orderdate").cast("date") < F.lit("1995-01-01").cast("date"),
            1,
        )
        .otherwise(0)
        .alias("era_a"),
    )
    h = s.groupBy("bucket").agg(
        F.sum("era_a").cast("bigint").alias("ca"),
        F.sum(1 - F.col("era_a")).cast("bigint").alias("cb"),
    )
    t = h.agg(
        F.sum("ca").cast("bigint").alias("ta"),
        F.sum("cb").cast("bigint").alias("tb"),
    )
    p = h.crossJoin(t).select(
        "bucket",
        F.expr("1000000 * (ca + 1) div (ta + 10)").alias("p_ppm"),
        F.expr("1000000 * (cb + 1) div (tb + 10)").alias("q_ppm"),
    )
    return p.select(
        "bucket",
        "p_ppm",
        "q_ppm",
        F.floor(
            (F.col("p_ppm") - F.col("q_ppm"))
            * F.log(
                F.col("p_ppm").cast("double") / F.col("q_ppm").cast("double")
            )
            * 1000
        )
        .cast("bigint")
        .alias("psi_nano"),
    )


# --------------------------------------------------------------------
# 244. day-of-week seasonal decomposition of event volume — the
# classical trend/seasonal split, kept integer until one fixed
# division: daily counts (one map-side-combined aggregate; the day
# table is DOMAIN-bounded), trend x7 = centered 7-row moving sum
# over the day table (bounded GlobalWindow; edge days without a full
# 7-row frame are excluded), detrended x7 = 7*count - sum7, and the
# per-weekday seasonal component is the mean detrended value as ONE
# double division (#235 discipline). Monday=0 in both engines
# (Spark weekday() == DuckDB isodow()-1).
@query(
    "seasonal_dow_decompose",
    oracle="""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM events GROUP BY day),
t AS (
  SELECT day, cnt,
         CAST(SUM(cnt) OVER (ORDER BY day
              ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS BIGINT)
           AS sum7,
         COUNT(*) OVER (ORDER BY day
              ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS nw
  FROM daily),
d AS (
  SELECT CAST(isodow(day) - 1 AS BIGINT) AS weekday,
         7 * cnt - sum7 AS detr7
  FROM t WHERE nw = 7)
SELECT weekday,
       CAST(COUNT(*) AS BIGINT) AS n_days,
       CAST(SUM(detr7) AS BIGINT) AS sum_detr7,
       ROUND(CAST(SUM(detr7) AS DOUBLE) / (7.0 * COUNT(*)), 6)
         AS seasonal
FROM d GROUP BY weekday
""",
    allow={"GlobalWindow"},
)
def seasonal_dow_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    w = Window.orderBy("day").rowsBetween(-3, 3)
    t = daily.select(
        "day",
        "cnt",
        F.sum("cnt").over(w).cast("bigint").alias("sum7"),
        F.count(F.lit(1)).over(w).alias("nw"),
    )
    d = t.filter(F.col("nw") == 7).select(
        F.weekday("day").cast("bigint").alias("weekday"),
        (7 * F.col("cnt") - F.col("sum7")).alias("detr7"),
    )
    return d.groupBy("weekday").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.sum("detr7").cast("bigint").alias("sum_detr7"),
        F.round(
            F.sum("detr7").cast("double")
            / (F.lit(7.0) * F.count(F.lit(1))),
            6,
        ).alias("seasonal"),
    )


# --------------------------------------------------------------------
# 245. Benford first-digit audit on line-item prices — the standard
# fabricated-data / corruption screen: first significant digit of
# the cents value (string head of the positive integer — no float
# log10 needed), observed share in exact ppm vs the Benford
# expectation log10(1+1/d) pre-quantized to ppm CONSTANTS (so no
# runtime transcendental at all), deviation in signed ppm. One
# map-side-combined 9-row aggregate; embarrassingly parallel at any
# scale.
@query(
    "benford_price_audit",
    oracle="""
WITH s AS (
  SELECT CAST(substr(CAST(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)
                          AS VARCHAR), 1, 1) AS BIGINT) AS digit
  FROM lineitem),
h AS (SELECT digit, CAST(COUNT(*) AS BIGINT) AS n FROM s GROUP BY digit),
t AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM h)
SELECT h.digit, h.n,
       1000000 * h.n // t.total AS obs_ppm,
       CASE h.digit
         WHEN 1 THEN CAST(301029 AS BIGINT)
         WHEN 2 THEN 176091 WHEN 3 THEN 124938
         WHEN 4 THEN 96910 WHEN 5 THEN 79181 WHEN 6 THEN 66946
         WHEN 7 THEN 57991 WHEN 8 THEN 51152 WHEN 9 THEN 45757
       END AS exp_ppm,
       1000000 * h.n // t.total
         - CASE h.digit
             WHEN 1 THEN CAST(301029 AS BIGINT)
             WHEN 2 THEN 176091 WHEN 3 THEN 124938
             WHEN 4 THEN 96910 WHEN 5 THEN 79181 WHEN 6 THEN 66946
             WHEN 7 THEN 57991 WHEN 8 THEN 51152 WHEN 9 THEN 45757
           END AS dev_ppm
FROM h, t
""",
    # 1-row total frame cross-joined onto the 9-digit histogram
    allow={"BroadcastNestedLoopJoin"},
)
def benford_price_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    # floor(1e6 * log10(1 + 1/d)) for d = 1..9, precomputed once — the
    # oracle inlines the identical constants
    exp_ppm = [301029, 176091, 124938, 96910, 79181, 66946, 57991, 51152, 45757]
    li = _t(spark, sf_dir, "lineitem")
    s = li.select(
        F.substring(
            F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
            .cast("bigint")
            .cast("string"),
            1,
            1,
        )
        .cast("bigint")
        .alias("digit")
    )
    h = s.groupBy("digit").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    t = h.agg(F.sum("n").cast("bigint").alias("total"))
    exp_col = F.element_at(
        F.array(*[F.lit(v) for v in exp_ppm]), F.col("digit").cast("int")
    ).cast("bigint")
    j = h.crossJoin(t)
    return j.select(
        "digit",
        "n",
        F.expr("1000000 * n div total").alias("obs_ppm"),
        exp_col.alias("exp_ppm"),
        (F.expr("1000000 * n div total") - exp_col).alias("dev_ppm"),
    )


# --------------------------------------------------------------------
# 246. weighted sampling WITHOUT replacement via Efraimidis-Spirakis
# A-ES keys — the one-pass distributed answer to "sample 100 docs
# proportional to token count": each doc draws u from its md5 coin
# (portable, reproducible on any partitioning — the repo-wide
# hash-coin rule), key = ln(u)/w quantized to an INTEGER under the
# #221 ln discipline so the ranking itself is integer-exact
# cross-engine, and the sample is TakeOrdered top-100 by
# (key desc, doc_id) — O(k) per partition then O(k) at the driver,
# no global sort, no rejection rounds.
@query(
    "weighted_sample_aes",
    oracle="""
WITH s AS (
  SELECT doc_id,
         GREATEST(len(regexp_split_to_array(trim(text), '\\s+')), 1)
           AS w,
         CAST(('0x' || substr(md5('aes:' || CAST(doc_id AS VARCHAR)),
                              1, 8)) AS BIGINT) AS u
  FROM documents),
k AS (
  SELECT doc_id, CAST(w AS BIGINT) AS weight,
         CAST(FLOOR(LN((u + 1) / 4294967296.0) * 1073741824 / w)
              AS BIGINT) AS key_q
  FROM s)
SELECT doc_id, weight, key_q
FROM k ORDER BY key_q DESC, doc_id LIMIT 100
""",
)
def weighted_sample_aes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from koalas_spark.functions.textfn import tokens

    d = _t(spark, sf_dir, "documents")
    s = d.select(
        "doc_id",
        F.greatest(F.size(tokens(F.col("text"))).cast("bigint"), F.lit(1))
        .alias("w"),
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("aes:"), F.col("doc_id").cast("string"))),
                1,
                8,
            ),
            16,
            10,
        )
        .cast("bigint")
        .alias("u"),
    )
    k = s.select(
        "doc_id",
        F.col("w").alias("weight"),
        F.floor(
            F.log((F.col("u") + 1) / F.lit(4294967296.0))
            * 1073741824
            / F.col("w")
        )
        .cast("bigint")
        .alias("key_q"),
    )
    return k.orderBy(F.col("key_q").desc(), F.col("doc_id")).limit(100)


# --------------------------------------------------------------------
# 247. multinomial naive-Bayes language classifier — the TRAINED
# counterpart to the heuristic langid #46, and the shape of every
# count-based quality/domain classifier a curation pipeline trains:
# md5-coin 75/25 train/test split (the repo-wide portable-coin rule),
# add-one-smoothed token log-likelihoods per language QUANTIZED to
# integers (#221 ln discipline) over the (train-vocab x 5-language)
# model table, scoring = ONE equi-join of test tokens against the
# broadcast-sized model + an integer sum per (doc, lang), argmax via
# max(struct(score, -langrank)) with lexicographic tie-break. Output
# is the 5x5 confusion matrix. Corpus-side work: two token-count
# aggregates + one join keyed on token; the model table is
# vocab-bounded, never corpus-bounded.
@query(
    "naive_bayes_langid",
    oracle="""
WITH d AS (
  SELECT doc_id, lang, text,
         substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'c0' AS is_train
  FROM documents),
tok AS (
  SELECT doc_id, lang, is_train,
         unnest(regexp_split_to_array(trim(text), '\\s+')) AS token
  FROM d),
langs AS (SELECT DISTINCT lang FROM d),
vocab AS (SELECT DISTINCT token FROM tok WHERE is_train),
cnt AS (
  SELECT lang, token, CAST(COUNT(*) AS BIGINT) AS c
  FROM tok WHERE is_train GROUP BY lang, token),
tot AS (
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS t
  FROM tok WHERE is_train GROUP BY lang),
v AS (SELECT CAST(COUNT(*) AS BIGINT) AS vs FROM vocab),
model AS (
  SELECT l.lang, w.token,
         CAST(FLOOR(LN((COALESCE(c.c, 0) + 1.0) / (tot.t + v.vs))
              * 1048576) AS BIGINT) AS llq
  FROM langs l
  CROSS JOIN vocab w
  CROSS JOIN v
  JOIN tot ON tot.lang = l.lang
  LEFT JOIN cnt c ON c.lang = l.lang AND c.token = w.token),
prior AS (
  SELECT lang,
         CAST(FLOOR(LN(CAST(COUNT(*) AS DOUBLE)
              / (SELECT COUNT(*) FROM d WHERE is_train))
              * 1048576) AS BIGINT) AS pq
  FROM d WHERE is_train GROUP BY lang),
scores AS (
  SELECT t.doc_id, m.lang,
         CAST(SUM(m.llq) AS BIGINT) + ANY_VALUE(p.pq) AS score
  FROM tok t
  JOIN model m ON m.token = t.token
  JOIN prior p ON p.lang = m.lang
  WHERE NOT t.is_train
  GROUP BY t.doc_id, m.lang),
pred AS (
  SELECT doc_id, lang AS predicted FROM (
    SELECT doc_id, lang, ROW_NUMBER() OVER (
      PARTITION BY doc_id ORDER BY score DESC, lang ASC) AS rn
    FROM scores)
  WHERE rn = 1)
SELECT d.lang AS true_lang, pred.predicted,
       CAST(COUNT(*) AS BIGINT) AS n_docs
FROM d JOIN pred ON pred.doc_id = d.doc_id
WHERE NOT d.is_train
GROUP BY d.lang, pred.predicted
""",
    # 5-row language frame and 1-row vocab-size/train-count frames
    # cross-joined to build the vocab x language model table
    allow={"BroadcastNestedLoopJoin"},
)
def naive_bayes_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    from koalas_spark.functions.textfn import tokens

    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        "text",
        (
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
            < F.lit("c0")
        ).alias("is_train"),
    )
    tok = d.select(
        "doc_id",
        "lang",
        "is_train",
        F.explode(tokens(F.col("text"))).alias("token"),
    ).localCheckpoint(eager=False)
    tr = tok.filter("is_train")
    langs = d.select("lang").distinct()
    vocab = tr.select("token").distinct()
    cnt = tr.groupBy("lang", "token").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    tot = tr.groupBy("lang").agg(F.count(F.lit(1)).cast("bigint").alias("t"))
    v = vocab.agg(F.count(F.lit(1)).cast("bigint").alias("vs"))
    model = (
        langs.crossJoin(vocab)
        .crossJoin(v)
        .join(F.broadcast(tot), "lang")
        .join(cnt, ["lang", "token"], "left")
        .select(
            "lang",
            "token",
            F.floor(
                F.log(
                    (F.coalesce(F.col("c"), F.lit(0)) + F.lit(1.0))
                    / (F.col("t") + F.col("vs"))
                )
                * 1048576
            )
            .cast("bigint")
            .alias("llq"),
        )
    )
    n_train = d.filter("is_train").agg(
        F.count(F.lit(1)).cast("bigint").alias("nt")
    )
    prior = (
        d.filter("is_train")
        .groupBy("lang")
        .agg(F.count(F.lit(1)).cast("bigint").alias("nl"))
        .crossJoin(n_train)
        .select(
            "lang",
            F.floor(
                F.log(F.col("nl").cast("double") / F.col("nt")) * 1048576
            )
            .cast("bigint")
            .alias("pq"),
        )
    )
    scores = (
        tok.filter(~F.col("is_train"))
        .select("doc_id", "token")
        .join(model.select("lang", "token", "llq"), "token")
        .join(F.broadcast(prior), "lang")
        .groupBy("doc_id", "lang")
        .agg(
            (F.sum("llq").cast("bigint") + F.any_value("pq")).alias("score")
        )
    )
    # argmax (score desc, lang asc): langs are short strings — flip the
    # order with a struct over (score, negated-rank) is not possible on
    # strings, so use min over (-score, lang)
    pred = (
        scores.groupBy("doc_id")
        .agg(F.min(F.struct((-F.col("score")).alias("ns"), "lang")).alias("m"))
        .select("doc_id", F.col("m.lang").alias("predicted"))
    )
    return (
        d.filter(~F.col("is_train"))
        .join(pred, "doc_id")
        .groupBy(F.col("lang").alias("true_lang"), "predicted")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    )


# --------------------------------------------------------------------
# 248. l-diversity audit — the re-identification screen k-anonymity
# #203 does NOT cover (a k-large group whose sensitive value is
# constant still leaks): per quasi-identifier group (nation x market
# segment — DOMAIN-bounded output), group size k, number of DISTINCT
# sensitive values (account-balance $1k band), and the failing-group
# report at l = 3. One grouped aggregate with map-side combine;
# countDistinct stays inside the bounded group.
@query(
    "l_diversity_audit",
    oracle="""
WITH g AS (
  SELECT c_nationkey, c_mktsegment,
         CAST(COUNT(*) AS BIGINT) AS k,
         CAST(COUNT(DISTINCT CAST(FLOOR(c_acctbal / 1000) AS BIGINT))
           AS BIGINT) AS l
  FROM customer GROUP BY c_nationkey, c_mktsegment)
SELECT c_nationkey, c_mktsegment, k, l,
       CAST(CASE WHEN l < 3 THEN 1 ELSE 0 END AS BIGINT) AS fails_l3
FROM g
""",
)
def l_diversity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    g = c.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.countDistinct(
            F.floor(F.col("c_acctbal") / 1000).cast("bigint")
        )
        .cast("bigint")
        .alias("l"),
    )
    return g.select(
        "c_nationkey",
        "c_mktsegment",
        "k",
        "l",
        F.when(F.col("l") < 3, 1).otherwise(0).cast("bigint").alias("fails_l3"),
    )


# --------------------------------------------------------------------
# 249. KMV (k-minimum-values) theta-sketch set operations — the
# mergeable-sketch answer to "how many users overlap between two
# eras" when exact distinct-intersection is too expensive: per era,
# the k=256 SMALLEST md5 hash values of the distinct user set
# (TakeOrdered — O(k) per partition, O(k) driver state, trivially
# mergeable), distinct estimate (k-1)/theta_norm, intersection via
# the standard theta combine: count sketch hashes present in BOTH
# below min(theta_a, theta_b). All hashes are integers; the only
# floats are three fixed final divisions, reported next to the EXACT
# counts so the error is visible (and oracle-checked).
@query(
    "sketch_kmv_set_ops",
    oracle="""
WITH u AS (
  SELECT DISTINCT user_id,
         CAST(ts AS DATE) < DATE '2024-01-01' AS era_a
  FROM events),
h AS (
  SELECT era_a,
         CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
              AS BIGINT) AS hv
  FROM u GROUP BY era_a, user_id),
hd AS (SELECT DISTINCT era_a, hv FROM h),
ka AS (SELECT hv FROM hd WHERE era_a ORDER BY hv LIMIT 256),
kb AS (SELECT hv FROM hd WHERE NOT era_a ORDER BY hv LIMIT 256),
ta AS (SELECT MAX(hv) AS theta FROM ka),
tb AS (SELECT MAX(hv) AS theta FROM kb),
tmin AS (SELECT LEAST(ta.theta, tb.theta) AS th FROM ta, tb),
inter AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS ni
  FROM ka JOIN kb USING (hv), tmin
  WHERE ka.hv < tmin.th OR ka.hv = tmin.th),
ex AS (
  SELECT CAST(SUM(CASE WHEN era_a THEN 1 ELSE 0 END) AS BIGINT) AS na,
         CAST(SUM(CASE WHEN era_a THEN 0 ELSE 1 END) AS BIGINT) AS nb
  FROM hd),
exi AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS nab FROM (
    SELECT user_id FROM u GROUP BY user_id HAVING COUNT(*) = 2))
SELECT ex.na AS exact_a, ex.nb AS exact_b, exi.nab AS exact_inter,
       ROUND(255.0 * 1152921504606846976 / ta.theta, 2) AS est_a,
       ROUND(255.0 * 1152921504606846976 / tb.theta, 2) AS est_b,
       ROUND(inter.ni * 1152921504606846976.0 / tmin.th, 2) AS est_inter
FROM ex, exi, ta, tb, tmin, inter
""",
    # 256-row sketch frames and 1-row theta/stat frames cross-joined
    allow={"BroadcastNestedLoopJoin"},
)
def sketch_kmv_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    u = ev.select(
        "user_id",
        (F.col("ts").cast("date") < F.lit("2024-01-01").cast("date")).alias(
            "era_a"
        ),
    ).distinct()
    hd = u.select(
        "era_a",
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 15), 16, 10)
        .cast("bigint")
        .alias("hv"),
    ).distinct()
    ka = hd.filter("era_a").select("hv").orderBy("hv").limit(256)
    kb = hd.filter(~F.col("era_a")).select("hv").orderBy("hv").limit(256)
    ta = ka.agg(F.max("hv").alias("theta_a"))
    tb = kb.agg(F.max("hv").alias("theta_b"))
    tmin = ta.crossJoin(tb).select(
        "theta_a", "theta_b", F.least("theta_a", "theta_b").alias("th")
    )
    inter = (
        ka.join(kb, "hv")
        .crossJoin(tmin.select("th"))
        .filter(F.col("hv") <= F.col("th"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("ni"))
    )
    ex = hd.agg(
        F.sum(F.when(F.col("era_a"), 1).otherwise(0))
        .cast("bigint")
        .alias("exact_a"),
        F.sum(F.when(F.col("era_a"), 0).otherwise(1))
        .cast("bigint")
        .alias("exact_b"),
    )
    exi = (
        u.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("ne"))
        .filter("ne = 2")
        .agg(F.count(F.lit(1)).cast("bigint").alias("exact_inter"))
    )
    scale = 1152921504606846976  # 2^60 — md5 15-hex values live in [0, 2^60)
    return (
        ex.crossJoin(exi)
        .crossJoin(tmin)
        .crossJoin(inter)
        .select(
            "exact_a",
            "exact_b",
            "exact_inter",
            F.round(F.lit(255.0) * scale / F.col("theta_a"), 2).alias("est_a"),
            F.round(F.lit(255.0) * scale / F.col("theta_b"), 2).alias("est_b"),
            F.round(F.col("ni") * F.lit(float(scale)) / F.col("th"), 2).alias(
                "est_inter"
            ),
        )
    )


# --------------------------------------------------------------------
# 250. chi-square feature selection — "which tokens identify English
# documents": per-token 2x2 contingency table from doc-level presence
# (one distinct (doc, token) aggregate keyed by token — never
# corpus-quadratic), chi2 through DECIMAL(38) cross-products (the
# (ad-bc)^2 numerator overflows int64 by design), quantized to an
# INTEGER milli-score so the top-20 ranking is integer-exact
# cross-engine; document-frequency >= 5 floor keeps the tail out.
@query(
    "chi2_feature_selection",
    oracle="""
WITH d AS (SELECT doc_id, lang = 'en' AS pos, text FROM documents),
n AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS nd,
         CAST(SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS np
  FROM d),
tok AS (
  SELECT DISTINCT doc_id, pos,
         unnest(regexp_split_to_array(trim(text), '\\s+')) AS token
  FROM d),
ct AS (
  SELECT token,
         CAST(SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS a,
         CAST(SUM(CASE WHEN pos THEN 0 ELSE 1 END) AS BIGINT) AS b
  FROM tok GROUP BY token HAVING COUNT(*) >= 5),
x AS (
  SELECT token, a, b, n.np - a AS c, n.nd - n.np - b AS dd, n.nd AS nd
  FROM ct, n),
chi AS (
  SELECT token, a, b,
         CAST(FLOOR(1000 * CAST(CAST(nd AS VARCHAR) AS DOUBLE)
           * CAST(CAST(CAST(a AS DECIMAL(38,0)) * dd - CAST(b AS DECIMAL(38,0)) * c
                  AS VARCHAR) AS DOUBLE)
           * CAST(CAST(CAST(a AS DECIMAL(38,0)) * dd - CAST(b AS DECIMAL(38,0)) * c
                  AS VARCHAR) AS DOUBLE)
           / (CAST(CAST(CAST(a + b AS DECIMAL(38,0)) * (c + dd)
                   AS VARCHAR) AS DOUBLE)
              * CAST(CAST(CAST(a + c AS DECIMAL(38,0)) * (b + dd)
                     AS VARCHAR) AS DOUBLE))) AS BIGINT) AS chi2_milli
  FROM x)
SELECT token, a AS df_pos, b AS df_neg, chi2_milli
FROM chi ORDER BY chi2_milli DESC, token LIMIT 20
""",
    # 1-row corpus-stats frame cross-joined onto the per-token table
    allow={"BroadcastNestedLoopJoin"},
)
def chi2_feature_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    from koalas_spark.functions.textfn import tokens as toks

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", (F.col("lang") == "en").alias("pos"), "text"
    )
    n = d.agg(
        F.count(F.lit(1)).cast("bigint").alias("nd"),
        F.sum(F.when(F.col("pos"), 1).otherwise(0)).cast("bigint").alias("np"),
    )
    tok = d.select(
        "doc_id", "pos", F.explode(toks(F.col("text"))).alias("token")
    ).distinct()
    ct = (
        tok.groupBy("token")
        .agg(
            F.sum(F.when(F.col("pos"), 1).otherwise(0))
            .cast("bigint")
            .alias("a"),
            F.sum(F.when(F.col("pos"), 0).otherwise(1))
            .cast("bigint")
            .alias("b"),
        )
        .filter(F.col("a") + F.col("b") >= 5)
    )
    x = ct.crossJoin(n).select(
        "token",
        "a",
        "b",
        (F.col("np") - F.col("a")).alias("c"),
        (F.col("nd") - F.col("np") - F.col("b")).alias("dd"),
        "nd",
    )
    dec = lambda col: col.cast("decimal(38,0)")
    as_d = lambda col: col.cast("string").cast("double")
    num = as_d(dec(F.col("a")) * F.col("dd") - dec(F.col("b")) * F.col("c"))
    den = as_d(dec(F.col("a") + F.col("b")) * (F.col("c") + F.col("dd"))) * as_d(
        dec(F.col("a") + F.col("c")) * (F.col("b") + F.col("dd"))
    )
    chi = x.select(
        "token",
        F.col("a").alias("df_pos"),
        F.col("b").alias("df_neg"),
        F.floor(1000 * as_d(F.col("nd")) * num * num / den)
        .cast("bigint")
        .alias("chi2_milli"),
    )
    return chi.orderBy(F.col("chi2_milli").desc(), "token").limit(20)
