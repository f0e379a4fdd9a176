"""Round-11 batch-1 additions (module analytics66) (SURVEY.md §2 extensions): McNemar
paired change test, delete-one-day jackknife variance, Holt linear
trend smoothing (recursive-CTE oracle), per-source lexical diversity
(TTR/hapax), inverse-Simpson language diversity, corpus unigram
cross-entropy (perplexity's log form), and probe-set local clustering
coefficients.

Reference parity note: none of these exist in the reference (its
surface is the frame ops in source/koalas/dataframe.d:73-311); they
extend the statistics / text-quality / graph shelves under the repo
determinism rules (queries/__init__.py docstring): exact integer and
DECIMAL(38) reductions, #221 nano-ln quantization for the one
transcendental, the VARCHAR-hop DECIMAL->DOUBLE cast, FLOOR-double
division for DECIMAL ratios (never integer-divide DECIMALs — the r9
rounding hazard), and bounded-domain driver-side iteration only where
the domain is provably constant in the corpus size (the day table).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from koalas_spark.frame import local_rows
from koalas_spark.queries import query
from koalas_spark.queries.analytics import _t


# --------------------------------------------------------------------
# 437. McNemar paired change test — the A/B test for PAIRED binary
# outcomes (did the same part's return behavior CHANGE between eras?),
# where the two-proportion z (#216) would be wrong because eras share
# parts. Pairs: parts shipped in both 1996 and 1997; outcome = "had
# any return that year". The statistic uses only the DISCORDANT cells
# (n10, n01): chi2 = (n10-n01)^2 / (n10+n01), one identical-shape
# double per engine. Corpus work: one map-side-combined (part, year)
# groupBy + one part-keyed self-join of the ~|parts| aggregate.
@query(
    "mcnemar_test_eras",
    oracle="""
WITH y AS (
  SELECT l_partkey AS pk, EXTRACT(year FROM l_shipdate) AS yr,
         MAX(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS ret
  FROM lineitem
  WHERE EXTRACT(year FROM l_shipdate) IN (1996, 1997)
  GROUP BY 1, 2),
p AS (
  SELECT a.ret AS r96, b.ret AS r97
  FROM y a JOIN y b ON a.pk = b.pk AND a.yr = 1996 AND b.yr = 1997),
ct AS (
  SELECT
    CAST(SUM(CASE WHEN r96 = 1 AND r97 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n11,
    CAST(SUM(CASE WHEN r96 = 1 AND r97 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n10,
    CAST(SUM(CASE WHEN r96 = 0 AND r97 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n01,
    CAST(SUM(CASE WHEN r96 = 0 AND r97 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n00
  FROM p)
SELECT n11, n10, n01, n00,
       CASE WHEN n10 + n01 > 0 THEN
         ROUND(CAST((n10 - n01) * (n10 - n01) AS DOUBLE)
               / CAST(n10 + n01 AS DOUBLE), 6)
       END AS chi2_mcnemar
FROM ct
""",
)
def mcnemar_test_eras(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("pk"),
        F.year("l_shipdate").alias("yr"),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("r"),
    ).filter(F.col("yr").isin(1996, 1997))
    y = li.groupBy("pk", "yr").agg(F.max("r").alias("ret"))
    a = y.filter(F.col("yr") == 1996).select(
        "pk", F.col("ret").alias("r96")
    )
    b = y.filter(F.col("yr") == 1997).select(
        "pk", F.col("ret").alias("r97")
    )
    p = a.join(b, "pk")
    ct = p.agg(
        F.sum(
            F.when((F.col("r96") == 1) & (F.col("r97") == 1), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n11"),
        F.sum(
            F.when((F.col("r96") == 1) & (F.col("r97") == 0), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n10"),
        F.sum(
            F.when((F.col("r96") == 0) & (F.col("r97") == 1), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n01"),
        F.sum(
            F.when((F.col("r96") == 0) & (F.col("r97") == 0), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n00"),
    )
    return ct.select(
        "n11",
        "n10",
        "n01",
        "n00",
        F.when(
            F.col("n10") + F.col("n01") > 0,
            F.round(
                ((F.col("n10") - F.col("n01"))
                 * (F.col("n10") - F.col("n01"))).cast("double")
                / (F.col("n10") + F.col("n01")).cast("double"),
                6,
            ),
        ).alias("chi2_mcnemar"),
    )


# --------------------------------------------------------------------
# 438. delete-one-day jackknife variance of mean daily revenue — the
# resampling-free uncertainty estimate (bootstrap #351's deterministic
# cousin; no coins at all). Identity: mean_i - mean =
# (S - n*x_i) / (n(n-1)), so var_jack = sum_i (S - n*x_i)^2
# / (n^3 (n-1)) — the numerator is an exact DECIMAL(38) sum over the
# day DOMAIN (bounded at any corpus size), and the single division is
# FLOOR-free (one double op, identical shape both engines, VARCHAR
# hop for the DECIMAL exit). Corpus work: the shared daily_revenue
# artifact build (one map-side-combined groupBy).
@query(
    "jackknife_variance_daily",
    oracle="""
WITH days AS (
  SELECT CAST(datediff('day', DATE '1995-01-01',
                       CAST(o_orderdate AS DATE)) AS BIGINT) AS d,
         CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
           AS BIGINT) AS x
  FROM orders GROUP BY 1),
m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(x AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS s
  FROM days),
num AS (
  SELECT CAST(SUM((m.s - m.n * CAST(days.x AS DECIMAL(38,0)))
                  * (m.s - m.n * CAST(days.x AS DECIMAL(38,0))))
              AS DECIMAL(38,0)) AS q
  FROM days, m)
SELECT m.n AS n_days,
       ROUND(CAST(CAST(m.s AS VARCHAR) AS DOUBLE) / m.n, 6)
         AS mean_cents,
       ROUND(CAST(CAST(num.q AS VARCHAR) AS DOUBLE)
             / (CAST(m.n AS DOUBLE) * m.n * m.n * (m.n - 1)), 6)
         AS var_jack,
       ROUND(SQRT(CAST(CAST(num.q AS VARCHAR) AS DOUBLE)
             / (CAST(m.n AS DOUBLE) * m.n * m.n * (m.n - 1))), 6)
         AS se_jack
FROM m, num
""",
    # 1-row (n, S) stats frame cross-joined onto the bounded day table
    allow={"BroadcastNestedLoopJoin"},
)
def jackknife_variance_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    from koalas_spark.queries.analytics import daily_revenue_table

    days = daily_revenue_table(spark, sf_dir)
    m = days.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("x").cast("decimal(38,0)"))
        .cast("decimal(38,0)")
        .alias("s"),
    )
    num = (
        days.crossJoin(m)
        .select(
            (
                (F.col("s") - F.col("n") * F.col("x").cast("decimal(38,0)"))
                * (F.col("s") - F.col("n") * F.col("x").cast("decimal(38,0)"))
            ).alias("sq"),
            "n",
            "s",
        )
        .groupBy("n", "s")
        .agg(F.sum("sq").cast("decimal(38,0)").alias("q"))
    )
    return num.select(
        F.col("n").alias("n_days"),
        F.round(
            F.col("s").cast("string").cast("double") / F.col("n"), 6
        ).alias("mean_cents"),
        F.round(
            F.col("q").cast("string").cast("double")
            / (
                F.col("n").cast("double")
                * F.col("n")
                * F.col("n")
                * (F.col("n") - 1)
            ),
            6,
        ).alias("var_jack"),
        F.round(
            F.sqrt(
                F.col("q").cast("string").cast("double")
                / (
                    F.col("n").cast("double")
                    * F.col("n")
                    * F.col("n")
                    * (F.col("n") - 1)
                )
            ),
            6,
        ).alias("se_jack"),
    )


# --------------------------------------------------------------------
# 439. Holt linear-trend smoothing over daily revenue — the
# two-parameter exponential smoother (level + trend; EWMA #331 tracks
# level only). alpha = beta = 1/2 keeps every recurrence step EXACT
# integer cents under TRUNCATING halving (DuckDB's integer `//`
# truncates toward zero — SELECT -7//2 = -3 — while Python's floors,
# so the driver-side loop truncates explicitly; trend goes negative,
# making the distinction live):
#   l_t = trunc2(x_t + l_{t-1} + b_{t-1})
#   b_t = trunc2(l_t - l_{t-1} + b_{t-1})     (init l_1=x_1, b_1=x_2-x_1)
# The corpus collapses to the ~2.4k-row day DOMAIN first (the shared
# artifact); the inherently-sequential recurrence then runs
# driver-side over that bounded table (the kmeans/PCA bounded-state
# discipline — NOT corpus-scale collect), while the oracle replays it
# as a DuckDB RECURSIVE CTE. Output: final level/trend and the
# 7-day-ahead linear forecast.
@query(
    "holt_linear_daily",
    oracle="""
WITH RECURSIVE days AS MATERIALIZED (
  SELECT ROW_NUMBER() OVER (ORDER BY d) AS i, x FROM (
    SELECT CAST(datediff('day', DATE '1995-01-01',
                         CAST(o_orderdate AS DATE)) AS BIGINT) AS d,
           CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
             AS BIGINT) AS x
    FROM orders GROUP BY 1)),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM days),
r(i, l, b) AS (
  SELECT CAST(1 AS BIGINT), x,
         (SELECT x FROM days WHERE i = 2) - x
  FROM days WHERE i = 1
  UNION ALL
  SELECT d.i,
         (d.x + r.l + r.b) // 2,
         (((d.x + r.l + r.b) // 2) - r.l + r.b) // 2
  FROM r JOIN days d ON d.i = r.i + 1)
SELECT n.n AS n_days,
       CAST(r.l AS BIGINT) AS level_cents,
       CAST(r.b AS BIGINT) AS trend_cents,
       CAST(r.l + 7 * r.b AS BIGINT) AS forecast_7d_cents
FROM r, n WHERE r.i = n.n
""",
)
def holt_linear_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    from koalas_spark.queries.analytics import daily_revenue_table

    days = daily_revenue_table(spark, sf_dir)
    # bounded driver state: the day table is ~2.4k (d, x) int rows at
    # ANY corpus size (DOMAIN-bounded); the recurrence is inherently
    # sequential, so driver-side exact-int iteration IS the plan
    rows = sorted(
        ((r["d"], r["x"]) for r in days.collect()), key=lambda t: t[0]
    )
    xs = [int(x) for _, x in rows]

    def trunc2(v: int) -> int:
        # DuckDB's integer // truncates toward zero; Python's floors
        return -((-v) // 2) if v < 0 else v // 2

    n = len(xs)
    lvl = xs[0]
    trend = (xs[1] - xs[0]) if n >= 2 else 0
    for t in range(1, n):
        new_lvl = trunc2(xs[t] + lvl + trend)
        trend = trunc2(new_lvl - lvl + trend)
        lvl = new_lvl
    return local_rows(
        spark,
        [(n, lvl, trend, lvl + 7 * trend)],
        "n_days bigint, level_cents bigint, trend_cents bigint,"
        " forecast_7d_cents bigint",
    )


# --------------------------------------------------------------------
# 440. per-source lexical diversity — type-token ratio and hapax-
# legomenon share, the two classic vocabulary-richness signals a text
# curation pipeline thresholds on (template/boilerplate content has
# LOW ttr and LOW hapax share). One (source, token) map-side-combined
# groupBy collapses the corpus; everything after runs on the
# per-source vocabulary aggregate. Exact ppm via non-negative //.
@query(
    "type_token_ratio_sources",
    oracle="""
WITH tok AS (
  SELECT source, unnest(string_split_regex(TRIM(text), '\\s+')) AS token
  FROM documents),
st AS (
  SELECT source, token, CAST(COUNT(*) AS BIGINT) AS c
  FROM tok GROUP BY 1, 2),
agg AS (
  SELECT source,
         CAST(SUM(c) AS BIGINT) AS n_tokens,
         CAST(COUNT(*) AS BIGINT) AS n_types,
         CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax
  FROM st GROUP BY source)
SELECT source, n_tokens, n_types, n_hapax,
       CAST(n_types * 1000000 // n_tokens AS BIGINT) AS ttr_ppm,
       CAST(n_hapax * 1000000 // n_tokens AS BIGINT) AS hapax_ppm
FROM agg
""",
)
def type_token_ratio_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    from koalas_spark.functions.textfn import tokens

    d = _t(spark, sf_dir, "documents")
    st = (
        d.select("source", F.explode(tokens(F.col("text"))).alias("token"))
        .groupBy("source", "token")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    agg = st.groupBy("source").agg(
        F.sum("c").cast("bigint").alias("n_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("n_types"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_hapax"),
    )
    return agg.select(
        "source",
        "n_tokens",
        "n_types",
        "n_hapax",
        F.expr("CAST(n_types * 1000000 div n_tokens AS BIGINT)").alias(
            "ttr_ppm"
        ),
        F.expr("CAST(n_hapax * 1000000 div n_tokens AS BIGINT)").alias(
            "hapax_ppm"
        ),
    )


# --------------------------------------------------------------------
# 441. inverse-Simpson language diversity per source — "how many
# effective languages does this source really have" (ecology's Hill
# number q=2, the mix-monitoring twin of entropy #163 shapes):
# eff = N^2 / sum n_i^2, simpson concentration = sum n_i^2 / N^2.
# Products ride DECIMAL(38) (N^2 wraps int64 past ~3e9 docs) with the
# FLOOR-double division discipline for the two ratios. Corpus work:
# one (source, lang) map-side-combined groupBy over the bounded
# source x lang domain.
@query(
    "simpson_diversity_sources",
    oracle="""
WITH c AS (
  SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS n
  FROM documents GROUP BY 1, 2),
a AS (
  SELECT source,
         CAST(SUM(n) AS BIGINT) AS n_docs,
         CAST(COUNT(*) AS BIGINT) AS n_langs,
         CAST(SUM(CAST(n AS DECIMAL(38,0)) * n) AS DECIMAL(38,0)) AS sum2
  FROM c GROUP BY source)
SELECT source, n_docs, n_langs,
       CAST(FLOOR(CAST(CAST(sum2 * 1000000 AS VARCHAR) AS DOUBLE)
             / (CAST(n_docs AS DOUBLE) * n_docs)) AS BIGINT)
         AS simpson_ppm,
       CAST(FLOOR(CAST(n_docs AS DOUBLE) * n_docs * 1000
             / CAST(CAST(sum2 AS VARCHAR) AS DOUBLE)) AS BIGINT)
         AS eff_langs_milli
FROM a
""",
)
def simpson_diversity_sources(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    c = d.groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    a = c.groupBy("source").agg(
        F.sum("n").cast("bigint").alias("n_docs"),
        F.count(F.lit(1)).cast("bigint").alias("n_langs"),
        F.sum(F.col("n").cast("decimal(38,0)") * F.col("n"))
        .cast("decimal(38,0)")
        .alias("sum2"),
    )
    return a.select(
        "source",
        "n_docs",
        "n_langs",
        F.floor(
            (F.col("sum2") * 1000000).cast("string").cast("double")
            / (F.col("n_docs").cast("double") * F.col("n_docs"))
        )
        .cast("bigint")
        .alias("simpson_ppm"),
        F.floor(
            F.col("n_docs").cast("double") * F.col("n_docs") * 1000
            / F.col("sum2").cast("string").cast("double")
        )
        .cast("bigint")
        .alias("eff_langs_milli"),
    )


# --------------------------------------------------------------------
# 442. corpus unigram cross-entropy per source — perplexity's log form
# (PPL = exp(H)), THE fluency/quality score every LM-data pipeline
# computes (CCNet-style filtering ranks documents by LM perplexity;
# the unigram model is its vocabulary-level baseline). Model: corpus-
# wide token unigram p(t) = c_t / N. Per-token surprisal -ln p(t) is
# nano-quantized ONCE per DISTINCT token (#221 — the ln argument is a
# ratio of exact integers, identical both engines); per-source H is
# then an exact integer expectation: sum_t c_st * nano_t // n_s, with
# the weighted sum in DECIMAL(38) (token count x 30e9 nanos wraps
# int64 past ~3e8 tokens). Corpus work: one (source, token) groupBy +
# one token-keyed model join — the naive-Bayes #247 join shape.
@query(
    "text_perplexity_unigram",
    oracle="""
WITH tok AS (
  SELECT source, unnest(string_split_regex(TRIM(text), '\\s+')) AS token
  FROM documents),
st AS (
  SELECT source, token, CAST(COUNT(*) AS BIGINT) AS c
  FROM tok GROUP BY 1, 2),
model AS (
  SELECT token, CAST(SUM(c) AS BIGINT) AS ct,
         CAST(SUM(SUM(c)) OVER () AS BIGINT) AS n
  FROM st GROUP BY token),
nano AS (
  SELECT token,
         CAST(FLOOR(-LN(CAST(ct AS DOUBLE) / n) * 1000000000 + 0.5)
           AS BIGINT) AS surp_nano
  FROM model),
j AS (
  SELECT st.source, st.c, nano.surp_nano
  FROM st JOIN nano ON st.token = nano.token),
agg AS (
  SELECT source,
         CAST(SUM(c) AS BIGINT) AS n_tokens,
         CAST(SUM(CAST(c AS DECIMAL(38,0)) * surp_nano) AS DECIMAL(38,0))
           AS w
  FROM j GROUP BY source)
SELECT source, n_tokens,
       CAST(FLOOR(CAST(CAST(w AS VARCHAR) AS DOUBLE) / n_tokens)
         AS BIGINT) AS h_nano
FROM agg
""",
    # 1-row corpus-token-total frame cross-joined onto the vocab model
    allow={"BroadcastNestedLoopJoin"},
)
def text_perplexity_unigram(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from koalas_spark.functions.textfn import tokens

    d = _t(spark, sf_dir, "documents")
    st = (
        d.select("source", F.explode(tokens(F.col("text"))).alias("token"))
        .groupBy("source", "token")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    # corpus token total as a 1-row frame crossed back (broadcast
    # nested loop over one row — NOT a global window over the
    # unbounded vocabulary, which the plan gate would rightly reject)
    tot = st.agg(F.sum("c").cast("bigint").alias("n"))
    model = (
        st.groupBy("token")
        .agg(F.sum("c").cast("bigint").alias("ct"))
        .crossJoin(tot)
    )
    nano = model.select(
        "token",
        F.floor(
            -F.log(F.col("ct").cast("double") / F.col("n")) * 1000000000
            + 0.5
        )
        .cast("bigint")
        .alias("surp_nano"),
    )
    j = st.join(nano, "token")
    agg = j.groupBy("source").agg(
        F.sum("c").cast("bigint").alias("n_tokens"),
        F.sum(F.col("c").cast("decimal(38,0)") * F.col("surp_nano"))
        .cast("decimal(38,0)")
        .alias("w"),
    )
    return agg.select(
        "source",
        "n_tokens",
        F.floor(
            F.col("w").cast("string").cast("double") / F.col("n_tokens")
        )
        .cast("bigint")
        .alias("h_nano"),
    )


# --------------------------------------------------------------------
# 443. probe-set local clustering coefficients — "how clique-like is
# the neighborhood of THIS node" (the per-node refinement of global
# triangle counting #171): for the 5 deterministic probe nodes (#310's
# rule, HUB-CAPPED to 2 <= deg <= 256 like #360/#299 — a single
# high-degree probe would otherwise cost d^2 wedge pairs, the one
# unbounded term in this family), t(u) = edges among neighbors of u,
# c(u) = 2t / (d(d-1)) in exact ppm. Per-probe cost is therefore at
# most cap^2 = 65k neighbor pairs semi-joined against the edge set —
# probe-bounded (5 nodes) x cap-bounded, never corpus^2; the (a < b)
# canonical pair form reuses the artifact's orientation.
@query(
    "local_clustering_probes",
    oracle="""
WITH li AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
e AS MATERIALIZED (
  SELECT a.l_partkey AS u, b.l_partkey AS v
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2),
adj AS MATERIALIZED (
  SELECT u AS c, v AS x FROM e UNION ALL SELECT v, u FROM e),
alldeg AS MATERIALIZED (
  SELECT c, CAST(COUNT(*) AS BIGINT) AS dg FROM adj GROUP BY c),
probes AS MATERIALIZED (
  SELECT c AS s FROM alldeg
  WHERE c % 97 = 0 AND dg >= 2 AND dg <= 256
  ORDER BY c LIMIT 5),
nb AS MATERIALIZED (
  SELECT probes.s, adj.x FROM probes JOIN adj ON adj.c = probes.s),
deg AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS d FROM nb GROUP BY s),
tri AS (
  SELECT a.s, CAST(COUNT(*) AS BIGINT) AS t
  FROM nb a JOIN nb b ON a.s = b.s AND a.x < b.x
  JOIN e ON e.u = a.x AND e.v = b.x
  GROUP BY a.s)
SELECT deg.s AS probe, deg.d AS degree,
       CAST(COALESCE(tri.t, 0) AS BIGINT) AS n_closed,
       CAST(CASE WHEN deg.d >= 2 THEN
         (2 * COALESCE(tri.t, 0) * 1000000) // (deg.d * (deg.d - 1))
         ELSE 0 END AS BIGINT) AS clustering_ppm
FROM deg LEFT JOIN tri ON tri.s = deg.s
""",
)
def local_clustering_probes(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from koalas_spark.queries.mining import (
        _copurchase_edge_set,
        copurchase_degree_table,
        symmetric,
    )

    e = _copurchase_edge_set(spark, sf_dir)
    adj = symmetric(e).toDF("c", "x")
    # probe selection reads the MATERIALIZED degree artifact (round
    # 12): recomputing degrees was a 2|E|-row shuffle per consumer —
    # roughly half this query's sf10 wall — for a |V|-sized pure
    # function of the pair table
    alldeg = copurchase_degree_table(spark, sf_dir).select(
        F.col("x").alias("c"), "dg"
    )
    probes = (
        alldeg.filter(
            (F.col("c") % 97 == 0)
            & (F.col("dg") >= 2)
            & (F.col("dg") <= 256)
        )
        .orderBy("c")
        .limit(5)
        .select(F.col("c").alias("s"))
    )
    nb = probes.join(adj, probes["s"] == adj["c"]).select("s", "x")
    deg = nb.groupBy("s").agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    a = nb.select("s", F.col("x").alias("xa"))
    b = nb.select(F.col("s").alias("s2"), F.col("x").alias("xb"))
    pairs = a.join(
        b, (F.col("s") == F.col("s2")) & (F.col("xa") < F.col("xb"))
    ).select("s", "xa", "xb")
    # closing join INVERTED (round 12): as `pairs LEFT SEMI e` Spark
    # must shuffle the |E|-row edge side on (u, v) — a small left
    # side cannot be the broadcast build of a semi-join — and that
    # shuffle was ~90% of the sf10 wall. pairs is <= 5 * cap^2 rows
    # BY CONSTRUCTION (the hub cap), so broadcast it under an inner
    # join instead: e streams map-side, zero shuffle. Each pairs row
    # matches at most one (distinct) edge, so the per-probe count is
    # identical.
    tri = (
        e.join(
            F.broadcast(pairs),
            (F.col("xa") == e["u"]) & (F.col("xb") == e["v"]),
        )
        .groupBy("s")
        .agg(F.count(F.lit(1)).cast("bigint").alias("t"))
    )
    out = deg.join(tri, "s", "left")
    return out.select(
        F.col("s").alias("probe"),
        F.col("d").alias("degree"),
        F.coalesce(F.col("t"), F.lit(0)).cast("bigint").alias("n_closed"),
        F.when(
            F.col("d") >= 2,
            F.expr(
                "CAST((2 * COALESCE(t, 0) * 1000000)"
                " div (d * (d - 1)) AS BIGINT)"
            ),
        )
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("clustering_ppm"),
    )


# --------------------------------------------------------------------
# 444. EXECUTE IMMEDIATE + session variables — Spark 4's dynamic-SQL
# surface (DECLARE VARIABLE / SET VAR / EXECUTE IMMEDIATE ... USING),
# the engine-native way to run parameterized SQL built at runtime
# (stored-procedure migrations, config-driven dashboards) without
# string concatenation: the ? binds through the session-variable
# layer, the body resolves through the catalog, and the resulting
# plan is byte-identical to the literal query (the IDENTIFIER() #408
# argument one level up). Same priority rollup as #408 so the demo's
# value surface is independently pinned.
@query(
    "execute_immediate_param",
    oracle="""
SELECT o_orderpriority AS priority, CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
         AS BIGINT) AS cents
FROM orders
WHERE EXTRACT(year FROM o_orderdate) = 1996
GROUP BY o_orderpriority ORDER BY priority
""",
)
def execute_immediate_param(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    # fixed view name + DECLARE OR REPLACE: idempotent across
    # invocations (the #408 catalog-hygiene rule); eager analysis
    # captures the resolved plan so later re-binds can't retarget it
    view = "orders_exec_imm_demo"
    _t(spark, sf_dir, "orders").createOrReplaceTempView(view)
    spark.sql("DECLARE OR REPLACE VARIABLE exec_imm_target_yr INT")
    spark.sql("SET VAR exec_imm_target_yr = 1996")
    return spark.sql(
        f"""
        EXECUTE IMMEDIATE
          'SELECT o_orderpriority AS priority,
                  CAST(COUNT(*) AS BIGINT) AS n_orders,
                  CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS cents
           FROM {view}
           WHERE EXTRACT(YEAR FROM o_orderdate) = ?
           GROUP BY o_orderpriority ORDER BY priority'
          USING exec_imm_target_yr
        """
    )
