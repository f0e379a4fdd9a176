"""Round-9 batch-23 additions (SURVEY.md §2 extensions): exact Shapley
channel attribution, Hellinger source divergence, and Cohen's kappa
inter-rater agreement.

Reference parity note: not in the reference (its surface is the frame
ops in source/koalas/dataframe.d:73-311); these extend the
growth/corpus/stats shelves under the repo determinism rules
(queries/__init__.py docstring): the 3-channel Shapley value is an
EXACT INTEGER once scaled by 3! = 6 (no sampling, no doubles), the
Hellinger affinity quantizes per-term sqrt to nanos before the sum
(#221 on sqrt), and kappa is one identical-shape double over exact
2x2 counts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from koalas_spark.queries import query
from koalas_spark.queries.analytics import _t

# ---- Shapley machinery: subset sums over the 8 exposure cells -----
_SH_CELLS = [
    (c, v, s) for c in (0, 1) for v in (0, 1) for s in (0, 1)
]


def _sh_v(mask: tuple[int, int, int]) -> str:
    """v(S) = conversions of users whose exposure set is a subset of S
    — a sum of exact pivot cells."""
    cells = [
        f"cv_{c}{v}{s}"
        for (c, v, s) in _SH_CELLS
        if (not c or mask[0]) and (not v or mask[1]) and (not s or mask[2])
    ]
    return "(" + " + ".join(cells) + ")"


def _sh_shap(i: int) -> str:
    """6 * Shapley_i: weights |S|!(2-|S|)! are 2,1,1,2 over the four
    coalitions not containing i."""
    others = [j for j in range(3) if j != i]

    def m(*on: int) -> tuple[int, int, int]:
        out = [0, 0, 0]
        for j in on:
            out[j] = 1
        return tuple(out)

    a, b = others
    return (
        f"2 * ({_sh_v(m(i))} - {_sh_v(m())})"
        f" + ({_sh_v(m(i, a))} - {_sh_v(m(a))})"
        f" + ({_sh_v(m(i, b))} - {_sh_v(m(b))})"
        f" + 2 * ({_sh_v(m(i, a, b))} - {_sh_v(m(a, b))})"
    )


_SH_PIVOT = ",\n         ".join(
    f"COALESCE(MAX(CASE WHEN hc = {c} AND hv = {v} AND hs = {s}"
    f" THEN cv END), 0) AS cv_{c}{v}{s}"
    for (c, v, s) in _SH_CELLS
)
_SH_CHANNELS = ("click", "view", "signup")
_SH_TOTAL = f"({_sh_v((1, 1, 1))} - {_sh_v((0, 0, 0))})"
_SH_ROWS_SQL = "\nUNION ALL\n".join(
    f"SELECT '{ch}' AS channel,"
    f" CAST({_sh_shap(i)} AS BIGINT) AS shapley_x6,"
    f" CAST((({_sh_shap(i)}) * 1000000) // (6 * {_SH_TOTAL}) AS BIGINT)"
    f" AS share_ppm FROM pv"
    for i, ch in enumerate(_SH_CHANNELS)
)


# --------------------------------------------------------------------
# 364. exact Shapley channel attribution — the game-theoretic credit
# split that first-touch (#255) and time-decay (#288) approximate:
# channels {click, view, signup}, conversion = a purchase event.
# Users collapse to their exposure-set cell (ONE corpus groupBy ->
# 8 cells), the coalition value v(S) counts conversions of users whose
# exposure is within S, and 6*Shapley_i (3! scaling) is an EXACT
# INTEGER combination of cells — no sampling, no doubles. Shares are
# exact non-negative // ppm (the game is monotone by construction).
@query(
    "shapley_channel_attribution",
    oracle=f"""
WITH per_user AS (
  SELECT user_id,
         MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS hc,
         MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS hv,
         MAX(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS hs,
         MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
           AS conv
  FROM events GROUP BY user_id),
cells AS (
  SELECT hc, hv, hs, CAST(SUM(conv) AS BIGINT) AS cv
  FROM per_user GROUP BY 1, 2, 3),
pv AS (
  SELECT {_SH_PIVOT}
  FROM cells)
SELECT channel, shapley_x6, share_ppm FROM (
{_SH_ROWS_SQL}
) t ORDER BY channel
""",
)
def shapley_channel_attribution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.max(
            F.when(F.col("event_type") == "click", 1).otherwise(0)
        ).alias("hc"),
        F.max(F.when(F.col("event_type") == "view", 1).otherwise(0)).alias(
            "hv"
        ),
        F.max(
            F.when(F.col("event_type") == "signup", 1).otherwise(0)
        ).alias("hs"),
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("conv"),
    )
    cells = per_user.groupBy("hc", "hv", "hs").agg(
        F.sum("conv").cast("bigint").alias("cv")
    )
    pv = cells.agg(
        *[
            F.coalesce(
                F.max(
                    F.when(
                        (F.col("hc") == c)
                        & (F.col("hv") == v)
                        & (F.col("hs") == s),
                        F.col("cv"),
                    )
                ),
                F.lit(0),
            ).alias(f"cv_{c}{v}{s}")
            for (c, v, s) in _SH_CELLS
        ]
    )
    rows = [
        pv.select(
            F.lit(ch).alias("channel"),
            F.expr(f"CAST({_sh_shap(i)} AS BIGINT)").alias("shapley_x6"),
            F.expr(
                f"CAST((({_sh_shap(i)}) * 1000000)"
                f" div (6 * {_SH_TOTAL}) AS BIGINT)"
            ).alias("share_ppm"),
        )
        for i, ch in enumerate(_SH_CHANNELS)
    ]
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out.orderBy("channel")


# --------------------------------------------------------------------
# 365. Hellinger distance of each source's token distribution vs the
# corpus — completes the divergence family next to #333's JSD and
# #306's KL drift: the Bhattacharyya affinity sum quantizes EACH
# term's sqrt(p*q) to integer nanos before summing (#221 applied to
# sqrt — float sums are addend-order-dependent, integer sums are
# not); H² = 1 - BC in exact nanos. Terms absent from a source
# contribute exactly 0, so only the (source × token) cells ever
# materialize. One corpus tokenization, token-keyed joins.
@query(
    "source_token_hellinger",
    oracle="""
WITH tok AS (
  SELECT source, unnest(string_split_regex(TRIM(text), '\\s+')) AS token
  FROM documents),
st AS (
  SELECT source, token, CAST(COUNT(*) AS BIGINT) AS c
  FROM tok GROUP BY 1, 2),
ct AS (
  SELECT token, CAST(SUM(c) AS BIGINT) AS ctot FROM st GROUP BY 1),
ns AS (
  SELECT source, CAST(SUM(c) AS BIGINT) AS n_s FROM st GROUP BY 1),
nt AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM st),
terms AS (
  SELECT st.source,
         CAST(FLOOR(1000000000
                * SQRT(CAST(st.c AS DOUBLE) * CAST(ct.ctot AS DOUBLE)
                       / (CAST(ns.n_s AS DOUBLE) * CAST(nt.n AS DOUBLE))))
              AS BIGINT) AS t_nano
  FROM st JOIN ct ON st.token = ct.token
  JOIN ns ON st.source = ns.source, nt)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_terms,
       CAST(SUM(t_nano) AS BIGINT) AS bc_nano,
       CAST(1000000000 - SUM(t_nano) AS BIGINT) AS hellinger_sq_nano
FROM terms GROUP BY source ORDER BY source
""",
    # 1-row corpus-token-total frame cross-joined onto the cells
    allow={"BroadcastNestedLoopJoin"},
)
def source_token_hellinger(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from koalas_spark.functions.textfn import tokens

    d = _t(spark, sf_dir, "documents")
    st = (
        d.select(
            "source", F.explode(tokens(F.col("text"))).alias("token")
        )
        .groupBy("source", "token")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    ct = st.groupBy("token").agg(
        F.sum("c").cast("bigint").alias("ctot")
    )
    ns = st.groupBy("source").agg(
        F.sum("c").cast("bigint").alias("n_s")
    )
    nt = st.agg(F.sum("c").cast("bigint").alias("n"))
    terms = (
        st.join(ct, "token")
        .join(ns, "source")
        .crossJoin(nt)
        .select(
            "source",
            F.floor(
                1000000000
                * F.sqrt(
                    F.expr(
                        "CAST(c AS DOUBLE) * CAST(ctot AS DOUBLE)"
                        " / (CAST(n_s AS DOUBLE) * CAST(n AS DOUBLE))"
                    )
                )
            )
            .cast("bigint")
            .alias("t_nano"),
        )
    )
    return (
        terms.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_terms"),
            F.sum("t_nano").cast("bigint").alias("bc_nano"),
            (1000000000 - F.sum("t_nano"))
            .cast("bigint")
            .alias("hellinger_sq_nano"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------
# 366. Cohen's kappa between two order-size raters — the agreement
# audit for redundant classifiers (label-pipeline QA: do the price
# rule and the line-count rule agree beyond chance?): rater A flags
# o_totalprice >= 150000, rater B flags >= 4 lineitems. One
# co-partitioned orderkey join, one 2x2 cell groupBy pivoted to a
# row, kappa = (po - pe) / (1 - pe) as one identical-shape double
# over exact counts.
@query(
    "cohens_kappa_order_size",
    oracle="""
WITH lc AS (
  SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS n_lines
  FROM lineitem GROUP BY 1),
r AS (
  SELECT CASE WHEN o.o_totalprice >= 150000 THEN 1 ELSE 0 END AS ra,
         CASE WHEN lc.n_lines >= 4 THEN 1 ELSE 0 END AS rb
  FROM orders o JOIN lc ON o.o_orderkey = lc.l_orderkey),
pv AS (
  SELECT CAST(SUM(CASE WHEN ra = 1 AND rb = 1 THEN 1 ELSE 0 END)
              AS BIGINT) AS n11,
         CAST(SUM(CASE WHEN ra = 1 AND rb = 0 THEN 1 ELSE 0 END)
              AS BIGINT) AS n10,
         CAST(SUM(CASE WHEN ra = 0 AND rb = 1 THEN 1 ELSE 0 END)
              AS BIGINT) AS n01,
         CAST(SUM(CASE WHEN ra = 0 AND rb = 0 THEN 1 ELSE 0 END)
              AS BIGINT) AS n00,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM r),
cd AS (
  SELECT n, n11, n10, n01, n00, CAST(n AS DOUBLE) AS n_d,
         CAST(n11 AS DOUBLE) AS a, CAST(n10 AS DOUBLE) AS b,
         CAST(n01 AS DOUBLE) AS c, CAST(n00 AS DOUBLE) AS d
  FROM pv),
k AS (
  SELECT n, n11, n10, n01, n00,
         (a + d) / n_d AS po,
         ((a + b) * (a + c) + (c + d) * (b + d)) / (n_d * n_d) AS pe
  FROM cd)
SELECT n, n11, n10, n01, n00,
       ROUND((po - pe) / (1.0 - pe), 6) AS kappa
FROM k
""",
)
def cohens_kappa_order_size(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    lc = li.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lines")
    )
    o = _t(spark, sf_dir, "orders")
    r = o.join(lc, o["o_orderkey"] == lc["l_orderkey"]).select(
        F.when(F.col("o_totalprice") >= 150000, 1)
        .otherwise(0)
        .alias("ra"),
        F.when(F.col("n_lines") >= 4, 1).otherwise(0).alias("rb"),
    )
    pv = r.agg(
        F.sum(F.when((F.col("ra") == 1) & (F.col("rb") == 1), 1).otherwise(0))
        .cast("bigint")
        .alias("n11"),
        F.sum(F.when((F.col("ra") == 1) & (F.col("rb") == 0), 1).otherwise(0))
        .cast("bigint")
        .alias("n10"),
        F.sum(F.when((F.col("ra") == 0) & (F.col("rb") == 1), 1).otherwise(0))
        .cast("bigint")
        .alias("n01"),
        F.sum(F.when((F.col("ra") == 0) & (F.col("rb") == 0), 1).otherwise(0))
        .cast("bigint")
        .alias("n00"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    cd = pv.select(
        "n",
        "n11",
        "n10",
        "n01",
        "n00",
        F.col("n").cast("double").alias("n_d"),
        F.col("n11").cast("double").alias("a"),
        F.col("n10").cast("double").alias("b"),
        F.col("n01").cast("double").alias("c"),
        F.col("n00").cast("double").alias("d"),
    )
    k = cd.select(
        "n",
        "n11",
        "n10",
        "n01",
        "n00",
        F.expr("(a + d) / n_d").alias("po"),
        F.expr(
            "((a + b) * (a + c) + (c + d) * (b + d)) / (n_d * n_d)"
        ).alias("pe"),
    )
    return k.select(
        "n",
        "n11",
        "n10",
        "n01",
        "n00",
        F.round(F.expr("(po - pe) / (1.0 - pe)"), 6).alias("kappa"),
    )
