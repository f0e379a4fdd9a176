"""Round-10 batch-2 additions (SURVEY.md §2 extensions): graph
modularity of the label-propagation communities, a negative-binomial
method-of-moments fit, a Simpson's-paradox reversal audit, and a
shift-share growth decomposition.

Reference parity note: not in the reference (its surface is the frame
ops in source/koalas/dataframe.d:73-311); determinism per the repo
rules (queries/__init__.py docstring): exact integer cents/bps,
DECIMAL(38) products before any comparison or double hop, the
VARCHAR decimal->double hop for correctly-rounded conversions, FLOOR
on identical double shapes only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from koalas_spark.queries import query
from koalas_spark.queries.analytics import _t


# --------------------------------------------------------------------
# 398. modularity of the co-purchase communities — the quality score
# for #242's label propagation (Newman Q: fraction of edges inside
# communities minus the degree-preserving null model's expectation).
# Communities are TWO deterministic LP rounds (the #242 rule:
# most-frequent neighbor label, ties to the smallest — replayable in
# SQL), then Q = (4*m*m_in - sum_c D_c^2) / (4*m^2) computed as an
# EXACT DECIMAL(38) rational: one edge pass for m_in (c(u) = c(v)),
# one bounded (community) rollup for the degree sums. The only double
# is the final num/den division, identical shape on both engines via
# the VARCHAR hop. Scale: everything is edge- or community-keyed —
# no wedge stage at all.
@query(
    "modularity_copurchase",
    oracle="""
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
e AS MATERIALIZED (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
d AS MATERIALIZED (
  SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e),
l0 AS (SELECT DISTINCT u AS x, u AS lbl FROM d),
v1 AS (SELECT d.u AS x, p.lbl AS l, CAST(COUNT(*) AS BIGINT) AS c
       FROM d JOIN l0 p ON d.v = p.x GROUP BY 1, 2),
l1 AS MATERIALIZED (SELECT x, l AS lbl FROM (
         SELECT x, l, ROW_NUMBER() OVER (
           PARTITION BY x ORDER BY c DESC, l ASC) AS rn FROM v1)
       WHERE rn = 1),
v2 AS (SELECT d.u AS x, p.lbl AS l, CAST(COUNT(*) AS BIGINT) AS c
       FROM d JOIN l1 p ON d.v = p.x GROUP BY 1, 2),
l2 AS MATERIALIZED (SELECT x, l AS lbl FROM (
         SELECT x, l, ROW_NUMBER() OVER (
           PARTITION BY x ORDER BY c DESC, l ASC) AS rn FROM v2)
       WHERE rn = 1),
deg AS (SELECT u AS x, CAST(COUNT(*) AS BIGINT) AS dg FROM d GROUP BY u),
dc AS (SELECT l2.lbl, CAST(SUM(deg.dg) AS BIGINT) AS dsum
       FROM deg JOIN l2 ON l2.x = deg.x GROUP BY l2.lbl),
agg AS (
  SELECT CAST((SELECT COUNT(*) FROM e) AS BIGINT) AS m_edges,
         CAST((SELECT COUNT(*) FROM e
               JOIN l2 cu ON cu.x = e.u
               JOIN l2 cv ON cv.x = e.v
               WHERE cu.lbl = cv.lbl) AS BIGINT) AS m_in,
         CAST((SELECT COUNT(*) FROM dc) AS BIGINT) AS n_communities,
         (SELECT CAST(SUM(CAST(dsum AS DECIMAL(38,0)) * dsum)
                      AS DECIMAL(38,0)) FROM dc) AS sum_dc2)
SELECT m_edges, m_in, n_communities,
       ROUND(CAST(CAST(4 * CAST(m_edges AS DECIMAL(38,0)) * m_in - sum_dc2
                       AS VARCHAR) AS DOUBLE)
             / CAST(CAST(4 * CAST(m_edges AS DECIMAL(38,0)) * m_edges
                         AS VARCHAR) AS DOUBLE), 6) AS q_modularity
FROM agg
""",
    # three 1-row frames (m, m_in, community stats) cross-joined
    allow={"BroadcastNestedLoopJoin"},
)
def modularity_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    from koalas_spark.queries.mining import (
        _copurchase_edge_set,
        bcast_v,
        copurchase_degree_table,
        label_rounds,
    )

    e = _copurchase_edge_set(spark, sf_dir)
    labels = label_rounds(spark, sf_dir, rounds=2)
    # degrees of the symmetrized adjacency == the session-shared
    # |V|-sized degree artifact (e ∪ swap(e) is distinct by
    # construction), so no fresh 2|E|-row aggregate (r13); the label
    # joins broadcast under the bcast_v gate, so the edge set streams.
    deg = copurchase_degree_table(spark, sf_dir).select(
        "x", F.col("dg")
    )
    dc = (
        deg.join(bcast_v(labels, sf_dir), "x")
        .groupBy("lbl")
        .agg(F.sum("dg").cast("bigint").alias("dsum"))
    )
    cu = labels.select(F.col("x").alias("u"), F.col("lbl").alias("lu"))
    cv = labels.select(F.col("x").alias("v"), F.col("lbl").alias("lv"))
    m_in = (
        e.join(bcast_v(cu, sf_dir), "u")
        .join(bcast_v(cv, sf_dir), "v")
        .filter(F.col("lu") == F.col("lv"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("m_in"))
    )
    m = e.agg(F.count(F.lit(1)).cast("bigint").alias("m_edges"))
    comm = dc.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_communities"),
        F.sum(F.col("dsum").cast("decimal(38,0)") * F.col("dsum"))
        .cast("decimal(38,0)")
        .alias("sum_dc2"),
    )
    # three 1-row frames — broadcast cross joins, then the exact
    # rational -> double division (identical shape to the oracle)
    out = m.crossJoin(m_in).crossJoin(comm)
    return out.select(
        "m_edges",
        "m_in",
        "n_communities",
        F.round(
            F.expr(
                "CAST(CAST(4 * CAST(m_edges AS DECIMAL(38,0)) * m_in"
                " - sum_dc2 AS STRING) AS DOUBLE)"
            )
            / F.expr(
                "CAST(CAST(4 * CAST(m_edges AS DECIMAL(38,0)) * m_edges"
                " AS STRING) AS DOUBLE)"
            ),
            6,
        ).alias("q_modularity"),
    )


# --------------------------------------------------------------------
# 399. negative-binomial method-of-moments fit of per-customer order
# counts — the overdispersion-aware twin of #336's Poisson GOF (a
# Poisson forces var = mean; retail counts are overdispersed, and NB's
# r/p say by how much). From exact integer moments n, S1, S2:
# mean = S1/n, var = (n*S2 - S1^2)/n^2, and the MOM estimates reduce
# to integer rationals r = S1^2 / (n*S2 - S1^2 - n*S1),
# p = n*S1 / (n*S2 - S1^2) — shipped as FLOOR-double ppm (the
# products exceed int64 at scale, so they ride DECIMAL(38) and hop to
# double via VARCHAR; one identical division + FLOOR per estimate).
# overdispersed = 0 kills both estimates to NULL (var <= mean: no NB).
@query(
    "negbin_order_counts_fit",
    oracle="""
WITH k AS (
  SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS c
  FROM orders GROUP BY o_custkey),
mo AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(c) AS BIGINT) AS s1,
         CAST(SUM(c * c) AS BIGINT) AS s2
  FROM k),
t AS (
  SELECT n, s1, s2,
         CAST(n AS DECIMAL(38,0)) * s2 - CAST(s1 AS DECIMAL(38,0)) * s1
           AS vnum,
         CAST(n AS DECIMAL(38,0)) * s2 - CAST(s1 AS DECIMAL(38,0)) * s1
           - CAST(n AS DECIMAL(38,0)) * s1 AS rden
  FROM mo)
SELECT n AS n_cust, s1, s2,
       CAST(CASE WHEN rden > 0 THEN CAST(rden AS DECIMAL(38,0)) END
            AS BIGINT) IS NOT NULL AS overdispersed,
       CASE WHEN rden > 0 THEN CAST(FLOOR(
           CAST(CAST(CAST(s1 AS DECIMAL(38,0)) * s1 * 1000000 AS VARCHAR)
                AS DOUBLE)
           / CAST(CAST(rden AS VARCHAR) AS DOUBLE)) AS BIGINT) END
         AS r_ppm,
       CASE WHEN rden > 0 THEN CAST(FLOOR(
           CAST(CAST(CAST(n AS DECIMAL(38,0)) * s1 * 1000000 AS VARCHAR)
                AS DOUBLE)
           / CAST(CAST(vnum AS VARCHAR) AS DOUBLE)) AS BIGINT) END
         AS p_ppm
FROM t
""",
)
def negbin_order_counts_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    k = (
        _t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    mo = k.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("c").cast("bigint").alias("s1"),
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("s2"),
    )
    t = mo.select(
        "n",
        "s1",
        "s2",
        F.expr(
            "CAST(n AS DECIMAL(38,0)) * s2 - CAST(s1 AS DECIMAL(38,0)) * s1"
        ).alias("vnum"),
        F.expr(
            "CAST(n AS DECIMAL(38,0)) * s2 - CAST(s1 AS DECIMAL(38,0)) * s1"
            " - CAST(n AS DECIMAL(38,0)) * s1"
        ).alias("rden"),
    )
    return t.select(
        F.col("n").alias("n_cust"),
        "s1",
        "s2",
        F.expr(
            "CAST(CASE WHEN rden > 0 THEN CAST(rden AS DECIMAL(38,0)) END"
            " AS BIGINT) IS NOT NULL"
        ).alias("overdispersed"),
        F.expr(
            "CASE WHEN rden > 0 THEN CAST(FLOOR("
            "CAST(CAST(CAST(s1 AS DECIMAL(38,0)) * s1 * 1000000 AS STRING)"
            " AS DOUBLE)"
            " / CAST(CAST(rden AS STRING) AS DOUBLE)) AS BIGINT) END"
        ).alias("r_ppm"),
        F.expr(
            "CASE WHEN rden > 0 THEN CAST(FLOOR("
            "CAST(CAST(CAST(n AS DECIMAL(38,0)) * s1 * 1000000 AS STRING)"
            " AS DOUBLE)"
            " / CAST(CAST(vnum AS STRING) AS DOUBLE)) AS BIGINT) END"
        ).alias("p_ppm"),
    )


# --------------------------------------------------------------------
# 400. Simpson's-paradox reversal audit — does the aggregate
# direction of "returned lines carry deeper discounts" hold inside
# every (linestatus, ship-year) stratum, or does pooling reverse it
# (the classic aggregation trap every metrics review should check)?
# Mean comparison is the exact cross-multiplication sum_R * n_N vs
# sum_N * n_R in DECIMAL(38) (bps sums are corpus-proportional; the
# int64-headroom discipline from the r9 audit), sign as -1/0/+1. One
# bounded groupBy over the scan; strata domain is |status| x |year|.
@query(
    "simpson_reversal_audit",
    oracle="""
WITH b AS (
  SELECT l_linestatus AS status,
         CAST(EXTRACT(year FROM l_shipdate) AS INT) AS yr,
         CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS is_r,
         CAST(FLOOR(l_discount * 10000 + 0.5) AS BIGINT) AS bps
  FROM lineitem),
s AS (
  SELECT status, yr,
         CAST(SUM(CASE WHEN is_r = 1 THEN bps END) AS BIGINT) AS sum_r,
         CAST(COUNT(CASE WHEN is_r = 1 THEN 1 END) AS BIGINT) AS n_r,
         CAST(SUM(CASE WHEN is_r = 0 THEN bps END) AS BIGINT) AS sum_n,
         CAST(COUNT(CASE WHEN is_r = 0 THEN 1 END) AS BIGINT) AS n_n
  FROM b GROUP BY 1, 2),
o AS (
  SELECT CASE
           WHEN CAST(SUM(sum_r) AS DECIMAL(38,0)) * SUM(n_n)
              > CAST(SUM(sum_n) AS DECIMAL(38,0)) * SUM(n_r) THEN 1
           WHEN CAST(SUM(sum_r) AS DECIMAL(38,0)) * SUM(n_n)
              < CAST(SUM(sum_n) AS DECIMAL(38,0)) * SUM(n_r) THEN -1
           ELSE 0 END AS sign_overall
  FROM s)
SELECT s.status, s.yr, s.n_r, s.n_n,
       CASE
         WHEN s.n_r = 0 OR s.n_n = 0 THEN 0
         WHEN CAST(s.sum_r AS DECIMAL(38,0)) * s.n_n
            > CAST(s.sum_n AS DECIMAL(38,0)) * s.n_r THEN 1
         WHEN CAST(s.sum_r AS DECIMAL(38,0)) * s.n_n
            < CAST(s.sum_n AS DECIMAL(38,0)) * s.n_r THEN -1
         ELSE 0 END AS sign_stratum,
       o.sign_overall,
       CAST((CASE
         WHEN s.n_r = 0 OR s.n_n = 0 THEN 0
         WHEN CAST(s.sum_r AS DECIMAL(38,0)) * s.n_n
            > CAST(s.sum_n AS DECIMAL(38,0)) * s.n_r THEN 1
         WHEN CAST(s.sum_r AS DECIMAL(38,0)) * s.n_n
            < CAST(s.sum_n AS DECIMAL(38,0)) * s.n_r THEN -1
         ELSE 0 END) * o.sign_overall = -1 AS INT) AS reversed
FROM s, o
ORDER BY s.status, s.yr
""",
    # 1-row overall-sign frame cross-joined onto the 14-row strata
    allow={"BroadcastNestedLoopJoin"},
)
def simpson_reversal_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    b = _t(spark, sf_dir, "lineitem").select(
        F.col("l_linestatus").alias("status"),
        F.year("l_shipdate").cast("int").alias("yr"),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("is_r"),
        F.floor(F.col("l_discount") * 10000 + 0.5).cast("bigint").alias("bps"),
    )
    s = b.groupBy("status", "yr").agg(
        F.sum(F.when(F.col("is_r") == 1, F.col("bps")))
        .cast("bigint")
        .alias("sum_r"),
        F.count(F.when(F.col("is_r") == 1, F.lit(1)))
        .cast("bigint")
        .alias("n_r"),
        F.sum(F.when(F.col("is_r") == 0, F.col("bps")))
        .cast("bigint")
        .alias("sum_n"),
        F.count(F.when(F.col("is_r") == 0, F.lit(1)))
        .cast("bigint")
        .alias("n_n"),
    )
    o = s.agg(
        F.expr(
            "CASE WHEN CAST(SUM(sum_r) AS DECIMAL(38,0)) * SUM(n_n)"
            " > CAST(SUM(sum_n) AS DECIMAL(38,0)) * SUM(n_r) THEN 1"
            " WHEN CAST(SUM(sum_r) AS DECIMAL(38,0)) * SUM(n_n)"
            " < CAST(SUM(sum_n) AS DECIMAL(38,0)) * SUM(n_r) THEN -1"
            " ELSE 0 END"
        ).alias("sign_overall")
    )
    sign_stratum = (
        "CASE WHEN n_r = 0 OR n_n = 0 THEN 0"
        " WHEN CAST(sum_r AS DECIMAL(38,0)) * n_n"
        " > CAST(sum_n AS DECIMAL(38,0)) * n_r THEN 1"
        " WHEN CAST(sum_r AS DECIMAL(38,0)) * n_n"
        " < CAST(sum_n AS DECIMAL(38,0)) * n_r THEN -1"
        " ELSE 0 END"
    )
    return (
        s.crossJoin(o)
        .select(
            "status",
            "yr",
            "n_r",
            "n_n",
            F.expr(sign_stratum).alias("sign_stratum"),
            "sign_overall",
            F.expr(
                f"CAST(({sign_stratum}) * sign_overall = -1 AS INT)"
            ).alias("reversed"),
        )
        .orderBy("status", "yr")
    )


# --------------------------------------------------------------------
# 401. shift-share decomposition of nation revenue growth 1997->1998
# — how much of each nation's growth is explained by its PRIORITY MIX
# riding the per-priority national trend vs nation-specific
# competitiveness (the regional-economics standard, here with
# order-priority as the "industry"). expected98 applies each
# priority's national growth ratio to the nation's 97 base:
# per-term FLOOR((rev_np97 * S_p98) / S_p97) — DECIMAL(38) product,
# VARCHAR->double hop, one identical division + FLOOR — summed
# exactly; shift = actual - expected is pure integer subtraction.
# Two bounded groupBys (nation x priority, priority) + one broadcast
# join; no shuffle wider than the nation x priority domain.
@query(
    "shift_share_nation_growth",
    oracle="""
WITH r AS (
  SELECT n.n_name AS nation, o.o_orderpriority AS prio,
         CAST(EXTRACT(year FROM o.o_orderdate) AS INT) AS yr,
         CAST(SUM(CAST(FLOOR(l.l_extendedprice * (1 - l.l_discount) * 100
                             + 0.5) AS BIGINT)) AS BIGINT) AS cents
  FROM lineitem l
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n ON n.n_nationkey = c.c_nationkey
  WHERE EXTRACT(year FROM o.o_orderdate) IN (1997, 1998)
  GROUP BY 1, 2, 3),
np AS (
  SELECT nation, prio,
         CAST(COALESCE(SUM(CASE WHEN yr = 1997 THEN cents END), 0)
              AS BIGINT) AS c97,
         CAST(COALESCE(SUM(CASE WHEN yr = 1998 THEN cents END), 0)
              AS BIGINT) AS c98
  FROM r GROUP BY 1, 2),
p AS (
  SELECT prio, CAST(SUM(c97) AS BIGINT) AS s97,
         CAST(SUM(c98) AS BIGINT) AS s98
  FROM np GROUP BY prio),
x AS (
  SELECT np.nation, np.c97, np.c98,
         CASE WHEN p.s97 > 0 THEN CAST(FLOOR(
             CAST(CAST(CAST(np.c97 AS DECIMAL(38,0)) * p.s98 AS VARCHAR)
                  AS DOUBLE)
             / CAST(CAST(p.s97 AS VARCHAR) AS DOUBLE)) AS BIGINT)
           ELSE CAST(0 AS BIGINT) END AS exp98_term
  FROM np JOIN p ON p.prio = np.prio)
SELECT nation,
       CAST(SUM(c97) AS BIGINT) AS rev97_cents,
       CAST(SUM(c98) AS BIGINT) AS rev98_cents,
       CAST(SUM(exp98_term) AS BIGINT) AS expected98_cents,
       CAST(SUM(c98) - SUM(exp98_term) AS BIGINT) AS shift_cents
FROM x GROUP BY nation ORDER BY nation
""",
)
def shift_share_nation_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.floor(
            F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100 + 0.5
        )
        .cast("bigint")
        .alias("lcents"),
    )
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.col("o_orderpriority").alias("prio"),
        F.year("o_orderdate").cast("int").alias("yr"),
    ).filter(F.col("yr").isin(1997, 1998))
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = _t(spark, sf_dir, "nation").select(
        "n_nationkey", F.col("n_name").alias("nation")
    )
    r = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(n, c.c_nationkey == n.n_nationkey)
        .groupBy("nation", "prio", "yr")
        .agg(F.sum("lcents").cast("bigint").alias("cents"))
    )
    np_ = r.groupBy("nation", "prio").agg(
        F.coalesce(F.sum(F.when(F.col("yr") == 1997, F.col("cents"))), F.lit(0))
        .cast("bigint")
        .alias("c97"),
        F.coalesce(F.sum(F.when(F.col("yr") == 1998, F.col("cents"))), F.lit(0))
        .cast("bigint")
        .alias("c98"),
    )
    p = np_.groupBy("prio").agg(
        F.sum("c97").cast("bigint").alias("s97"),
        F.sum("c98").cast("bigint").alias("s98"),
    )
    x = np_.join(F.broadcast(p), "prio").select(
        "nation",
        "c97",
        "c98",
        F.expr(
            "CASE WHEN s97 > 0 THEN CAST(FLOOR("
            "CAST(CAST(CAST(c97 AS DECIMAL(38,0)) * s98 AS STRING)"
            " AS DOUBLE)"
            " / CAST(CAST(s97 AS STRING) AS DOUBLE)) AS BIGINT)"
            " ELSE CAST(0 AS BIGINT) END"
        ).alias("exp98_term"),
    )
    return (
        x.groupBy("nation")
        .agg(
            F.sum("c97").cast("bigint").alias("rev97_cents"),
            F.sum("c98").cast("bigint").alias("rev98_cents"),
            F.sum("exp98_term").cast("bigint").alias("expected98_cents"),
            (F.sum("c98") - F.sum("exp98_term"))
            .cast("bigint")
            .alias("shift_cents"),
        )
        .orderBy("nation")
    )
