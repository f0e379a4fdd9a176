"""Unadapted TPC-H Q2/Q11/Q16/Q20 over a derived partsupp table.

The synthetic testdata has no partsupp parquet (TESTDATA.md), so the
§2.2 forms of these four queries were "adapted" — they kept the famous
physical shape (correlated min, fraction-of-total HAVING, distinct
count, exists semi join) but ran it on stand-in columns
(e.g. Q2's min correlated on observed lineitem unit price instead of
ps_supplycost — koalas_spark/queries/analytics5.py:37). This module
closes that gap the Spark-first way: partsupp is DERIVED
deterministically from part x supplier with dbgen's structure (TPC-H
spec 4.2.3: each part gets exactly 4 suppliers at stride
S/4 + (p-1)/S), using pure integer formulas for availqty/supplycost
so the SAME expression evaluates identically in Spark and in the
DuckDB oracle — no RNG, no materialized file needed, works against
any sf dir the driver points at. tools/make_scaled.py also
materializes the identical table into scaled dirs for inspection.

Reference parity note: the koalas reference (dataframe.d) has no TPC-H
suite at all; these queries exist because SURVEY §2.2 claims the TPC-H
surface, and Q2/Q11 are only honestly claimable with a real
ps_supplycost correlation (VERDICT r9 item 3).

Scale: partsupp is 4 rows per part of four narrow ints — at 100 TB
(~2e10 parts) that is ~8e10 rows / ~2.5 TB, a normal fact-side input;
it is generated by a map-only explode over the part scan (no shuffle)
and every consumer aggregates or joins it on ps_partkey/ps_suppkey
with map-side combine, so deriving it is strictly cheaper than
scanning a materialized copy would be at the same row count.

Integer-division/modulo portability: all operands are non-negative by
construction, where DuckDB ``//`` (floor) and Spark ``DIV`` (truncate)
agree (registry rule, queries/__init__.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from koalas_spark.queries import query
from koalas_spark.queries.analytics import _t

# DuckDB CTE defining the derived partsupp — keep in exact sync with
# _partsupp() below; the pair is covered by tests/test_tpch_partsupp.py
# which cross-checks the generated table itself between both engines.
PARTSUPP_SQL = """
partsupp AS (
  SELECT p_partkey AS ps_partkey,
         ((p_partkey + i.i * (s.supp_cnt // 4 + (p_partkey - 1) // s.supp_cnt))
            % s.supp_cnt) + 1 AS ps_suppkey,
         ((p_partkey * 37 + i.i * 1009) % 9999) + 1 AS ps_availqty,
         ((p_partkey * 7919 + i.i * 4241) % 99901) + 100
           AS ps_supplycost_cents
  FROM part,
       (SELECT CAST(COUNT(*) AS BIGINT) AS supp_cnt FROM supplier) s,
       (SELECT UNNEST([0, 1, 2, 3]) AS i) i
)"""


def _partsupp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derived partsupp: 4 deterministic supplier offers per part.

    dbgen's supplier stride (TPC-H 4.2.3) with integer stand-ins for
    the RNG columns: availqty in 1..9999, supplycost in
    1.00..1000.00 dollars kept as exact cents. Map-only: one part
    scan, a 1-row supplier count broadcast, explode(4) — no shuffle.
    """
    p = _t(spark, sf_dir, "part").select("p_partkey")
    supp_cnt = (
        _t(spark, sf_dir, "supplier")
        .agg(F.count(F.lit(1)).cast("bigint").alias("supp_cnt"))
    )
    return (
        p.crossJoin(supp_cnt)
        .select(
            "p_partkey",
            "supp_cnt",
            F.explode(F.array(*[F.lit(i) for i in range(4)])).alias("i"),
        )
        .select(
            F.col("p_partkey").alias("ps_partkey"),
            (
                (
                    F.col("p_partkey")
                    + F.col("i")
                    * (
                        F.expr("supp_cnt DIV 4")
                        + F.expr("(p_partkey - 1) DIV supp_cnt")
                    )
                )
                % F.col("supp_cnt")
                + 1
            ).alias("ps_suppkey"),
            ((F.col("p_partkey") * 37 + F.col("i") * 1009) % 9999 + 1).alias(
                "ps_availqty"
            ),
            (
                (F.col("p_partkey") * 7919 + F.col("i") * 4241) % 99901 + 100
            ).alias("ps_supplycost_cents"),
        )
    )


# --------------------------------------------------------------------
# 391. TPC-H Q2, unadapted — the REAL correlated-min on ps_supplycost:
# EUROPE offers, per-part minimum supply cost, join back to keep only
# the min-cost supplier rows, top-100 by account balance. The per-part
# min is a window over ps_partkey (one shuffle of the pruned offer
# set) instead of a second scan + self-join; part's size/type filter
# prunes before the join and stays AQE-broadcastable at bench SFs
# while degrading to a shuffle join at 100 TB (p_size=15 & LARGE is
# ~1/300 of parts — too big to force-broadcast at 2e10 parts).
@query(
    "q2_min_cost_supplier_ps",
    oracle=f"""
WITH {PARTSUPP_SQL},
eu AS (
  SELECT ps.ps_partkey, ps.ps_supplycost_cents,
         s.s_acctbal, s.s_name, n.n_name
  FROM partsupp ps
  JOIN supplier s ON s.s_suppkey = ps.ps_suppkey
  JOIN nation n ON n.n_nationkey = s.s_nationkey
  JOIN region r ON r.r_regionkey = n.n_regionkey
  WHERE r.r_name = 'EUROPE'),
mn AS (
  SELECT ps_partkey, MIN(ps_supplycost_cents) AS best_cents
  FROM eu GROUP BY 1)
SELECT e.s_acctbal, e.s_name, e.n_name, p.p_partkey, p.p_type,
       e.ps_supplycost_cents AS supplycost_cents
FROM eu e
JOIN mn ON mn.ps_partkey = e.ps_partkey
       AND e.ps_supplycost_cents = mn.best_cents
JOIN part p ON p.p_partkey = e.ps_partkey
WHERE p.p_size = 15 AND p.p_type = 'LARGE'
ORDER BY e.s_acctbal DESC, e.n_name, e.s_name, p.p_partkey
LIMIT 100
""",
    bench=False,
    # 1-row supplier-count frame cross-joined onto the part scan to
    # derive partsupp (_partsupp)
    allow={"BroadcastNestedLoopJoin"},
)
def q2_min_cost_supplier_ps(spark: SparkSession, sf_dir: str) -> DataFrame:
    ps = _partsupp(spark, sf_dir)
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    part = _t(spark, sf_dir, "part").filter(
        (F.col("p_size") == 15) & (F.col("p_type") == "LARGE")
    )
    eu_supp = (
        supp.join(nation, supp.s_nationkey == nation.n_nationkey)
        .join(region, nation.n_regionkey == region.r_regionkey)
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    eu = ps.join(eu_supp, ps.ps_suppkey == eu_supp.s_suppkey).select(
        "ps_partkey", "ps_supplycost_cents", "s_acctbal", "s_name", "n_name"
    )
    best = F.min("ps_supplycost_cents").over(Window.partitionBy("ps_partkey"))
    return (
        eu.withColumn("_best", best)
        .filter(F.col("ps_supplycost_cents") == F.col("_best"))
        .join(part, F.col("ps_partkey") == part.p_partkey)
        .select(
            "s_acctbal",
            "s_name",
            "n_name",
            "p_partkey",
            "p_type",
            F.col("ps_supplycost_cents").alias("supplycost_cents"),
        )
        .orderBy(
            F.col("s_acctbal").desc(), "n_name", "s_name", "p_partkey"
        )
        .limit(100)
    )


# --------------------------------------------------------------------
# 392. TPC-H Q11, unadapted — value of stock held by NATION_7
# suppliers per part, HAVING value > total/10000. The fraction-of-
# total compare is the int64-audit discipline (VERDICT r9 item 2):
# per-part value is bounded (4 offers x cost x qty <= ~4e9 cents) but
# the grand total is corpus-proportional, so the cross-multiplication
# SUM(val)*10000 > total runs in DECIMAL(38,0) on both engines. One
# shuffle on ps_partkey; the 1-row total broadcasts back.
@query(
    "q11_important_parts_ps",
    oracle=f"""
WITH {PARTSUPP_SQL},
de AS (
  SELECT ps.ps_partkey,
         CAST(ps.ps_supplycost_cents * ps.ps_availqty AS BIGINT) AS val
  FROM partsupp ps
  JOIN supplier s ON s.s_suppkey = ps.ps_suppkey
  JOIN nation n ON n.n_nationkey = s.s_nationkey
  WHERE n.n_name = 'NATION_7'),
tot AS (SELECT CAST(SUM(val) AS DECIMAL(38,0)) AS total FROM de),
grp AS (
  SELECT ps_partkey, CAST(SUM(val) AS BIGINT) AS value_cents
  FROM de GROUP BY 1)
SELECT g.ps_partkey, g.value_cents
FROM grp g, tot t
WHERE CAST(g.value_cents AS DECIMAL(38,0)) * 10000 > t.total
ORDER BY g.value_cents DESC, g.ps_partkey
""",
    bench=False,
    # 1-row supplier-count frame cross-joined onto the part scan to
    # derive partsupp (_partsupp), and the 1-row grand-total frame
    # crossed back onto the per-part values
    allow={"BroadcastNestedLoopJoin"},
)
def q11_important_parts_ps(spark: SparkSession, sf_dir: str) -> DataFrame:
    ps = _partsupp(spark, sf_dir)
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation").filter(
        F.col("n_name") == "NATION_7"
    )
    n7 = supp.join(nation, supp.s_nationkey == nation.n_nationkey).select("s_suppkey")
    de = ps.join(n7, ps.ps_suppkey == n7.s_suppkey).select(
        "ps_partkey",
        (F.col("ps_supplycost_cents") * F.col("ps_availqty"))
        .cast("bigint")
        .alias("val"),
    )
    tot = de.agg(F.sum("val").cast("decimal(38,0)").alias("total"))
    grp = de.groupBy("ps_partkey").agg(
        F.sum("val").cast("bigint").alias("value_cents")
    )
    return (
        grp.crossJoin(tot)
        .filter(
            F.col("value_cents").cast("decimal(38,0)") * 10000
            > F.col("total")
        )
        .select("ps_partkey", "value_cents")
        .orderBy(F.col("value_cents").desc(), "ps_partkey")
    )


# --------------------------------------------------------------------
# 393. TPC-H Q16, unadapted — how many suppliers can supply each
# (brand, type, size) bucket, from partsupp rather than observed
# lineitems (the adapted #89 counted shippers; this counts offers).
# The no-complaints supplier exclusion is dropped — this schema has no
# s_comment column (TESTDATA.md). COUNT(DISTINCT ps_suppkey) after a
# part-attribute filter: one shuffle on the (brand, type, size) key
# with partial distinct-aggregation map-side.
@query(
    "q16_supplier_part_cnt_ps",
    oracle=f"""
WITH {PARTSUPP_SQL}
SELECT p.p_brand, p.p_type, p.p_size,
       CAST(COUNT(DISTINCT ps.ps_suppkey) AS BIGINT) AS supplier_cnt
FROM partsupp ps
JOIN part p ON p.p_partkey = ps.ps_partkey
WHERE p.p_brand <> 'Brand#45' AND p.p_type <> 'MEDIUM'
  AND p.p_size IN (49, 14, 23, 45, 19, 3, 36, 9)
GROUP BY 1, 2, 3
ORDER BY supplier_cnt DESC, p.p_brand, p.p_type, p.p_size
""",
    bench=False,
    # 1-row supplier-count frame cross-joined onto the part scan to
    # derive partsupp (_partsupp)
    allow={"BroadcastNestedLoopJoin"},
)
def q16_supplier_part_cnt_ps(spark: SparkSession, sf_dir: str) -> DataFrame:
    ps = _partsupp(spark, sf_dir)
    part = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#45")
        & (F.col("p_type") != "MEDIUM")
        & F.col("p_size").isin(49, 14, 23, 45, 19, 3, 36, 9)
    )
    return (
        ps.join(part, ps.ps_partkey == part.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(
            F.countDistinct("ps_suppkey").cast("bigint").alias("supplier_cnt")
        )
        .orderBy(
            F.col("supplier_cnt").desc(), "p_brand", "p_type", "p_size"
        )
    )


# --------------------------------------------------------------------
# 394. TPC-H Q20, unadapted — suppliers whose stock of 'red%' parts
# exceeds half of what they actually shipped in 1996: the availqty
# vs SUM(l_quantity) correlation the adapted #91 couldn't express.
# Shipped quantities aggregate once on (l_partkey, l_suppkey) — the
# same key the partsupp probe joins on, so AQE plans one co-located
# fact-fact join; quantities are integral doubles quantized
# FLOOR(x+0.5) on both engines, and availqty*2 > sq is exact int64
# (availqty <= 9999 by construction, sq needs 2e17 lineitems per
# (part, supplier) pair to wrap — unreachable).
@query(
    "q20_promo_suppliers_ps",
    oracle=f"""
WITH {PARTSUPP_SQL},
qty AS (
  SELECT l_partkey, l_suppkey,
         CAST(SUM(CAST(FLOOR(l_quantity + 0.5) AS BIGINT)) AS BIGINT) AS sq
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
  GROUP BY 1, 2),
cand AS (
  SELECT DISTINCT ps.ps_suppkey
  FROM partsupp ps
  JOIN part p ON p.p_partkey = ps.ps_partkey
  JOIN qty q ON q.l_partkey = ps.ps_partkey
            AND q.l_suppkey = ps.ps_suppkey
  WHERE p.p_name LIKE 'red%' AND ps.ps_availqty * 2 > q.sq)
SELECT s.s_name, s.s_acctbal
FROM supplier s
JOIN cand c ON c.ps_suppkey = s.s_suppkey
ORDER BY s.s_name
""",
    bench=False,
    # 1-row supplier-count frame cross-joined onto the part scan to
    # derive partsupp (_partsupp)
    allow={"BroadcastNestedLoopJoin"},
)
def q20_promo_suppliers_ps(spark: SparkSession, sf_dir: str) -> DataFrame:
    ps = _partsupp(spark, sf_dir)
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    qty = li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum(F.floor(F.col("l_quantity") + 0.5).cast("bigint"))
        .cast("bigint")
        .alias("sq")
    )
    red = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_name").like("red%"))
        .select("p_partkey")
    )
    cand = (
        ps.join(red, ps.ps_partkey == red.p_partkey)
        .join(
            qty,
            (F.col("l_partkey") == F.col("ps_partkey"))
            & (F.col("l_suppkey") == F.col("ps_suppkey")),
        )
        .filter(F.col("ps_availqty") * 2 > F.col("sq"))
        .select("ps_suppkey")
        .distinct()
    )
    supp = _t(spark, sf_dir, "supplier")
    return (
        supp.join(cand, supp.s_suppkey == cand.ps_suppkey)
        .select("s_name", "s_acctbal")
        .orderBy("s_name")
    )
