"""Round-10 batch-6 additions (SURVEY.md §2 extensions): grid-blocked
spatial neighbor join, Spark 4 native LISTAGG, schema-evolution
unionByName, and the approx_top_k sketch.

Reference parity note: not in the reference (its surface is the frame
ops in source/koalas/dataframe.d:73-311); determinism per the repo
rules (queries/__init__.py docstring).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from koalas_spark.queries import query
from koalas_spark.queries.analytics import _t


def _hex_coord_sql(h: str, start: int) -> str:
    """Portable md5-hex -> integer in [0, 65536): four hex digits
    decoded by ascii arithmetic (identical in Spark SQL and DuckDB —
    neither shares a hex->int builtin with the other)."""
    digit = (
        "(ascii(substring({h}, {p}, 1))"
        " - CASE WHEN ascii(substring({h}, {p}, 1)) >= 97"
        " THEN 87 ELSE 48 END)"
    )
    parts = [
        digit.format(h=h, p=start + i) + f" * {16 ** (3 - i)}"
        for i in range(4)
    ]
    return "(" + " + ".join(parts) + ")"


# --------------------------------------------------------------------
# 416. grid-blocked spatial neighbor join — the standard scale pattern
# for "find nearby points" (geohash / S2-cell blocking): points carry
# deterministic md5-derived integer coordinates in a 65536^2 space,
# each point lands in a 256-unit grid cell, candidate pairs come ONLY
# from joining each point's cell against its 3x3 cell neighborhood
# (explode of 9 offsets — a bounded fan-out, never all-pairs), and the
# exact L-inf <= 256 predicate filters candidates. Workload is
# density-bounded: pairs ~= n^2 * (2r)^2 / area; cell size tracks the
# radius so each candidate probe touches <= 9 cells. Output is the
# per-cell-population histogram + the global pair count (u < v).
@query(
    "spatial_grid_join",
    oracle=f"""
WITH pt AS (
  SELECT c_custkey AS id,
         {_hex_coord_sql("md5(CAST(c_custkey AS VARCHAR))", 1)} AS x,
         {_hex_coord_sql("md5(CAST(c_custkey AS VARCHAR))", 5)} AS y
  FROM customer),
cells AS (
  SELECT id, x, y, x // 256 AS cx, y // 256 AS cy FROM pt),
cand AS (
  SELECT a.id AS ida, b.id AS idb
  FROM cells a
  JOIN (SELECT id, x, y, cx + dx.o AS cx, cy + dy.o AS cy
        FROM cells, (VALUES (-1), (0), (1)) dx(o),
                    (VALUES (-1), (0), (1)) dy(o)) b
    ON a.cx = b.cx AND a.cy = b.cy AND a.id < b.id),
pairs AS (
  SELECT DISTINCT ida, idb
  FROM cand
  JOIN cells pa ON pa.id = cand.ida
  JOIN cells pb ON pb.id = cand.idb
  WHERE ABS(pa.x - pb.x) <= 256 AND ABS(pa.y - pb.y) <= 256)
SELECT CAST((SELECT COUNT(*) FROM pt) AS BIGINT) AS n_points,
       CAST((SELECT COUNT(*) FROM (SELECT DISTINCT cx, cy FROM cells) t)
         AS BIGINT) AS n_cells,
       CAST((SELECT MAX(c) FROM (SELECT COUNT(*) AS c FROM cells
                                 GROUP BY cx, cy) t) AS BIGINT)
         AS max_cell_pop,
       CAST((SELECT COUNT(*) FROM pairs) AS BIGINT) AS n_neighbor_pairs
""",
    # 3-row offset dims cross-joined for the bounded 3x3 cell fan-out;
    # three 1-row stats frames cross-joined for the summary row
    allow={"BroadcastNestedLoopJoin"},
)
def spatial_grid_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    h = "md5(CAST(c_custkey AS STRING))"
    pt = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("id"),
        F.expr(_hex_coord_sql(h, 1)).alias("x"),
        F.expr(_hex_coord_sql(h, 5)).alias("y"),
    )
    cells = pt.select(
        "id",
        "x",
        "y",
        F.expr("x div 256").alias("cx"),
        F.expr("y div 256").alias("cy"),
    ).localCheckpoint(eager=False)
    off = spark.range(-1, 2).select(F.col("id").alias("o"))
    b = (
        cells.crossJoin(off.select(F.col("o").alias("dxo")))
        .crossJoin(off.select(F.col("o").alias("dyo")))
        .select(
            F.col("id").alias("idb"),
            F.col("x").alias("xb"),
            F.col("y").alias("yb"),
            (F.col("cx") + F.col("dxo")).alias("cx"),
            (F.col("cy") + F.col("dyo")).alias("cy"),
        )
    )
    a = cells.select(
        F.col("id").alias("ida"),
        F.col("x").alias("xa"),
        F.col("y").alias("ya"),
        "cx",
        "cy",
    )
    pairs = (
        a.join(b, ["cx", "cy"])
        .filter(
            (F.col("ida") < F.col("idb"))
            & (F.abs(F.col("xa") - F.col("xb")) <= 256)
            & (F.abs(F.col("ya") - F.col("yb")) <= 256)
        )
        .select("ida", "idb")
        .distinct()
    )
    n_pt = pt.agg(F.count(F.lit(1)).cast("bigint").alias("n_points"))
    cell_stats = (
        cells.groupBy("cx", "cy")
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_cells"),
            F.max("c").cast("bigint").alias("max_cell_pop"),
        )
    )
    n_pr = pairs.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_neighbor_pairs")
    )
    return (
        n_pt.crossJoin(cell_stats)
        .crossJoin(n_pr)
        .select("n_points", "n_cells", "max_cell_pop", "n_neighbor_pairs")
    )


# --------------------------------------------------------------------
# 417. native ordered LISTAGG — Spark 4 added
# listagg(...) WITHIN GROUP (ORDER BY ...), the engine-level ordered
# string aggregation #276 had to emulate with collect_list +
# sort_array (that emulation predates the builtin and stays as the
# portable form; this entry exercises the new surface itself). Per
# order priority: the distinct order YEARS in ascending order as one
# display string, plus exact counts. DuckDB twin: string_agg(...
# ORDER BY ...) over the pre-deduplicated year list.
@query(
    "listagg_within_group",
    oracle="""
WITH y AS (
  SELECT DISTINCT o_orderpriority AS priority,
         CAST(EXTRACT(year FROM o_orderdate) AS INT) AS yr
  FROM orders),
n AS (
  SELECT o_orderpriority AS priority, CAST(COUNT(*) AS BIGINT) AS n_orders
  FROM orders GROUP BY 1)
SELECT y.priority,
       string_agg(CAST(y.yr AS VARCHAR), ',' ORDER BY y.yr) AS years,
       MAX(n.n_orders) AS n_orders
FROM y JOIN n ON n.priority = y.priority
GROUP BY y.priority ORDER BY y.priority
""",
)
def listagg_within_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("priority"),
        F.year("o_orderdate").cast("int").alias("yr"),
    )
    y = o.distinct()
    n = o.groupBy("priority").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders")
    )
    return (
        y.join(n, "priority")
        .groupBy("priority")
        .agg(
            F.expr(
                "listagg(CAST(yr AS STRING), ',')"
                " WITHIN GROUP (ORDER BY yr)"
            ).alias("years"),
            F.max("n_orders").alias("n_orders"),
        )
        .orderBy("priority")
    )


# --------------------------------------------------------------------
# 418. schema-evolution union — unionByName(allowMissingColumns=True)
# is how a pipeline appends a NEW ingest generation whose schema
# gained a column without rewriting the old data (the read-side twin
# of #259's mergeSchema): legacy rows surface NULL for the new field,
# and the union aligns BY NAME (positional union would silently pair
# mismatched columns — the classic corruption). Two deterministic
# generations derived from orders (pre/post 1997 cut; the new
# 'channel' column exists only post), union, per-generation null
# audit. Pure projection + union: no shuffle before the rollup.
@query(
    "union_by_name_evolution",
    oracle="""
WITH legacy AS (
  SELECT o_orderkey, CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)
           AS cents,
         CAST(NULL AS VARCHAR) AS channel, 'v1' AS gen
  FROM orders WHERE o_orderdate < DATE '1997-01-01'),
modern AS (
  SELECT o_orderkey, CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)
           AS cents,
         CASE WHEN o_orderkey % 2 = 0 THEN 'web' ELSE 'store' END
           AS channel, 'v2' AS gen
  FROM orders WHERE o_orderdate >= DATE '1997-01-01'),
u AS (SELECT * FROM legacy UNION ALL SELECT * FROM modern)
SELECT gen, CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CASE WHEN channel IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_null_channel,
       CAST(SUM(cents) AS BIGINT) AS cents
FROM u GROUP BY gen ORDER BY gen
""",
)
def union_by_name_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    legacy = o.filter(
        F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp")
    ).select(
        "o_orderkey",
        F.floor(F.col("o_totalprice") * 100 + 0.5)
        .cast("bigint")
        .alias("cents"),
        F.lit("v1").alias("gen"),
    )
    modern = o.filter(
        F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp")
    ).select(
        "o_orderkey",
        F.floor(F.col("o_totalprice") * 100 + 0.5)
        .cast("bigint")
        .alias("cents"),
        F.when(F.col("o_orderkey") % 2 == 0, "web")
        .otherwise("store")
        .alias("channel"),
        F.lit("v2").alias("gen"),
    )
    u = legacy.unionByName(modern, allowMissingColumns=True)
    return (
        u.groupBy("gen")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum(F.when(F.col("channel").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_null_channel"),
            F.sum("cents").cast("bigint").alias("cents"),
        )
        .orderBy("gen")
    )


# --------------------------------------------------------------------
# 419. approx_top_k heavy-hitters sketch — Spark 4's built-in
# frequent-items aggregate (the engine twin of #239's hand-rolled
# count-min): ONE pass, mergeable sketch state, top-3 brands by line
# count. With maxItemsTracked (10k default) >= the 25-brand domain
# the sketch degenerates to EXACT counts — which is what makes a
# value-oracle possible (documented: past 10k distinct keys the
# counts become estimates and the right check is #239's
# epsilon-bound audit, not equality). Exploded to rows with full
# (count desc, brand) tie-break.
@query(
    "approx_top_k_brands",
    oracle="""
WITH c AS (
  SELECT p.p_brand AS brand, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
  GROUP BY 1)
SELECT brand, cnt,
       CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, brand ASC) AS INT) AS rk
FROM c ORDER BY rk LIMIT 3
""",
    # rank over the sketch's <=maxItemsTracked frequent-item rows
    allow={"GlobalWindow"},
)
def approx_top_k_brands(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    li = _t(spark, sf_dir, "lineitem").select("l_partkey")
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    j = li.join(p, li.l_partkey == p.p_partkey).select(
        F.col("p_brand").alias("brand")
    )
    topk = j.agg(F.expr("approx_top_k(brand, 25)").alias("tk")).select(
        F.explode("tk").alias("e")
    )
    w = Window.orderBy(F.col("cnt").desc(), F.col("brand").asc())
    return (
        topk.select(
            F.col("e.item").alias("brand"),
            F.col("e.count").cast("bigint").alias("cnt"),
        )
        .withColumn("rk", F.row_number().over(w).cast("int"))
        .filter(F.col("rk") <= 3)
        .orderBy("rk")
    )
