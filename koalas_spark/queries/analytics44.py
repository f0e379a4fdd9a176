"""Round-9 batch-22 additions (SURVEY.md §2 extensions): Theil's
uncertainty coefficient, the Hurst exponent by rescaled-range
analysis, and a streaming per-window top-k.

Reference parity note: not in the reference (its surface is the frame
ops in source/koalas/dataframe.d:73-311); these extend the
stats/time-series/streaming shelves under the repo determinism rules
(queries/__init__.py docstring): per-cell nano-ln quantization before
any sum (#221), sign-aware half-up division for signed means, and the
one-row pivot discipline for the log-log slope.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from koalas_spark.queries import query
from koalas_spark.queries.analytics import _t, daily_revenue_table


# --------------------------------------------------------------------
# 361. Theil's uncertainty coefficient U(priority | status) — the
# ASYMMETRIC categorical association (#344's Cramér's V is symmetric;
# U answers "how much does knowing the order status reduce priority
# uncertainty?"): U = MI(X;Y) / H(X), both in exact integer nanos via
# the #250 per-cell discipline (nano-ln of exact cross products,
# sign-aware contribution division) and the #221 entropy identity.
# One 15-cell corpus groupBy; U ships as a sign-aware ppm integer.
@query(
    "theil_u_priority_status",
    oracle="""
WITH cells AS (
  SELECT o_orderpriority AS x, o_orderstatus AS y,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM orders GROUP BY 1, 2),
tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM cells),
p AS (
  SELECT x, y, c,
         CAST(SUM(c) OVER (PARTITION BY x) AS BIGINT) AS cx,
         CAST(SUM(c) OVER (PARTITION BY y) AS BIGINT) AS cy
  FROM cells),
w AS (
  SELECT c, cx, cy, tot.n,
         CAST(FLOOR(LN(CAST(c AS DOUBLE) * CAST(tot.n AS DOUBLE)
                       / (CAST(cx AS DOUBLE) * CAST(cy AS DOUBLE)))
                    * 1000000000 + 0.5) AS BIGINT) AS lr_nano
  FROM p, tot),
mi AS (
  SELECT CAST(SUM(CASE WHEN lr_nano >= 0 THEN (c * lr_nano) // n
                       ELSE -((c * (-lr_nano)) // n) END) AS BIGINT)
           AS mi_nano,
         CAST(MAX(n) AS BIGINT) AS n
  FROM w),
hx AS (
  SELECT CAST(FLOOR(1000000000 * LN(CAST(MAX(n) AS DOUBLE)))
              AS BIGINT)
         - CAST(SUM(CAST(FLOOR(1000000000
                               * (cx * LN(CAST(cx AS DOUBLE))))
                         AS BIGINT)) AS BIGINT) // MAX(n) AS hx_nano
  FROM (SELECT DISTINCT x, cx FROM p), tot),
u AS (
  SELECT mi.n, mi.mi_nano, hx.hx_nano FROM mi, hx)
SELECT n, mi_nano, hx_nano,
       CAST(CASE WHEN mi_nano >= 0
                 THEN (mi_nano * 1000000) // hx_nano
                 ELSE -(((-mi_nano) * 1000000) // hx_nano) END
            AS BIGINT) AS theil_u_ppm
FROM u
""",
    # 1-row corpus-total frame cross-joined onto the 15-cell table
    allow={"BroadcastNestedLoopJoin"},
)
def theil_u_priority_status(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    o = _t(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("x"),
        F.col("o_orderstatus").alias("y"),
    )
    cells = o.groupBy("x", "y").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    tot = cells.agg(F.sum("c").cast("bigint").alias("n"))
    # marginals via windows over the <=15-cell contingency domain
    p = cells.select(
        "x",
        "y",
        "c",
        F.sum("c").over(Window.partitionBy("x")).cast("bigint").alias("cx"),
        F.sum("c").over(Window.partitionBy("y")).cast("bigint").alias("cy"),
    ).crossJoin(tot)
    w = p.select(
        "c",
        "cx",
        "cy",
        "n",
        F.floor(
            F.log(
                F.expr(
                    "CAST(c AS DOUBLE) * CAST(n AS DOUBLE)"
                    " / (CAST(cx AS DOUBLE) * CAST(cy AS DOUBLE))"
                )
            )
            * 1000000000
            + 0.5
        )
        .cast("bigint")
        .alias("lr_nano"),
    )
    mi = w.agg(
        F.sum(
            F.expr(
                "CASE WHEN lr_nano >= 0 THEN (c * lr_nano) div n"
                " ELSE -((c * (-lr_nano)) div n) END"
            )
        )
        .cast("bigint")
        .alias("mi_nano"),
        F.max("n").cast("bigint").alias("n"),
    )
    hx = (
        p.select("x", "cx")
        .distinct()
        .crossJoin(tot)
        .agg(
            F.expr(
                "CAST(FLOOR(1000000000 * LN(CAST(MAX(n) AS DOUBLE)))"
                " AS BIGINT)"
                " - CAST(SUM(CAST(FLOOR(1000000000"
                " * (cx * LN(CAST(cx AS DOUBLE)))) AS BIGINT))"
                " AS BIGINT) div MAX(n)"
            ).alias("hx_nano")
        )
    )
    u = mi.crossJoin(hx)
    return u.select(
        "n",
        "mi_nano",
        "hx_nano",
        F.expr(
            "CAST(CASE WHEN mi_nano >= 0"
            " THEN (mi_nano * 1000000) div hx_nano"
            " ELSE -(((-mi_nano) * 1000000) div hx_nano) END AS BIGINT)"
        ).alias("theil_u_ppm"),
    )


# --------------------------------------------------------------------
# 362. Hurst exponent of daily revenue by rescaled-range analysis —
# long-range dependence (H > 0.5 = persistent trends, < 0.5 = mean
# reversion; the memory diagnostic #347's variance ratio approximates
# at short lags): the day series splits into complete blocks of
# w in {16,32,64,128}; per block the cumulative deviations stay EXACT
# integers via the xw scaling (y_k = w*cum_k - k*S1b), R/S collapses
# to rscaled / sqrt(w*ssb - s1b^2), per-block ln is nano-quantized
# BEFORE the per-w mean (sign-aware half-up), and the log-log slope
# over the four (ln w, mean) points is one identical-shape double.
# Every window is bounded by the calendar day domain.
_HURST_WS = (16, 32, 64, 128)
# E-notation: a dotted literal is DECIMAL in DuckDB (the slope's
# literal*literal product then overflows DECIMAL(18)); e0 is DOUBLE
# in both engines
_HURST_LNW = {
    16: "2772588722e0",
    32: "3465735902e0",
    64: "4158883083e0",
    128: "4852030263e0",
}
_HURST_SLOPE = (
    "(4.0 * ({sxy}) - ({sx}) * ({sy})) / (4.0 * ({sxx}) - ({sx}) * ({sx}))"
).format(
    sxy=" + ".join(
        f"{_HURST_LNW[w]} * m{w}_d" for w in _HURST_WS
    ),
    sx=" + ".join(_HURST_LNW[w] for w in _HURST_WS),
    sy=" + ".join(f"m{w}_d" for w in _HURST_WS),
    sxx=" + ".join(
        f"{_HURST_LNW[w]} * {_HURST_LNW[w]}" for w in _HURST_WS
    ),
)


def _hurst_w_sql(w: int) -> str:
    return f"""
bw{w} AS MATERIALIZED (
  SELECT blk, s1b, nb, CAST(CAST(ssb AS VARCHAR) AS DOUBLE) AS ssb_d
  FROM (SELECT idx // {w} AS blk, CAST(SUM(x) AS BIGINT) AS s1b,
               SUM(CAST(x AS DECIMAL(38,0)) * x) AS ssb,
               CAST(COUNT(*) AS BIGINT) AS nb
        FROM ix GROUP BY 1) t
  WHERE nb = {w}),
cw{w} AS MATERIALIZED (
  SELECT b.blk,
         CAST({w} * SUM(i.x) OVER (PARTITION BY b.blk ORDER BY i.idx)
              - (ROW_NUMBER() OVER (PARTITION BY b.blk ORDER BY i.idx))
                * b.s1b AS BIGINT) AS y
  FROM ix i JOIN bw{w} b ON i.idx // {w} = b.blk),
rw{w} AS MATERIALIZED (
  SELECT blk, CAST(MAX(y) - MIN(y) AS BIGINT) AS rsc
  FROM cw{w} GROUP BY blk),
lw{w} AS MATERIALIZED (
  SELECT CAST(SUM(ln_nano) AS BIGINT) AS s,
         CAST(COUNT(*) AS BIGINT) AS b FROM (
    SELECT CAST(FLOOR(1000000000 * LN(CAST(r.rsc AS DOUBLE)
             / SQRT(CAST({w} AS DOUBLE) * b.ssb_d
                    - CAST(b.s1b AS DOUBLE) * CAST(b.s1b AS DOUBLE))))
           AS BIGINT) AS ln_nano
    FROM rw{w} r JOIN bw{w} b ON r.blk = b.blk) t),
mw{w} AS MATERIALIZED (
  SELECT CAST(CASE WHEN s >= 0 THEN (2 * s + b) // (2 * b)
              ELSE -((2 * (-s) + b) // (2 * b)) END AS BIGINT) AS m{w},
         b AS b{w}
  FROM lw{w})"""


@query(
    "hurst_rs_daily",
    oracle=f"""
WITH daily AS MATERIALIZED (
  SELECT datediff('day', DATE '1995-01-01', o_orderdate) AS d,
         CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
              AS BIGINT) AS x
  FROM orders GROUP BY 1),
ix AS MATERIALIZED (
  SELECT x, CAST(ROW_NUMBER() OVER (ORDER BY d) - 1 AS BIGINT) AS idx
  FROM daily),
{",".join(_hurst_w_sql(w) for w in _HURST_WS)},
nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM daily),
pv AS (
  SELECT n, {", ".join(f"m{w}, b{w}" for w in _HURST_WS)},
         {", ".join(f"CAST(m{w} AS DOUBLE) AS m{w}_d" for w in _HURST_WS)}
  FROM nd, {", ".join(f"mw{w}" for w in _HURST_WS)})
SELECT n AS n_days,
       {", ".join(f"m{w} AS mean_ln_rs_nano_w{w}" for w in _HURST_WS)},
       ROUND({_HURST_SLOPE}, 6) AS hurst
FROM pv
""",
    # four 1-row per-w mean frames cross-joined into the slope pivot
    allow={"BroadcastNestedLoopJoin"},
)
def hurst_rs_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = daily_revenue_table(spark, sf_dir)
    # domain-bounded window (~2.4k day rows)
    ix = daily.select(
        "x",
        (F.row_number().over(Window.orderBy("d")) - 1)
        .cast("bigint")
        .alias("idx"),
    ).localCheckpoint()
    mws = []
    for w in _HURST_WS:
        bw = (
            ix.groupBy(F.expr(f"idx div {w}").alias("blk"))
            .agg(
                F.sum("x").cast("bigint").alias("s1b"),
                F.sum(F.expr("CAST(x AS DECIMAL(38,0)) * x")).alias("ssb"),
                F.count(F.lit(1)).cast("bigint").alias("nb"),
            )
            .filter(F.col("nb") == w)
            .select(
                "blk",
                "s1b",
                "nb",
                F.col("ssb").cast("string").cast("double").alias("ssb_d"),
            )
        )
        cw = (
            ix.withColumn("blk", F.expr(f"idx div {w}"))
            .join(bw, "blk")
            .select(
                "blk",
                (
                    w
                    * F.sum("x").over(
                        Window.partitionBy("blk").orderBy("idx")
                    )
                    - F.row_number().over(
                        Window.partitionBy("blk").orderBy("idx")
                    )
                    * F.col("s1b")
                )
                .cast("bigint")
                .alias("y"),
            )
        )
        rw = cw.groupBy("blk").agg(
            (F.max("y") - F.min("y")).cast("bigint").alias("rsc")
        )
        lw = (
            rw.join(bw, "blk")
            .select(
                F.floor(
                    1000000000
                    * F.log(
                        F.expr(
                            f"CAST(rsc AS DOUBLE)"
                            f" / SQRT(CAST({w} AS DOUBLE) * ssb_d"
                            f" - CAST(s1b AS DOUBLE)"
                            f" * CAST(s1b AS DOUBLE))"
                        )
                    )
                )
                .cast("bigint")
                .alias("ln_nano")
            )
            .agg(
                F.sum("ln_nano").cast("bigint").alias("s"),
                F.count(F.lit(1)).cast("bigint").alias("b"),
            )
        )
        mws.append(
            lw.select(
                F.expr(
                    "CAST(CASE WHEN s >= 0 THEN (2 * s + b) div (2 * b)"
                    " ELSE -((2 * (-s) + b) div (2 * b)) END AS BIGINT)"
                ).alias(f"m{w}"),
                F.col("b").alias(f"b{w}"),
            )
        )
    nd = daily.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    pv = nd
    for m in mws:
        pv = pv.crossJoin(m)
    pv = pv.select(
        "n",
        *[c for w in _HURST_WS for c in (f"m{w}", f"b{w}")],
        *[
            F.col(f"m{w}").cast("double").alias(f"m{w}_d")
            for w in _HURST_WS
        ],
    )
    return pv.select(
        F.col("n").alias("n_days"),
        *[
            F.col(f"m{w}").alias(f"mean_ln_rs_nano_w{w}")
            for w in _HURST_WS
        ],
        F.round(F.expr(_HURST_SLOPE), 6).alias("hurst"),
    )


# --------------------------------------------------------------------
# 363. streaming per-window top-k event types — the live "trending
# now" board: the tumbling-window count runs through the Structured
# Streaming engine (#50's machinery — watermark, memory sink,
# processAllAvailable over the bounded source), then the top-3 rank
# per window is a batch post-step on the materialized sink output
# (window_start-partitioned, never corpus-wide). Oracle: identical
# batch formulation — after processAllAvailable the stream has seen
# exactly the full file.
@query(
    "stream_topk_windowed",
    oracle="""
SELECT window_start, event_type, n, rk FROM (
  SELECT DATE_TRUNC('hour', ts) AS window_start, event_type,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY DATE_TRUNC('hour', ts)
           ORDER BY COUNT(*) DESC, event_type ASC) AS INT) AS rk
  FROM events GROUP BY 1, 2) t
WHERE rk <= 3
""",
)
def stream_topk_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from koalas_spark.streaming.windows import stream_tumbling_counts

    agg = stream_tumbling_counts(
        spark, f"{sf_dir}/events.parquet", "1 hour", "1 hour"
    )
    wk = Window.partitionBy("window_start").orderBy(
        F.col("n").desc(), F.col("event_type").asc()
    )
    return (
        agg.select(
            "window_start", "event_type", F.col("n").cast("bigint").alias("n")
        )
        .withColumn("rk", F.row_number().over(wk).cast("int"))
        .filter(F.col("rk") <= 3)
    )
