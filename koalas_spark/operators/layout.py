"""Multi-dimensional data layout: Z-order (Morton) clustering for
parquet writes.

A linear sort clusters row groups on ONE dimension — a range predicate
on any other column overlaps every file and min/max pruning does
nothing. Interleaving the bits of several normalized dimensions into
one Morton key and range-partition-sorting on it gives every file a
tight bounding box in ALL participating dimensions, so a
multi-dimensional box predicate skips most row groups at scan time
(the same layout trick Delta/Iceberg expose as OPTIMIZE ZORDER BY).

Everything is JVM-side codegen: min/max normalization statistics are
attached with a broadcast cross-join of a 1-row aggregate (no driver
collect), and the bit interleave is a fixed fold of shift/and/or
expressions. The write is `repartitionByRange` on the Morton key —
a sampled range exchange, the same mechanism as a global sort, so at
100 TB it scales exactly like `ORDER BY` — followed by
`sortWithinPartitions` so row groups inside each file are clustered
too.

Reference parity: the reference's layout control is its sort
(`dataframe.d:177 sort` + `index.d:24 multiSort`) — single-dimension
only; Z-order is the multi-dimension generalization a columnar store
needs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def interleave_bits(cols: list[Column], bits: int = 12) -> Column:
    """Morton key: bit-interleave already-normalized non-negative ints
    (each in [0, 2**bits)) into one long. Dimension j contributes bit
    i to output position i*len(cols)+j."""
    n = len(cols)
    assert n * bits <= 63, "Morton key must fit a signed long"
    z = F.lit(0).cast("long")
    for i in range(bits):
        for j, c in enumerate(cols):
            bit = F.shiftright(c.cast("long"), i).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, i * n + j))
    return z


def zorder_key(df: DataFrame, cols: list[str], bits: int = 12) -> DataFrame:
    """Attach a `_zorder` Morton-key column over `cols` (numeric).

    Columns are min/max normalized to [0, 2**bits) with a broadcast
    1-row statistics aggregate; NULLs map to 0 (sort first)."""
    stats = df.agg(
        *[F.min(c).cast("double").alias(f"_mn_{c}") for c in cols],
        *[F.max(c).cast("double").alias(f"_mx_{c}") for c in cols],
    )
    d = df.crossJoin(stats)
    top = (1 << bits) - 1
    scaled = [
        F.coalesce(
            F.floor(
                (F.col(c).cast("double") - F.col(f"_mn_{c}"))
                * top
                / F.greatest(F.col(f"_mx_{c}") - F.col(f"_mn_{c}"), F.lit(1.0))
            ),
            F.lit(0),
        )
        for c in cols
    ]
    return d.withColumn("_zorder", interleave_bits(scaled, bits)).drop(
        *[f"_mn_{c}" for c in cols], *[f"_mx_{c}" for c in cols]
    )


def zorder_write(
    df: DataFrame,
    cols: list[str],
    path: str,
    bits: int = 12,
    num_files: int | None = None,
) -> None:
    """Write `df` to parquet clustered on the Z-order of `cols`."""
    z = zorder_key(df, cols, bits)
    if num_files:
        z = z.repartitionByRange(num_files, "_zorder")
    else:
        z = z.repartitionByRange("_zorder")
    z.sortWithinPartitions("_zorder").drop("_zorder").write.mode(
        "overwrite"
    ).parquet(path)


def hilbert_key_2d(df: DataFrame, cols: list[str], bits: int = 12) -> DataFrame:
    """Attach a `_hilbert` key column over two numeric columns.

    The Hilbert curve improves on Z-order's locality: consecutive key
    values are always grid-adjacent (Morton order takes long diagonal
    jumps at quadrant boundaries), so file bounding boxes come out
    tighter for the same file count — the layout Delta Lake exposes as
    `OPTIMIZE ... HILBERT` under liquid clustering. This is the
    classical bitwise xy→d walk (public-domain algorithm: per level,
    the quadrant index (3·rx)⊕ry is accumulated and the quadrant is
    reflected+transposed into canonical orientation). Each level is
    materialized as a PROJECTION over the previous level's three
    columns — expressing the recurrence as one nested expression would
    duplicate subtrees 4^bits times, while the per-level projection
    keeps the plan linear in `bits` and whole-stage codegen fuses it
    into one pass anyway.

    Normalization (min/max → [0, 2^bits)) matches zorder_key: a 1-row
    broadcast statistics aggregate, NULLs to 0.
    """
    assert len(cols) == 2, "hilbert_key_2d is the 2-D variant"
    assert 2 * bits <= 62
    stats = df.agg(
        *[F.min(c).cast("double").alias(f"_mn_{c}") for c in cols],
        *[F.max(c).cast("double").alias(f"_mx_{c}") for c in cols],
    )
    d = df.crossJoin(stats)
    top = (1 << bits) - 1
    scaled = [
        F.coalesce(
            F.floor(
                (F.col(c).cast("double") - F.col(f"_mn_{c}"))
                * top
                / F.greatest(F.col(f"_mx_{c}") - F.col(f"_mn_{c}"), F.lit(1.0))
            ),
            F.lit(0),
        ).cast("long")
        for c in cols
    ]
    n = 1 << bits
    cur = d.withColumns(
        {"_hx": scaled[0], "_hy": scaled[1], "_hd": F.lit(0).cast("long")}
    )
    for i in range(bits - 1, -1, -1):
        s = 1 << i
        rx = F.shiftright(F.col("_hx"), i).bitwiseAND(F.lit(1))
        ry = F.shiftright(F.col("_hy"), i).bitwiseAND(F.lit(1))
        step = F.col("_hd") + F.lit(s).cast("long") * F.lit(s) * (
            (F.lit(3) * rx).bitwiseXOR(ry).cast("long")
        )
        # rotate into canonical orientation: if ry==0 reflect (when
        # rx==1) then transpose — new x comes from y and vice versa
        nx = F.when(
            ry == 0,
            F.when(rx == 1, F.lit(n - 1) - F.col("_hy")).otherwise(F.col("_hy")),
        ).otherwise(F.col("_hx"))
        ny = F.when(
            ry == 0,
            F.when(rx == 1, F.lit(n - 1) - F.col("_hx")).otherwise(F.col("_hx")),
        ).otherwise(F.col("_hy"))
        cur = cur.withColumns({"_hd": step, "_hx": nx, "_hy": ny})
    return cur.withColumnRenamed("_hd", "_hilbert").drop(
        "_hx", "_hy", *[f"_mn_{c}" for c in cols], *[f"_mx_{c}" for c in cols]
    )


def hilbert_write(
    df: DataFrame,
    cols: list[str],
    path: str,
    bits: int = 12,
    num_files: int | None = None,
) -> None:
    """Write `df` to parquet clustered on the 2-D Hilbert key — same
    range-exchange + within-partition sort mechanism as zorder_write."""
    h = hilbert_key_2d(df, cols, bits)
    if num_files:
        h = h.repartitionByRange(num_files, "_hilbert")
    else:
        h = h.repartitionByRange("_hilbert")
    h.sortWithinPartitions("_hilbert").drop("_hilbert").write.mode(
        "overwrite"
    ).parquet(path)
