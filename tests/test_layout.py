"""Z-order layout: correctness of the clustered scan and the actual
file-skipping payoff vs a linear sort (SURVEY.md §2.2 #121)."""

import glob
import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


def _file_bounds(path: str, cols):
    """[(path, {col: (min, max)})] from parquet footer statistics."""
    out = []
    for f in sorted(glob.glob(os.path.join(path, "*.parquet"))):
        md = pq.ParquetFile(f).metadata
        bounds = {}
        for rg in range(md.num_row_groups):
            row = md.row_group(rg)
            for i in range(row.num_columns):
                c = row.column(i)
                name = c.path_in_schema
                if name in cols and c.statistics is not None:
                    mn, mx = c.statistics.min, c.statistics.max
                    if name in bounds:
                        bounds[name] = (
                            min(bounds[name][0], mn),
                            max(bounds[name][1], mx),
                        )
                    else:
                        bounds[name] = (mn, mx)
        out.append((f, bounds))
    return out


def _overlapping(bounds, box):
    return [
        f
        for f, b in bounds
        if all(b[c][0] <= hi and b[c][1] >= lo for c, (lo, hi) in box.items())
    ]


def test_zorder_box_scan_matches_straight_scan(spark):
    from koalas_spark.queries.layout import zorder_box_scan

    got = {
        r["l_returnflag"]: (r["n"], r["sum_qty"])
        for r in zorder_box_scan(spark, SF_SMOKE).collect()
    }
    li = spark.read.parquet(os.path.join(SF_SMOKE, "lineitem.parquet"))
    want = {
        r["l_returnflag"]: (r["n"], r["sum_qty"])
        for r in li.filter(
            F.col("l_partkey").between(40, 99)
            & F.col("l_suppkey").between(2, 5)
        )
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.col("l_quantity").cast("decimal(25,6)")).alias("sum_qty"),
        )
        .collect()
    }
    assert got == want and got


def test_zorder_skips_more_files_than_linear_sort(spark, tmp_path):
    from koalas_spark.operators.layout import zorder_write

    cols = ["l_partkey", "l_suppkey"]
    li = spark.read.parquet(os.path.join(SF_SMOKE, "lineitem.parquet")).select(
        *cols, "l_quantity"
    )
    smn, smx = li.agg(F.min(cols[1]), F.max(cols[1])).first()
    # a ~20% slice on the SECOND dimension only: a linear sort on
    # l_partkey cannot prune this at all (every file spans the full
    # l_suppkey range), while Z-order gives every file a tight
    # l_suppkey bound too
    box = {
        cols[1]: (smn + (smx - smn) * 2 // 5, smn + (smx - smn) * 3 // 5),
    }

    zpath = str(tmp_path / "zorder")
    lpath = str(tmp_path / "linear")
    n_files = 16
    zorder_write(li, cols, zpath, bits=12, num_files=n_files)
    li.repartitionByRange(n_files, cols[0]).sortWithinPartitions(
        cols[0]
    ).write.mode("overwrite").parquet(lpath)

    z_hit = _overlapping(_file_bounds(zpath, cols), box)
    l_hit = _overlapping(_file_bounds(lpath, cols), box)
    # the linear layout overlaps on (nearly) every file; Z-order must
    # skip strictly more
    assert len(z_hit) < len(l_hit), (len(z_hit), len(l_hit))
    assert len(l_hit) >= n_files - 1

    # and the data read back is identical either way
    pred = F.col(cols[1]).between(*box[cols[1]])
    zc = spark.read.parquet(zpath).filter(pred).count()
    lc = spark.read.parquet(lpath).filter(pred).count()
    assert zc == lc and zc > 0


def test_hilbert_key_matches_reference_walk_and_is_bijective(spark):
    """The codegen Hilbert key must equal the classical per-level
    xy->d walk on the full 16x16 grid and enumerate it bijectively
    (which implies the space-filling property)."""
    from koalas_spark.operators.layout import hilbert_key_2d

    bits = 4
    n = 1 << bits
    df = spark.createDataFrame(
        [(x, y) for x in range(n) for y in range(n)], "x long, y long"
    )
    got = {(r.x, r.y): r._hilbert for r in hilbert_key_2d(df, ["x", "y"], bits=bits).collect()}

    def xy2d(x, y):
        d, s = 0, n // 2
        while s > 0:
            rx = 1 if (x & s) > 0 else 0
            ry = 1 if (y & s) > 0 else 0
            d += s * s * ((3 * rx) ^ ry)
            if ry == 0:
                if rx == 1:
                    x, y = n - 1 - x, n - 1 - y
                x, y = y, x
            s //= 2
        return d

    assert all(got[(x, y)] == xy2d(x, y) for x in range(n) for y in range(n))
    assert sorted(got.values()) == list(range(n * n))


def test_hilbert_skips_more_files_than_linear_sort(spark, tmp_path):
    """Same harness as the Z-order test: a second-dimension-only box
    that a linear l_partkey sort cannot prune at all."""
    from koalas_spark.operators.layout import hilbert_write

    cols = ["l_partkey", "l_suppkey"]
    li = spark.read.parquet(os.path.join(SF_SMOKE, "lineitem.parquet")).select(
        *cols, "l_quantity"
    )
    smn, smx = li.agg(F.min(cols[1]), F.max(cols[1])).first()
    box = {cols[1]: (smn + (smx - smn) * 2 // 5, smn + (smx - smn) * 3 // 5)}

    hpath = str(tmp_path / "hilbert")
    lpath = str(tmp_path / "linear")
    n_files = 16
    hilbert_write(li, cols, hpath, bits=12, num_files=n_files)
    li.repartitionByRange(n_files, cols[0]).sortWithinPartitions(
        cols[0]
    ).write.mode("overwrite").parquet(lpath)

    h_hit = _overlapping(_file_bounds(hpath, cols), box)
    l_hit = _overlapping(_file_bounds(lpath, cols), box)
    assert len(h_hit) < len(l_hit), (len(h_hit), len(l_hit))
    assert len(l_hit) >= n_files - 1

    pred = F.col(cols[1]).between(*box[cols[1]])
    hc = spark.read.parquet(hpath).filter(pred).count()
    lc = spark.read.parquet(lpath).filter(pred).count()
    assert hc == lc and hc > 0
