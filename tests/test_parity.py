"""Reference-parity tests.

Mirrors the koalas reference's own unittest scenarios
(/root/reference/source/koalas/dataframe.d:337, groupby.d:109) through
the KFrame API: same tiny tables, same expected counts/sums/orderings.
"""

import pytest
from pyspark.sql import functions as F

from koalas_spark.frame import KFrame, concat

SCHEMA = "chrom string, pos int, other string"
# the reference's test.tsv (source/tests/data/test.tsv)
ROWS = [("1", 2, "hi"), ("1", 2, "his"), ("2", 3, "high"), ("q", 7, "no"), ("q", 6, "no")]


@pytest.fixture(scope="module")
def df(spark):
    return KFrame.from_rows(spark, ROWS, SCHEMA)


def test_shape_columns(df):
    assert df.shape() == (5, 3)
    assert df.columns == ["chrom", "pos", "other"]


def test_groupby_count(df):
    # dataframe.d:351 — gby.count.count == [2, 1, 1, 1]
    out = df.groupby("chrom", "pos").count()
    rows = [(r["chrom"], r["pos"], r["count"]) for r in out.df.collect()]
    assert rows == [("1", 2, 2), ("2", 3, 1), ("q", 6, 1), ("q", 7, 1)]


def test_groupby_first(df):
    # dataframe.d:353 — gby.first.other == ["hi","high","no","no"]
    out = df.groupby("chrom", "pos").first()
    assert [r["other"] for r in out.df.collect()] == ["hi", "high", "no", "no"]


def test_groupby_sum_mean(spark):
    # groupby.d:109 scenario
    rows = [
        ("1", 2, 0.2), ("1", 2, 0.3), ("2", 3, 0.4),
        ("q", 7, 0.5), ("q", 6, 0.6), ("1", 2, 0.2),
    ]
    kf = KFrame.from_rows(spark, rows, "chrom string, pos1 int, pos2 double")
    counts = kf.groupby("chrom", "pos1").count()
    assert [r["count"] for r in counts.df.collect()] == [3, 1, 1, 1]
    sums = kf.groupby("chrom").sum()
    got = {r["chrom"]: r["pos2"] for r in sums.df.collect()}
    assert got["1"] == pytest.approx(0.7)
    assert got["2"] == pytest.approx(0.4)
    assert got["q"] == pytest.approx(1.1)
    sums2 = kf.groupby("chrom", "pos1").sum()
    assert [r["pos2"] for r in sums2.df.collect()] == pytest.approx([0.7, 0.4, 0.6, 0.5])


def test_select_filter(df):
    out = df.select("pos", ">", 5)
    assert sorted(r["pos"] for r in out.df.collect()) == [6, 7]
    eq = df.select("chrom", "==", "1")
    assert eq.length() == 2


def test_sort_concat_apply(df):
    # dataframe.d:355-358
    s = df.sort("chrom", "pos")
    both = concat(s, s)
    assert both.length() == 10
    res = [r["result"] for r in both.apply("pos * 2", alias="result").collect()]
    assert sorted(res) == sorted([4, 4, 6, 12, 14] * 2)


def test_subset_unique(df):
    sub = concat(df, df).subset(["chrom", "pos"]).unique()
    assert [r["chrom"] for r in sub.df.collect()] == ["1", "2", "q", "q"]


def test_mask_head_addcol(df):
    masked = df.mask(F.col("pos") > 5)
    assert sorted(r["pos"] for r in masked.df.collect()) == [6, 7]
    assert df.head(3).length() == 3
    df2 = df.add_new_col("test", F.lit(0))
    assert df2.columns == ["chrom", "pos", "other", "test"]


def test_append_row(df):
    # dataframe.d:380 — df3 ~= recordType(...)
    df2 = df.append([("1", 8, "k")])
    assert df2.length() == 6


def test_csv_roundtrip(tmp_path, spark, df):
    path = str(tmp_path / "rt")
    df.to_csv(path, sep="\t")
    back = KFrame.from_table(spark, path, SCHEMA, sep="\t")
    assert back.length() == 5
    assert sorted(r["pos"] for r in back.df.collect()) == [2, 2, 3, 6, 7]


def test_from_table_index_skip(tmp_path, spark):
    # dataframe.d:108 fromTable(fn, sep, indexCols=1, headerCols=1):
    # leading index columns are dropped after the scan
    p = tmp_path / "idx.tsv"
    p.write_text("idx\tchrom\tpos\n0\t1\t2\n1\tq\t7\n")
    from koalas_spark.sources.io import read_table

    df = read_table(
        spark, str(p), "chrom string, pos int", sep="\t", header=True, index_cols=1
    )
    assert df.columns == ["chrom", "pos"]
    assert sorted((r.chrom, r.pos) for r in df.collect()) == [("1", 2), ("q", 7)]


def test_apply_batch_arbitrary_python(spark):
    """Reference apply with an arbitrary (non-expressible) Python fn:
    Arrow-batched, stays distributed, exact results."""
    import pandas as pd

    from koalas_spark.frame import KFrame

    kf = KFrame(
        spark.createDataFrame(
            [(1, "ab"), (2, "xyz"), (3, "")], "id long, s string"
        )
    )

    def fancy(pdf: pd.DataFrame) -> pd.DataFrame:
        # something Catalyst can't express: python's int.bit_count on a
        # per-row derived value
        return pd.DataFrame(
            {
                "id": pdf["id"],
                "bits": [int(i).bit_count() for i in pdf["id"] * 7],
                "rev": [s[::-1] for s in pdf["s"]],
            }
        )

    out = {r.id: (r.bits, r.rev) for r in
           kf.apply_batch(fancy, "id long, bits int, rev string").df.collect()}
    assert out == {1: ((7).bit_count(), "ba"), 2: ((14).bit_count(), "zyx"), 3: ((21).bit_count(), "")}


@pytest.mark.parametrize(
    "rows",
    [
        [(1, 2**40, float("nan"), "x", None), (None, 3, 1.5, None, "y")],
        [],
    ],
    ids=["values", "empty"],
)
def test_local_rows_is_one_jvm_task_of_the_declared_schema(spark, rows):
    """local_rows keeps the declared types and nullability, NaN and nulls
    included, and an empty list gives an empty frame of the schema.
    Forcing it runs one task over no parallelized Python list."""
    import math

    from pyspark.sql import types as T

    from koalas_spark.frame import local_rows

    ddl = "a int, b bigint, c double, d string, e string"
    lit = local_rows(spark, rows, ddl)
    assert lit.schema == T.StructType.fromDDL(ddl)

    def nan_as_str(row):
        return tuple("NaN" if isinstance(v, float) and math.isnan(v) else v for v in row)

    assert [nan_as_str(r) for r in lit.collect()] == [nan_as_str(r) for r in rows]
    plan = spark._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        lit._jdf.queryExecution(), "formatted"  # noqa: SLF001
    )
    assert "ExistingRDD" not in plan and "Python" not in plan, plan
    sc = spark.sparkContext
    group = f"local_rows_{len(rows)}"
    sc.setJobGroup(group, group)
    lit.write.format("noop").mode("overwrite").save()
    sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # noqa: SLF001
    tracker = sc.statusTracker()
    tasks = [
        tracker.getStageInfo(s).numTasks
        for j in tracker.getJobIdsForGroup(group)
        for s in tracker.getJobInfo(j).stageIds
    ]
    assert tasks == [1]
