"""Sources/sinks: JSONL round-trip, partitioned parquet write with
partition pruning visible in the plan."""

from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


def test_jsonl_roundtrip(spark, tmp_path):
    from koalas_spark.sources.io import read_jsonl, write_jsonl

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select(
        "doc_id", "lang", "n_chars"
    )
    path = str(tmp_path / "docs_jsonl")
    write_jsonl(docs, path)
    back = read_jsonl(spark, path, "doc_id bigint, lang string, n_chars bigint")
    assert back.count() == docs.count()
    a = {(r.doc_id, r.lang, r.n_chars) for r in docs.collect()}
    b = {(r.doc_id, r.lang, r.n_chars) for r in back.collect()}
    assert a == b
    # missing field -> null, declared schema preserved
    wider = read_jsonl(spark, path, "doc_id bigint, lang string, missing double")
    row = wider.filter(F.col("doc_id") == docs.first().doc_id).first()
    assert row.missing is None


def test_orc_roundtrip_pushdown(spark, tmp_path):
    from koalas_spark.sources.io import read_orc, write_orc

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select(
        "doc_id", "lang", "n_chars"
    )
    path = str(tmp_path / "docs_orc")
    write_orc(docs, path)
    back = read_orc(spark, path)
    assert back.schema == docs.schema
    a = {(r.doc_id, r.lang, r.n_chars) for r in docs.collect()}
    b = {(r.doc_id, r.lang, r.n_chars) for r in back.collect()}
    assert a == b
    # filters push into the ORC scan like parquet
    plan = (
        back.filter(F.col("lang") == "en")
        .select("doc_id")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters: []" not in plan and "lang" in plan


def test_partitioned_parquet_prunes(spark, tmp_path):
    from koalas_spark.sources.io import write_parquet_partitioned

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    path = str(tmp_path / "docs_by_lang")
    write_parquet_partitioned(docs, path, ("lang",))
    back = spark.read.parquet(path)
    assert back.count() == docs.count()
    one = back.filter(F.col("lang") == "en")
    plan = one._jdf.queryExecution().executedPlan().toString()
    # the lang filter must become a partition filter (directory skip),
    # not a data filter evaluated per row
    assert "PartitionFilters" in plan and "lang" in plan.split("PartitionFilters")[1][:120]
    expected = docs.filter(F.col("lang") == "en").count()
    assert one.count() == expected


def test_ntz_parquet_event_time_normalized(spark, tmp_path):
    """Regression: the driver's generator writes events.ts as tz-less
    TIMESTAMP(MICROS), which Spark 4.x reads as TIMESTAMP_NTZ — a type
    that withWatermark rejects and CAST(.. AS BIGINT) refuses. The
    read path must normalize it to TIMESTAMP_LTZ so every ts-consuming
    query (epoch casts, watermarks, windows) is immune to flavor."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from koalas_spark.sources.io import normalize_event_time

    path = str(tmp_path)
    tbl = pa.table(
        {
            "event_id": pa.array([1, 2, 3], pa.int64()),
            "ts": pa.array(
                pd.to_datetime(
                    ["2024-01-01 00:00:00", "2024-01-01 01:00:00", "2024-01-01 03:00:00"]
                ),
                pa.timestamp("us"),  # no tz -> Spark reads TIMESTAMP_NTZ
            ),
            "user_id": pa.array([7, 7, 7], pa.int64()),
        }
    )
    pq.write_table(tbl, f"{path}/part0.parquet")

    raw = spark.read.parquet(path)
    from pyspark.sql import types as T

    assert isinstance(raw.schema["ts"].dataType, T.TimestampNTZType)
    df = normalize_event_time(raw)
    assert isinstance(df.schema["ts"].dataType, T.TimestampType)
    # epoch cast works and preserves the wall-clock micros (UTC session)
    secs = [r.s for r in df.select(F.col("ts").cast("long").alias("s")).orderBy("s").collect()]
    assert secs == [1704067200, 1704070800, 1704078000]
    # watermark analysis accepts the normalized column (batch plan check)
    df.withWatermark("ts", "1 hour").groupBy(F.window("ts", "1 hour")).count().schema


def test_snapshot_time_travel_isolation(spark, tmp_path):
    """Version-pinned reads must not see later appends; latest sees all."""
    from koalas_spark.sources.snapshots import (
        latest_version,
        read_snapshot,
        write_snapshot,
    )

    path = str(tmp_path / "snap_tbl")
    df1 = spark.range(0, 10).withColumnRenamed("id", "k")
    df2 = spark.range(10, 15).withColumnRenamed("id", "k")
    assert write_snapshot(df1, path) == 1
    assert write_snapshot(df2, path) == 2
    assert latest_version(path) == 2
    assert read_snapshot(spark, path, version=1).count() == 10
    assert read_snapshot(spark, path).count() == 15  # latest
    # v1's content is exactly the frozen population
    got = sorted(r.k for r in read_snapshot(spark, path, version=1).collect())
    assert got == list(range(10))


def test_snapshot_commit_race_retries_next_version(spark, tmp_path):
    """If another committer publishes _v{N}.json between our read of
    the latest manifest and our publish, the os.link CAS must fail and
    the commit must land on N+1 with the racer's dirs included —
    never silently overwrite the racer's manifest (lost update)."""
    import json
    import os
    from koalas_spark.sources.snapshots import (
        latest_version,
        read_snapshot,
        write_snapshot,
    )

    path = str(tmp_path / "snap_race")
    assert write_snapshot(spark.range(0, 5).withColumnRenamed("id", "k"), path) == 1

    # simulate a racer: hand-publish _v2.json pointing at its own dir
    racer_dir = os.path.join(path, "d-racer")
    spark.range(100, 103).withColumnRenamed("id", "k").write.parquet(racer_dir)
    with open(os.path.join(path, "_v1.json")) as f:
        v1_dirs = json.load(f)["dirs"]
    with open(os.path.join(path, "_v2.json"), "w") as f:
        json.dump({"version": 2, "dirs": v1_dirs + ["d-racer"]}, f)

    # our commit must observe the racer and serialize after it
    assert write_snapshot(spark.range(200, 202).withColumnRenamed("id", "k"), path) == 3
    assert latest_version(path) == 3
    # racer's manifest intact, v3 sees everything: 5 + 3 + 2 rows
    assert read_snapshot(spark, path, version=2).count() == 8
    assert read_snapshot(spark, path, version=3).count() == 10
