"""Streaming operators: results must agree with their batch twins.

- stream_tumbling_agg is oracle-checked in test_oracle_smoke (shares
  the batch window-agg oracle).
- stream_stateful_sessions (applyInPandasWithState) flushes its
  open-session tail via sentinel watermark advancement since r7, so
  its emitted rows must EQUAL the batch sessionization exactly (it is
  also oracle-checked in test_oracle_smoke; the equality here pins the
  batch-twin agreement independent of the SQL formulation).
"""

import os
import shutil
from pathlib import Path

import pytest

from koalas_spark.streaming import windows
from koalas_spark.streaming.stateful import stream_sessionize
from tests.conftest import SF_SMOKE


def test_stateful_sessions_equal_batch(spark):
    from koalas_spark.queries.analytics import sessionize_events

    batch = {
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in sessionize_events(spark, SF_SMOKE).collect()
    }
    streamed = [
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in stream_sessionize(spark, f"{SF_SMOKE}/events.parquet").collect()
    ]
    assert len(streamed) == len(set(streamed))  # no duplicate emissions
    assert set(streamed) == batch


def test_foreachbatch_sink_replay_idempotent(spark, tmp_path):
    """The exactly-once claim: replaying the stream into a lake that
    is still on disk (checkpoint lost, as after a catastrophic
    recovery) must OVERWRITE each batch directory, not append
    duplicates — the lake aggregates identically both times."""
    from pyspark.sql import functions as F

    from koalas_spark.sources.io import read_source
    from koalas_spark.streaming.windows import _write_lake

    out = str(tmp_path / "out")
    raw = read_source(spark, f"{SF_SMOKE}/events.parquet", "events")

    def replay_totals():
        _write_lake(spark, raw, out, [raw])
        row = (
            spark.read.parquet(os.path.join(out, "lake"))
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("value").cast("decimal(25,6)")).alias("s"),
            )
            .collect()[0]
        )
        return (row.n, row.s)

    first = replay_totals()
    assert first[0] > 0
    # keep the lake and the staged source, drop only the checkpoint
    shutil.rmtree(os.path.join(out, "ckpt"))
    assert replay_totals() == first


def test_windowed_distinct_users_matches_batch(spark):
    from pyspark.sql import functions as F

    from koalas_spark.queries.analytics import _t
    from koalas_spark.streaming.windows import stream_windowed_distinct_users

    got = {
        (r.window_start, r.n_users)
        for r in stream_windowed_distinct_users(
            spark, f"{SF_SMOKE}/events.parquet"
        ).collect()
    }
    want = {
        (r.ws, r.n)
        for r in _t(spark, SF_SMOKE, "events")
        .groupBy(F.date_trunc("hour", "ts").alias("ws"))
        .agg(F.count_distinct("user_id").alias("n"))
        .collect()
    }
    assert got == want


def test_statestore_reader_exposes_agg_state(spark, tmp_path):
    """Spark 4 state-store data source: the checkpointed state of a
    streaming aggregation is queryable as a table — the production
    debugging path for 'what does my stream think right now' without
    touching the running query. Contents must equal the batch twin."""
    from pyspark.sql import functions as F

    from koalas_spark.queries.analytics import _t
    from koalas_spark.streaming.windows import _staged_events_stream

    src = _staged_events_stream(spark, f"{SF_SMOKE}/events.parquet", "ssr")
    ckpt = str(tmp_path / "ckpt")
    agg = (
        src.withWatermark("ts", "1 hour")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("ssr_probe")
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    state = {
        (r["key"]["event_type"], r["value"]["count"])
        for r in spark.read.format("statestore").load(ckpt).collect()
    }
    want = {
        (r.event_type, r.n)
        for r in _t(spark, SF_SMOKE, "events")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert state == want


@pytest.mark.parametrize(
    "op",
    [stream_sessionize, windows.stream_left_outer_interval_join],
    ids=lambda op: op.__name__,
)
def test_stream_sessionize_empty_source(spark, tmp_path, op):
    """An empty events source must yield an empty result, not crash in
    the sentinel tail flush the two operators share (ADVICE r7:
    agg(max(ts)) returns None)."""
    empty = str(tmp_path / "empty_events")
    spark.read.parquet(f"{SF_SMOKE}/events.parquet").limit(0).write.parquet(
        empty
    )
    assert op(spark, empty).count() == 0


def test_nanos_events_read_as_micros(spark, tmp_path):
    """Events stored as TIMESTAMP(NANOS), a flavor the generator has
    written before, read through the batch source and both tail-flushed
    streaming operators give the rows the micros source gives."""
    from collections import Counter

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import types as T

    from koalas_spark.queries.analytics import _t
    from koalas_spark.sources.io import read_source

    micros = f"{SF_SMOKE}/events.parquet"
    nanos = str(tmp_path / "events.parquet")
    tbl = pq.read_table(micros)
    i = tbl.schema.get_field_index("ts")
    pq.write_table(tbl.set_column(i, "ts", tbl.column(i).cast(pa.timestamp("ns"))), nanos)
    assert read_source(spark, nanos, "events").schema["ts"].dataType == T.LongType()

    def rows(df):
        return Counter(tuple(r) for r in df.collect())

    assert _t(spark, str(tmp_path), "events").schema == _t(spark, SF_SMOKE, "events").schema
    assert rows(_t(spark, str(tmp_path), "events")) == rows(_t(spark, SF_SMOKE, "events"))
    for op in (stream_sessionize, windows.stream_left_outer_interval_join):
        assert rows(op(spark, nanos)) == rows(op(spark, micros)), op.__name__


def test_one_stream_driver():
    """The streaming shelf drives every operator through one run helper,
    one lake writer and one stager: each of these appears once in its
    source."""
    src = "".join(
        p.read_text() for p in sorted(Path(windows.__file__).parent.glob("*.py"))
    )
    for needle in (
        'format("memory")',
        'conf.get("spark.sql.shuffle.partitions")',
        "foreachBatch(",
        "os.replace(",
    ):
        assert src.count(needle) == 1, needle
    assert "with_stage_dir" not in src
    # the stager moves every part file in; nothing funnels a phase
    # through one task
    assert "coalesce(1)" not in src
