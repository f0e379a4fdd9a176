"""Structured Streaming operators (SURVEY.md §2.7).

Streams are first-class: readStream → event-time window aggregation
with a watermark → sink. Locally we drive the stream from the parquet
file source and a memory sink with processAllAvailable() so a batch of
rows flows through the *streaming* engine synchronously; in production
the same query runs off Kafka with the identical plan.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _staged_events_stream(
    spark: SparkSession,
    events_path: str,
    prefix: str,
    with_stage_dir: bool = False,
    normalize: bool = True,
):
    """readStream over a single (read-only) parquet file: the file
    streaming source monitors a directory, so the input is staged
    behind a symlink dir. Normalizes nanos/NTZ ts flavors to
    TIMESTAMP_LTZ (withWatermark rejects TIMESTAMP_NTZ) via the shared
    read-path cast, so oracles agree. The stage is a session artifact
    (koalas_spark.memo)."""
    import glob

    from koalas_spark.memo import staged
    from koalas_spark.sources.io import normalize_event_time

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = spark.read.parquet(events_path).schema

    def link_parts(stage: str) -> None:
        # the file source lists plain files in the monitored dir — it
        # does NOT recurse into a symlinked Spark output DIRECTORY (sf1
        # scaled tables are directories of part files; this silently
        # streamed 0 rows before the sf1 sweep caught it) — so link
        # part files flat
        if os.path.isdir(events_path):
            parts = sorted(glob.glob(os.path.join(events_path, "*.parquet")))
        else:
            parts = [events_path]
        os.makedirs(stage)
        for i, p in enumerate(parts):
            os.symlink(p, os.path.join(stage, f"part_{i:05d}.parquet"))

    stage = staged(
        spark, f"stream_{prefix}", (events_path,), link_parts, "part_00000.parquet"
    )
    src = spark.readStream.schema(schema).parquet(stage)
    # normalize=False for sources without an event-time column
    # (e.g. the documents table)
    out = normalize_event_time(src) if normalize else src
    # with_stage_dir: callers that inject watermark-advance sentinel
    # files mid-run (stream_sessionize) need the monitored dir
    return (out, stage) if with_stage_dir else out


def stream_tumbling_counts(
    spark: SparkSession,
    events_path: str,
    window: str = "1 hour",
    watermark: str = "1 hour",
) -> DataFrame:
    """Run a tumbling-window count/sum aggregation through the
    streaming engine over a bounded parquet source; returns the final
    result as a batch DataFrame.

    Uses update-free 'complete' mode into a memory sink (fine for the
    low-cardinality window×type state; production sinks use append +
    watermark eviction via foreachBatch)."""
    src = _staged_events_stream(spark, events_path, "tw")
    agg = (
        src.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        )
    )
    return _run_to_memory(
        spark,
        agg,
        lambda t: t.select(
            F.col("w.start").alias("window_start"), "event_type", "n", "sum_value"
        ),
    )


def stream_static_join_agg(
    spark: SparkSession, events_path: str, orders: DataFrame
) -> DataFrame:
    """Stream-static join: the event stream enriches against a static
    dimension (per-user order profile), then aggregates per event_type
    x spend band. The static side is re-read per micro-batch by the
    engine; it is left UNHINTED because the profile is SF-linear
    (one row per customer) — under the broadcast threshold Spark still
    broadcasts it and the stream side never shuffles, while at cluster
    scale the planner degrades to a per-batch shuffle join instead of
    OOMing on a forced hint.
    """
    src = _staged_events_stream(spark, events_path, "sj")
    profile = orders.groupBy(F.col("o_custkey").alias("user_id")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,6)")).alias("_spend")
    ).select("user_id", F.when(F.col("_spend") > 1_000_000, "big").otherwise("small").alias("band"))
    joined = src.join(profile, "user_id", "left").fillna(
        {"band": "none"}
    )
    agg = joined.groupBy("event_type", "band").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
    )
    return _run_to_memory(spark, agg, lambda t: t, output_mode="complete")


def stream_dedup_events(
    spark: SparkSession, events_path: str, watermark: str = "1 hour"
) -> DataFrame:
    """Streaming ingest dedup: drop replayed events by event_id while
    bounding state with a watermark (dropDuplicatesWithinWatermark
    evicts ids older than the watermark — at-least-once sources replay
    recent data, so recent ids are all that must be remembered). The
    batch twin is a plain distinct-on-id aggregation."""
    src = _staged_events_stream(spark, events_path, "dd")
    # duplicate the stream against itself (union = replayed delivery)
    deduped = (
        src.select("event_id", "ts", "event_type", "value")
        .withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(["event_id"])
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        )
    )
    return _run_to_memory(spark, deduped, lambda t: t, output_mode="complete")


def stream_stream_interval_join(
    spark: SparkSession,
    events_path: str,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Stream-stream INNER interval join: click events matched to the
    same user's purchase events within ``gap`` after the click.

    Both sides carry a watermark and the join condition bounds event
    time on both sides, so the state store provably evicts rows older
    than watermark+gap — the requirement for an unbounded run. Inner
    matches emit as soon as both rows arrive (append mode); the
    watermark governs state cleanup, not emission, so a bounded source
    yields the complete batch-equal result. The memory-sink result is
    then batch-aggregated per user for a stable comparison."""
    src = _staged_events_stream(spark, events_path, "ssj")
    clicks = (
        src.filter(F.col("event_type") == "click")
        .select(F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts"))
        .withWatermark("c_ts", watermark)
    )
    purchases = (
        src.filter(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts"))
        .withWatermark("p_ts", watermark)
    )
    joined = clicks.join(
        purchases,
        F.expr(f"c_user = p_user AND p_ts >= c_ts AND p_ts <= c_ts + INTERVAL {gap}"),
    )
    return _run_to_memory(
        spark,
        joined,
        lambda t: t.groupBy(F.col("c_user").alias("user_id")).agg(
            F.count(F.lit(1)).alias("n_pairs")
        ),
        output_mode="append",
    )


def _run_to_memory(spark, agg, project, output_mode: str = "complete") -> DataFrame:
    qname = f"stream_out_{uuid.uuid4().hex[:8]}"
    # STREAMING state partitions are sized to state volume, not core
    # count: every micro-batch loads/commits one state store PER
    # partition PER stateful operator, so 32 shuffle partitions cost
    # 32 store round-trips per batch regardless of data (measured:
    # stream-stream join 11-16s at 32 partitions, ~4.5s at 8 on the
    # same input). The partition count is baked into the checkpoint at
    # first start, which is why it's scoped HERE and not a session
    # default — batch queries still want core-count partitions.
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        q = (
            agg.writeStream.outputMode(output_mode)
            .format("memory")
            .queryName(qname)
            .start()
        )
        try:
            q.processAllAvailable()
            result = project(spark.table(qname)).persist()
            # materialize the cache before stopping the query (the
            # memory sink's rows are tied to it) — keeps the result
            # executor-side instead of round-tripping it through a
            # driver collect()+createDataFrame
            result.count()
        finally:
            q.stop()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    return result

def stream_session_counts(
    spark: SparkSession,
    events_path: str,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Per-user session aggregation through the STREAMING engine using
    the native session_window operator — the same groupBy as the batch
    query (session_window_native) runs unchanged here, which is the
    point: one definition of "session" for backfill and ingest. State
    is per open session and watermark-evicted; complete mode into a
    memory sink locally (bounded source), append + watermark in
    production sinks."""
    src = _staged_events_stream(spark, events_path, "sw")
    agg = (
        src.withWatermark("ts", watermark)
        .groupBy(F.col("user_id"), F.session_window("ts", gap).alias("sw"))
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    return _run_to_memory(
        spark,
        agg,
        lambda t: t.select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
        ),
        output_mode="complete",
    )


def stream_windowed_distinct_users(
    spark: SparkSession,
    events_path: str,
    window: str = "1 hour",
    watermark: str = "1 hour",
) -> DataFrame:
    """Distinct users per tumbling window through the STREAMING
    engine: watermarked dropDuplicates on (window, user_id) holds one
    state row per pair and evicts whole windows as the watermark
    passes (the window column carries event-time, so state is
    bounded); first occurrences emit immediately in append mode, and
    the per-window counting happens batch-side on the sink table —
    the same emit-then-summarize shape as the interval join. Exact
    COUNT(DISTINCT) per window is not streamable as a single agg
    (distinct aggregations are unsupported on streams; approx_* is
    the streaming-native alternative), so dedup-state + downstream
    count IS the production pattern this query pins."""
    src = _staged_events_stream(spark, events_path, "du")
    pairs = (
        src.withWatermark("ts", watermark)
        .select(F.window("ts", window).alias("w"), F.col("user_id"))
        .dropDuplicates(["w", "user_id"])
    )
    return _run_to_memory(
        spark,
        pairs,
        lambda t: t.groupBy(F.col("w.start").alias("window_start")).agg(
            F.count(F.lit(1)).alias("n_users")
        ),
        output_mode="append",
    )


def stream_foreachbatch_parquet(
    spark: SparkSession, events_path: str, out_dir: str
) -> DataFrame:
    """Streaming → parquet lake via foreachBatch, the production sink
    shape: each micro-batch OVERWRITES its own batch_id=N directory,
    so a replayed batch (at-least-once delivery after recovery)
    rewrites the same path instead of duplicating rows — idempotent
    writes on top of checkpointed offsets is how exactly-once parquet
    sinks are actually built. Returns the re-read lake aggregated per
    event_type, which must equal the batch aggregation of the source
    (the oracle)."""
    import shutil

    src = _staged_events_stream(spark, events_path, "fb")

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.write.mode("overwrite").parquet(
                os.path.join(out_dir, f"batch_id={batch_id}")
            )
        )

    done = os.path.join(out_dir, "_DONE")
    if not os.path.exists(done):
        shutil.rmtree(out_dir, ignore_errors=True)
        # inside the lake, which the re-read skips ("_" prefix)
        ckpt = os.path.join(out_dir, "_ckpt")
        q = (
            src.writeStream.foreachBatch(write_batch)
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        with open(done, "w") as fh:
            fh.write("ok\n")
    lake = spark.read.parquet(out_dir)
    return lake.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
    )


def stream_sliding_counts(
    spark: SparkSession,
    events_path: str,
    window: str = "1 hour",
    slide: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Sliding-window aggregation through the streaming engine: each
    event lands in window/slide overlapping windows (2 here), assigned
    by the engine at ingest — the state store carries one row per
    (window, type), evicted once the watermark passes window end.
    Same complete-mode memory-sink drive as stream_tumbling_counts;
    the batch sliding query (#57) supplies the shared oracle."""
    src = _staged_events_stream(spark, events_path, "sl")
    agg = (
        src.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide).alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        )
    )
    return _run_to_memory(
        spark,
        agg,
        lambda t: t.select(
            F.col("w.start").alias("window_start"), "event_type", "n", "sum_value"
        ),
    )


def stream_rate_alert_windows(
    spark: SparkSession,
    events_path: str,
    window: str = "1 hour",
    watermark: str = "1 hour",
) -> DataFrame:
    """Traffic-spike alerting: tumbling per-window event counts run
    through the streaming engine; the alert decision (window count
    exceeds 2x the mean window count) happens in the batch post-stage
    over the final window table — exactly the foreachBatch shape a
    production alerter uses (the stream maintains the cheap per-window
    state, the sink-side batch sees the whole gauge table and applies
    the relative threshold). The comparison is exact DECIMAL(38,0)
    cross-multiplication (n * n_windows > 2 * total), no doubles."""
    src = _staged_events_stream(spark, events_path, "ra")
    agg = (
        src.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
    )

    def alert(t: DataFrame) -> DataFrame:
        tot = t.agg(
            F.sum("n").cast("bigint").alias("total"),
            F.count(F.lit(1)).cast("bigint").alias("n_windows"),
        )
        return (
            t.crossJoin(F.broadcast(tot))
            .filter(
                # n ~ corpus events in a spike window and total is
                # corpus-proportional, so the cross-multiplication
                # runs in DECIMAL(38,0) to stay exact past int64
                # headroom (1e13 events x 1e6 windows wraps bigint).
                F.col("n").cast("decimal(38,0)") * F.col("n_windows")
                > 2 * F.col("total").cast("decimal(38,0)")
            )
            .select(
                F.col("w.start").alias("window_start"),
                F.col("n").cast("bigint").alias("n"),
            )
        )

    return _run_to_memory(spark, agg, alert)


def stream_first_touch_counts(
    spark: SparkSession, events_path: str, watermark: str = "1 hour"
) -> DataFrame:
    """Stateful first-touch attribution as a stream: one min-struct
    state row per user (the smallest (ts, event_id) event wins —
    deterministic under any replay order), aggregated after the
    bounded replay into per-first-event-type user counts. State is
    |users|-bounded and watermark-independent (min is monotone), the
    streaming twin of batch #103's first-touch logic."""
    src = _staged_events_stream(spark, events_path, "ft")
    agg = (
        src.withWatermark("ts", watermark)
        .groupBy("user_id")
        .agg(
            F.min(
                F.struct(
                    F.col("ts").cast("long").alias("sec"),
                    F.col("event_id").alias("event_id"),
                    F.col("event_type").alias("event_type"),
                )
            ).alias("first")
        )
    )
    return _run_to_memory(
        spark,
        agg,
        lambda t: t.groupBy(
            F.col("first.event_type").alias("first_type")
        ).agg(
            F.count(F.lit(1)).cast("bigint").alias("n_users"),
            F.min("first.sec").cast("bigint").alias("earliest_sec"),
        ),
    )


def stream_append_closed_windows(
    spark: SparkSession,
    events_path: str,
    window: str = "1 hour",
    watermark: str = "1 hour",
) -> DataFrame:
    """APPEND-mode tumbling aggregation — the emit-on-close semantic
    the other streaming ops don't exercise: a window row is emitted
    exactly once, when the watermark passes its end, and the trailing
    window(s) the watermark never passes are WITHHELD (they would
    emit on the next day's data in production). With a bounded
    source, the final watermark is max(event time in ms) − delay, so
    the emitted set is exactly the windows with end ≤ that — which is
    what the batch oracle replays. Spark runs the no-data flush batch
    after the last data batch, so processAllAvailable sees the final
    eviction."""
    src = _staged_events_stream(spark, events_path, "ac")
    agg = (
        src.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("sum_value"),
        )
    )
    return _run_to_memory(
        spark,
        agg,
        lambda t: t.select(
            F.col("w.start").alias("window_start"),
            "event_type",
            F.col("n").cast("bigint").alias("n"),
            "sum_value",
        ),
        output_mode="append",
    )


def stream_incremental_neardup(
    spark: SparkSession,
    docs_path: str,
    catalog_split: int = 250,
    bands: int = 16,
    rows: int = 4,
    min_agree: int = 32,
) -> DataFrame:
    """Streaming incremental near-dedup against a STATIC minhash
    catalog — the streaming twin of batch #209: new documents arrive
    as a stream, compute their signatures in-flight (the vectorized
    Arrow minhash kernel runs unchanged on streaming frames), probe
    the catalog's band buckets via a stream-static join, and verify by
    signature slot agreement. No DISTINCT on candidates is needed:
    a pair surfacing through several bands collapses in the final
    per-doc max aggregate, which also keeps the query single-stateful
    (one agg) — the shape streaming engines optimize for. Complete
    output mode keyed by new doc id: state is one row per matched doc
    (production would age it out with a watermark on arrival time).
    The catalog sides are static frames recomputed per micro-batch and
    broadcast under AQE when small, exactly like the other
    stream-static joins here."""
    from koalas_spark.operators.dedup import minhash_sigs, shingle_sets

    num_perm = bands * rows

    # static catalog: signatures + band keys for doc_id < split
    static_docs = spark.read.parquet(docs_path).filter(
        F.col("doc_id") < catalog_split
    )
    cat_sigs = minhash_sigs(
        shingle_sets(static_docs, "doc_id", "text"), num_perm=num_perm
    ).localCheckpoint(eager=False)

    def band_keys(df, out, carry_sig=None):
        # carry_sig: keep the signature ON the exploded rows — the
        # stream side must not join back onto itself (stream-stream
        # joins are illegal under complete mode; carrying the column
        # avoids the join entirely and a shuffle besides)
        cols = [F.col("id").alias(out)] + (
            [F.col("sig").alias(carry_sig)] if carry_sig else []
        )
        proj = [out, "bk.p", "bk.key"] + ([carry_sig] if carry_sig else [])
        return df.select(
            *cols,
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(p).alias("p"),
                            F.array(
                                *[F.col("sig")[p * rows + r] for r in range(rows)]
                            ).alias("key"),
                        )
                        for p in range(bands)
                    ]
                )
            ).alias("bk"),
        ).select(*proj)

    cat_bands = band_keys(cat_sigs, "old_id")
    cat_full = cat_sigs.select(F.col("id").alias("old_id"), F.col("sig").alias("_cs"))

    src = _staged_events_stream(spark, docs_path, "incnd", normalize=False)
    batch_docs = src.filter(F.col("doc_id") >= catalog_split)
    bat_sigs = minhash_sigs(
        shingle_sets(batch_docs, "doc_id", "text"), num_perm=num_perm
    )
    bat_bands = band_keys(bat_sigs, "new_id", carry_sig="_bs")

    agree = F.size(
        F.filter(
            F.zip_with(F.col("_bs"), F.col("_cs"), lambda a, b: a == b), lambda x: x
        )
    ).cast("long")
    cand = (
        bat_bands.join(cat_bands, ["p", "key"])
        .join(cat_full, "old_id")
        .select("new_id", "old_id", agree.alias("n_agree"))
        .filter(F.col("n_agree") >= min_agree)
    )
    # best catalog match per new doc: max n_agree, ties to the LOWEST
    # old_id — encoded as max(struct(n_agree, -old_id)) so duplicate
    # candidates from multiple bands collapse for free
    best = cand.groupBy("new_id").agg(
        F.max(F.struct(F.col("n_agree"), (-F.col("old_id")).alias("_no"))).alias("_b")
    )
    return _run_to_memory(
        spark,
        best,
        lambda t: t.select(
            "new_id",
            (-F.col("_b._no")).alias("old_id"),
            F.col("_b.n_agree").alias("n_agree"),
        ),
        output_mode="complete",
    )


def stream_left_outer_interval_join(
    spark: SparkSession,
    events_path: str,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Stream-stream LEFT OUTER interval join — the attribution shape
    where UNMATCHED clicks must also emit (with null purchase side)
    once the watermark proves no purchase can still arrive.

    Outer emission is watermark-driven: an unmatched click row leaves
    state and emits nulls only when the operator watermark passes
    c_ts + gap, and eviction runs against the PREVIOUS batch's
    watermark — so a bounded replay needs the sessionizer's tail
    device (streaming/stateful.stream_sessionize): after the source
    drains, stage far-future sentinel rows (user -1, one per join
    side so BOTH sides' watermark columns advance — the operator
    watermark is their min) and kick two extra micro-batches. The
    stage dir is per-run for the same reason as the sessionizer's
    (sentinels must not lead a later run's batch 1).

    Returns the per-user rollup: clicks, matched pairs, expired
    (unmatched) clicks — batch-equal, so a plain SQL left join is the
    oracle."""
    import glob
    import shutil
    import uuid as _uuid

    run = _uuid.uuid4().hex[:8]
    src, stage = _staged_events_stream(
        spark, events_path, f"loj_{run}", with_stage_dir=True
    )
    clicks = (
        src.filter(F.col("event_type") == "click")
        .select(F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts"))
        .withWatermark("c_ts", watermark)
    )
    purchases = (
        src.filter(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts"))
        .withWatermark("p_ts", watermark)
    )
    joined = clicks.join(
        purchases,
        F.expr(
            f"c_user = p_user AND p_ts >= c_ts AND p_ts <= c_ts + INTERVAL {gap}"
        ),
        "leftOuter",
    )

    batch_src = spark.read.parquet(events_path)
    ts_dtype = dict(batch_src.dtypes)["ts"]

    def _stage_sentinels(n: int, hours_ahead: int) -> None:
        mx = batch_src.agg(F.max("ts")).first()[0]
        if mx is None:
            return
        if ts_dtype == "bigint":
            new_ts = F.lit(int(mx) + hours_ahead * 3600 * 1_000_000_000)
        else:
            new_ts = (
                F.lit(mx).cast(ts_dtype)
                + F.expr(f"INTERVAL {hours_ahead * 3600} SECONDS")
            ).cast(ts_dtype)
        one = (
            batch_src.limit(1)
            .withColumn("user_id", F.lit(-1).cast("long"))
            .withColumn("ts", new_ts)
        )
        # one sentinel per join side: each side's watermark column only
        # sees rows surviving that side's event_type filter
        both = one.withColumn(
            "event_type", F.explode(F.array(F.lit("click"), F.lit("purchase")))
        )
        tmp = os.path.join(stage, f"_sentinel_build_{n}")
        both.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
        os.replace(part, os.path.join(stage, f"zz_sentinel_{n}.parquet"))
        shutil.rmtree(tmp, ignore_errors=True)

    qname = f"loj_{run}"
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        q = (
            joined.writeStream.outputMode("append")
            .format("memory")
            .queryName(qname)
            .start()
        )
        try:
            q.processAllAvailable()
            _stage_sentinels(1, hours_ahead=3)
            q.processAllAvailable()
            _stage_sentinels(2, hours_ahead=10)
            q.processAllAvailable()
            result = (
                spark.table(qname)
                .filter(F.col("c_user") != -1)
                .groupBy(F.col("c_user").alias("user_id"))
                .agg(
                    F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                    F.count("p_ts").cast("bigint").alias("n_matched"),
                    F.sum(
                        F.when(F.col("p_ts").isNull(), 1).otherwise(0)
                    )
                    .cast("bigint")
                    .alias("n_expired"),
                )
                .persist()
            )
            result.count()
        finally:
            q.stop()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
        shutil.rmtree(stage, ignore_errors=True)
    return result


def stream_chained_window_agg(
    spark: SparkSession,
    events_path: str,
    watermark: str = "1 hour",
) -> DataFrame:
    """TWO stateful operators chained in one streaming query (Spark 4
    lifted the single-stateful-operator restriction): 15-minute
    tumbling counts per event type, re-windowed into hourly rows
    carrying the PEAK and TOTAL of their four quarter-hour cells —
    the ops/alerting shape (peak-to-mean per hour) that previously
    forced two queries glued by a sink. Both levels share the source
    watermark; in append mode an hourly row emits once the watermark
    passes its end, so the bounded replay emits exactly the hours
    with end <= max(event ms) - delay (the batch-replayable set — the
    oracle). F.window over the LEVEL-1 window column is the chained
    form."""
    src = _staged_events_stream(spark, events_path, "chain")
    lvl1 = (
        src.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "15 minutes").alias("w1"), "event_type")
        .agg(F.count(F.lit(1)).alias("n15"))
    )
    lvl2 = (
        lvl1.groupBy(F.window(F.col("w1"), "1 hour").alias("w2"), "event_type")
        .agg(
            F.max("n15").alias("peak15"),
            F.sum("n15").alias("total"),
            F.count(F.lit(1)).alias("n_cells"),
        )
    )
    return _run_to_memory(
        spark,
        lvl2,
        lambda t: t.select(
            F.col("w2.start").alias("window_start"),
            "event_type",
            F.col("peak15").cast("bigint").alias("peak15"),
            F.col("total").cast("bigint").alias("total"),
            F.col("n_cells").cast("bigint").alias("n_cells"),
        ),
        output_mode="append",
    )


def stream_checkpoint_restart(spark: SparkSession, events_path: str) -> DataFrame:
    """Checkpointed RESTART recovery — the exactly-once claim actually
    exercised: phase 1 streams HALF the source (even event_ids) into a
    foreachBatch parquet lake under a checkpoint, then the query
    STOPS; phase 2 stages the other half and starts a NEW query on the
    SAME checkpoint — the file source's committed offsets make the
    restarted query process only the unseen file, and the
    idempotent-by-batch_id sink absorbs any replay. The re-read lake
    must equal ONE batch pass over the full source (the oracle): rows
    lost on restart or duplicated on replay both break the equality.
    Stage, checkpoint and lake live under one staged path
    (koalas_spark.memo), so the replay runs once per session."""
    import glob
    import shutil

    from koalas_spark.memo import staged
    from koalas_spark.sources.io import normalize_event_time

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = spark.read.parquet(events_path).schema

    def replay(out: str) -> None:
        stage, ckpt, lake = (os.path.join(out, d) for d in ("stage", "ckpt", "lake"))

        def start_query():
            src = normalize_event_time(
                spark.readStream.schema(schema).parquet(stage)
            )

            def write_batch(batch_df: DataFrame, batch_id: int) -> None:
                batch_df.write.mode("overwrite").parquet(
                    os.path.join(lake, f"batch_id={batch_id}")
                )

            return (
                src.writeStream.foreachBatch(write_batch)
                .option("checkpointLocation", ckpt)
                .start()
            )

        os.makedirs(stage)
        full = spark.read.parquet(events_path)
        # deterministic halves; each written as one file, staged in turn
        for n, half in (
            (1, full.filter(F.col("event_id") % 2 == 0)),
            (2, full.filter(F.col("event_id") % 2 != 0)),
        ):
            tmp = os.path.join(out, f"build_{n}")
            half.coalesce(1).write.mode("overwrite").parquet(tmp)
            part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
            os.replace(part, os.path.join(stage, f"half_{n}.parquet"))
            shutil.rmtree(tmp, ignore_errors=True)
            q = start_query()  # phase 1: fresh; phase 2: RESTART
            try:
                q.processAllAvailable()
            finally:
                q.stop()
        with open(os.path.join(lake, "_DONE"), "w") as fh:
            fh.write("ok\n")

    out = staged(spark, "ckpt_restart", (events_path,), replay, "lake/_DONE")
    lake = spark.read.parquet(os.path.join(out, "lake"))
    return lake.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("value").cast("decimal(18,6)"))
        .cast("double")
        .alias("sum_value"),
    )
