"""Custom stateful streaming operator: per-user sessionization with
applyInPandasWithState (SURVEY.md §2.7).

Each user's state carries the open session (start, last ts, count);
an event past the gap closes the session and emits it. State is
bounded by an EVENT-TIME timeout: when the watermark passes
last_event + gap, the open session is flushed and the key's state
removed. Event-time (not processing-time) timeouts matter twice over:
they are deterministic under replay, and they let the query go idle
when the source is drained — a processing-time timeout keeps the
stream running empty "cleaning up state" micro-batches forever.
This is the canonical shape for "custom operator Spark lacks" on
streams — grouped state, Arrow-batched.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from koalas_spark.streaming.windows import (
    _SENTINEL_USER,
    _run_to_memory,
    _staged_events_stream,
    _tail_stream,
)

OUT_SCHEMA = "user_id bigint, session_start timestamp, session_end timestamp, n_events bigint"
STATE_SCHEMA = "start long, last long, n long"

GAP_SECONDS = 30 * 60


def _sessionize_group(
    key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    (user_id,) = key
    if state.hasTimedOut:
        start, last, n = state.get
        state.remove()
        yield pd.DataFrame(
            {
                "user_id": [user_id],
                "session_start": [pd.Timestamp(start, unit="us")],
                "session_end": [pd.Timestamp(last, unit="us")],
                "n_events": [n],
            }
        )
        return

    ts_list: list[int] = []
    for pdf in pdfs:
        ts_list.extend(int(t.value // 1000) for t in pd.to_datetime(pdf["ts"]))
    ts_list.sort()

    start, last, n = state.get if state.exists else (None, None, 0)
    done: list[tuple[int, int, int]] = []
    for t in ts_list:
        if start is None:
            start, last, n = t, t, 1
        elif t - last > GAP_SECONDS * 1_000_000:
            done.append((start, last, n))
            start, last, n = t, t, 1
        else:
            last, n = t, n + 1
    if start is not None:
        state.update((start, last, n))
        # flush the open session once the watermark passes last + gap
        state.setTimeoutTimestamp(last // 1000 + GAP_SECONDS * 1000)
    if done:
        yield pd.DataFrame(
            {
                "user_id": [user_id] * len(done),
                "session_start": [pd.Timestamp(s, unit="us") for s, _, _ in done],
                "session_end": [pd.Timestamp(e, unit="us") for _, e, _ in done],
                "n_events": [c for _, _, c in done],
            }
        )


def stream_sessionize(spark: SparkSession, events_path: str) -> DataFrame:
    """Drive the bounded events file through the stateful sessionizer
    and flush the tail (windows._run_to_memory), so the emitted rows
    are exactly the batch sessionization (value-checked by a shared
    SQL oracle since r7; previously the trailing open session per user
    stayed in state and the op was rows-only)."""
    src, tail = _tail_stream(spark, events_path)
    sessions = (
        src.select("user_id", "ts")
        .withWatermark("ts", f"{GAP_SECONDS} seconds")
        .groupBy("user_id")
        .applyInPandasWithState(
            _sessionize_group,
            outputStructType=OUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
    return _run_to_memory(
        spark,
        sessions,
        lambda t: t.filter(F.col("user_id") != _SENTINEL_USER),
        output_mode="append",
        tail=tail,
    )


LOCF_OUT_SCHEMA = "event_type string, was_masked boolean, v_filled double"
LOCF_STATE_SCHEMA = "last_ts long, last_v double"


def _locf_group(
    key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Carry each user's last observation across micro-batches: rows
    arrive (ts, event_id, event_type, v[, null]) — sort within the
    batch, fill nulls from the running last value, persist the final
    observation as the key's state. State is ONE (ts, value) pair per
    user — the classic streaming enrichment-state shape, bounded by
    key cardinality, not stream length."""
    rows = [pdf for pdf in pdfs]
    pdf = pd.concat(rows).sort_values(["ts", "event_id"])
    last_v = state.get[1] if state.exists else None
    filled = []
    for v in pdf["v"]:
        if pd.notna(v):
            last_v = float(v)
            filled.append(last_v)
        else:
            filled.append(last_v)  # None while no observation yet
    if last_v is not None:
        last_ts = int(pd.to_datetime(pdf["ts"].iloc[-1]).value // 1000)
        state.update((last_ts, last_v))
    yield pd.DataFrame(
        {
            "event_type": pdf["event_type"].to_numpy(),
            "was_masked": pd.isna(pdf["v"]).to_numpy(),
            "v_filled": pd.array(filled, dtype="Float64"),
        }
    )


def stream_locf(spark: SparkSession, events_path: str) -> DataFrame:
    """Streaming last-observation-carried-forward: the same planted
    (md5-coin) missingness as the batch locf_impute query, repaired by
    a custom stateful operator instead of a window — per-user state
    carries the last observation across micro-batches, rows fill
    in-batch in event order. With time-ordered ingestion (the bounded
    replay here arrives as one ordered batch) the result is EXACTLY
    the batch window's, so this stateful op shares the batch oracle —
    the strongest check a custom streaming operator can get. The
    emitted per-row frame aggregates batch-side into the audit."""
    src = _staged_events_stream(spark, events_path, "locf")
    coin = F.substring(F.md5(F.col("event_id").cast("string")), 1, 4)
    masked = src.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.when(coin < "2667", F.lit(None).cast("double"))
        .otherwise(F.col("value"))
        .alias("v"),
    )
    filled = masked.groupBy("user_id").applyInPandasWithState(
        _locf_group,
        outputStructType=LOCF_OUT_SCHEMA,
        stateStructType=LOCF_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return _run_to_memory(
        spark,
        filled,
        lambda rows: rows.groupBy("event_type").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum(F.when(F.col("was_masked"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_masked"),
            F.sum(
                F.when(
                    F.col("was_masked") & F.col("v_filled").isNotNull(), 1
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_filled"),
            F.sum(F.col("v_filled").cast("decimal(25,6)"))
            .cast("string")
            .cast("double")
            .alias("sum_filled"),
        ),
        output_mode="append",
    )
