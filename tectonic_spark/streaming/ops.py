"""Streaming operator recipes (SURVEY.md §2.B b11-b12 + custom stateful).

The reference has no streaming relational ops (its streaming is the byte
protocol); these are pure Spark Structured Streaming semantics, verified
against DuckDB on static data by the b11/b12 registry queries and against
their batch equivalents by the streaming tests.

All recipes take an *unbounded* DataFrame (from ``readStream``) and return
a transformed unbounded DataFrame — composition stays declarative so the
incremental planner (and at scale, RocksDB state stores + watermark-based
state eviction) does the heavy lifting.
"""

from __future__ import annotations

from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def stream_tumbling_counts(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Tumbling-window event counts with late-data handling: rows later
    than ``watermark`` behind the max seen ts are dropped, and window state
    older than the watermark is evicted (bounded state at any scale)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(27,6)")).cast("double").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("w_start"),
            F.col("w.end").alias("w_end"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def stream_dedup(
    events: DataFrame,
    keys: list[str],
    watermark: str = "2 hours",
    within_watermark: bool = True,
) -> DataFrame:
    """Streaming dedup. ``within_watermark=True`` uses
    dropDuplicatesWithinWatermark — state for a key is evictable once the
    watermark passes it (bounded state, the only safe form at 100 TB);
    False keeps keys forever (exact, unbounded state)."""
    with_wm = events.withWatermark("ts", watermark)
    if within_watermark:
        return with_wm.dropDuplicatesWithinWatermark(keys)
    return with_wm.dropDuplicates(keys)


# ------------------------------------------------------- custom stateful op

_SESSION_STATE_SCHEMA = "n BIGINT, first_ts TIMESTAMP, last_ts TIMESTAMP, sum_value DOUBLE"
_SESSION_OUT_SCHEMA = (
    "user_id BIGINT, n BIGINT, first_ts TIMESTAMP, last_ts TIMESTAMP, "
    "sum_value DOUBLE, closed_by STRING"
)


def _sessionize_fn(key: tuple, pdfs: Any, state: GroupState, timeout_ms: int = 30_000):
    """Per-user running session: accumulate count/span/sum; emit the session
    row when the processing-time timeout fires (no input for the user).

    The reference has no analog (SURVEY §7 hard-part iv) — this is the
    idiomatic applyInPandasWithState shape: state is a single tuple, input
    arrives as an iterator of pandas DataFrames, output is emitted either
    on timeout (session close) or never (still open).
    """
    (user_id,) = key
    if state.hasTimedOut:
        n, first_ts, last_ts, sum_value = state.get
        state.remove()
        yield pd.DataFrame(
            [
                {
                    "user_id": user_id,
                    "n": n,
                    "first_ts": first_ts,
                    "last_ts": last_ts,
                    "sum_value": sum_value,
                    "closed_by": "timeout",
                }
            ]
        )
        return
    n, first_ts, last_ts, sum_value = (
        state.get if state.exists else (0, None, None, 0.0)
    )
    for pdf in pdfs:
        if len(pdf) == 0:
            continue
        n += len(pdf)
        lo, hi = pdf["ts"].min(), pdf["ts"].max()
        first_ts = lo if first_ts is None else min(first_ts, lo)
        last_ts = hi if last_ts is None else max(last_ts, hi)
        sum_value += float(pdf["value"].fillna(0.0).sum())
    state.update((n, first_ts, last_ts, sum_value))
    state.setTimeoutDuration(timeout_ms)  # close session after silence
    yield pd.DataFrame(
        columns=["user_id", "n", "first_ts", "last_ts", "sum_value", "closed_by"]
    )


def sessionize_with_state(events: DataFrame, timeout_ms: int = 30_000) -> DataFrame:
    """Custom stateful operator: per-user sessions via
    ``applyInPandasWithState`` with processing-time timeouts. Scale notes:
    state is per-key and O(1) per user; shuffle is one hash exchange on
    user_id; the pandas batches arrive Arrow-vectorized."""
    import functools

    return (
        events.select("user_id", "ts", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            functools.partial(_sessionize_fn, timeout_ms=timeout_ms),
            outputStructType=_SESSION_OUT_SCHEMA,
            stateStructType=_SESSION_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
        )
    )
