"""Event-time windowing + sessionization — batch and Structured Streaming.

The reference is single-shot batch (its README lists Kafka as future work —
README.md:102-104); the engine provides the streaming-shaped operators in a
form that runs identically over a static DataFrame and a ``readStream``
source, which is exactly how Structured Streaming is meant to be used: the
same logical plan, incrementalized by the engine.

Scale notes: tumbling windows aggregate with partial+final combine keyed on
(window, key) — state per active window only; watermarks bound state for
late data.  Sessionization in batch is the classic gaps-and-islands window
plan (two passes over a user-partitioned shuffle); in streaming the same
semantics come from ``session_window`` aggregation.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window
from pyspark.sql.streaming import DataStreamWriter

SESSION_GAP_SECONDS = 1800


def tumbling_counts(
    events: DataFrame,
    window_len: str = "1 hour",
    ts_col: str = "ts",
    watermark: str | None = None,
) -> DataFrame:
    """Per-(window, event_type) count + value sum.  Works unchanged on a
    streaming DataFrame; pass ``watermark`` there so state is bounded and
    late rows beyond it are dropped."""
    if watermark is not None and events.isStreaming:
        events = events.withWatermark(ts_col, watermark)
    return (
        events.groupBy(F.window(ts_col, window_len).alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        )
        .select(
            F.date_format("win.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def hopping_counts(
    events: DataFrame,
    window_len: str = "1 hour",
    slide: str = "30 minutes",
    ts_col: str = "ts",
    watermark: str | None = None,
) -> DataFrame:
    """Hopping (sliding) windows: like :func:`tumbling_counts` but each
    event lands in window_len/slide overlapping windows — `F.window(ts,
    len, slide)` expands map-side (an Expand of len/slide rows per event),
    then the same partial+final combine keyed on (window, event_type).
    Works unchanged on a streaming DataFrame; state per ACTIVE window, so
    the multiplier costs len/slide× state, which the watermark still
    bounds."""
    if watermark is not None and events.isStreaming:
        events = events.withWatermark(ts_col, watermark)
    return (
        events.groupBy(F.window(ts_col, window_len, slide).alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        )
        .select(
            F.date_format("win.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def sessionize(
    events: DataFrame,
    gap_seconds: int = SESSION_GAP_SECONDS,
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """Batch sessionization (gaps-and-islands): a new session starts when the
    gap to the previous event of the same user exceeds ``gap_seconds``;
    session_seq is the running count of session starts.  Deterministic via
    (ts, event_id) ordering.  Streaming equivalent: ``F.session_window``."""
    w = Window.partitionBy(user_col).orderBy(ts_col, id_col)
    gap = F.unix_micros(F.col(ts_col)) - F.unix_micros(F.lag(ts_col).over(w))
    is_start = F.when(gap.isNull() | (gap > gap_seconds * 1_000_000), 1).otherwise(0)
    return events.select(
        id_col,
        user_col,
        ts_col,
        is_start.alias("__s"),
    ).select(
        id_col,
        user_col,
        F.sum("__s")
        .over(Window.partitionBy(user_col).orderBy(ts_col, id_col).rowsBetween(Window.unboundedPreceding, 0))
        .alias("session_seq"),
    )


def session_stats(
    events: DataFrame, gap_seconds: int = SESSION_GAP_SECONDS
) -> DataFrame:
    """Per-session row counts and duration (seconds) on top of
    :func:`sessionize` — the batch mirror of a session_window aggregation."""
    s = sessionize(events, gap_seconds)
    joined = events.join(s, ["event_id", "user_id"])
    return joined.groupBy("user_id", "session_seq").agg(
        F.count(F.lit(1)).alias("n_events"),
        ((F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts"))) / F.lit(1_000_000.0)).alias(
            "duration_s"
        ),
    )


def stream_tumbling_counts(
    spark,
    source_dir: str,
    schema,
    window_len: str = "1 hour",
    watermark: str = "2 hours",
):
    """readStream(file source) → watermark → tumbling agg: the actual
    Structured Streaming wiring, exercised with Trigger.availableNow in
    tests.  Returns the streaming DataFrame (caller attaches the sink)."""
    stream = spark.readStream.schema(schema).parquet(source_dir)
    return tumbling_counts(stream, window_len, watermark=watermark)


def write_stream_to_memory(sdf: DataFrame, name: str) -> DataStreamWriter:
    """availableNow memory sink — drains everything currently in the source
    then stops; the batch-equivalence test harness."""
    return (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
    )


def dedup_within_watermark(
    events: DataFrame,
    key_cols: list[str],
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact dedup: keep the first arrival per key, with state
    bounded by the watermark horizon (``dropDuplicatesWithinWatermark``) —
    the streaming form of batch exact dedup on ``key_cols``.  Duplicates arriving within
    ``watermark`` of each other collapse to one row; state for keys older
    than the horizon is evicted, which is what makes exactly-once dedup
    sustainable on an unbounded stream (an unbounded ``dropDuplicates``
    state grows forever).  On a static DataFrame the same call degrades to
    plain ``dropDuplicates`` so batch and streaming share one code path."""
    if events.isStreaming:
        return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(key_cols)
    return events.dropDuplicates(key_cols)


def ohlc_windowed(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    val_col: str,
    unique_col: str,
    window_len: str = "1 hour",
    watermark: str | None = None,
) -> DataFrame:
    """OHLC bars as a watermarked tumbling-window aggregate — works on a
    STREAM (set ``watermark``) or a batch frame (leave it None), and on
    ordered replay equals :func:`operators.timeseries.ohlc_bars` exactly
    (pinned in tests): the open/close picks are the same struct-min/max
    over (ts_us, unique, value) — an ordinary min/max aggregate, so
    Structured Streaming maintains them incrementally in state with no
    custom stateful kernel; the total accumulates in DECIMAL(18,6).

    Output matches the batch operator's schema: (key, win_start
    [bigint micros], open, high, low, close, n_events, total_value)."""
    src = df.withWatermark(ts_col, watermark) if watermark else df
    us = F.unix_micros(F.col(ts_col))
    tagged = src.select(
        F.col(key_col).alias("key"),
        F.col(ts_col).alias("__ts"),
        F.struct(
            us.alias("us"), F.col(unique_col).alias("uid"), F.col(val_col).alias("v")
        ).alias("__t"),
        F.col(val_col).alias("v"),
        F.col(val_col).cast("decimal(18,6)").alias("vd"),
    )
    return (
        tagged.groupBy(F.window("__ts", window_len).alias("win"), "key")
        .agg(
            F.min("__t").alias("__first"),
            F.max("__t").alias("__last"),
            F.max("v").alias("high"),
            F.min("v").alias("low"),
            F.count(F.lit(1)).alias("n_events"),
            F.sum("vd").alias("__total"),
        )
        .select(
            F.col("key").alias(key_col),
            F.unix_micros(F.col("win.start")).alias("win_start"),
            F.col("__first.v").alias("open"),
            "high",
            "low",
            F.col("__last.v").alias("close"),
            "n_events",
            F.col("__total").cast("double").alias("total_value"),
        )
    )
