"""Event-time window aggregations (SURVEY.md §2.11; reference is pure batch
— FullETLGenerator.java has a single ``main`` and two finite file passes —
so this whole surface is north-star).

The same ``window()`` / ``session_window()`` expressions work identically
on a batch DataFrame and a streaming one; batch versions are what the
DuckDB oracle can check, the streaming wrapper adds watermarking.
Window starts are returned as epoch seconds (bigint) — timezone-proof for
cross-engine comparison.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from ..functions.rounding import dsum
from .source import event_stream, run_finite_stream


def tumbling_agg(
    events: DataFrame, duration: str = "5 minutes", ts_col: str = "ts"
) -> DataFrame:
    """count + sum(value) per (tumbling window, event_type).  Single shuffle
    on (window, type); partial aggregation map-side."""
    return (
        events.groupBy(F.window(ts_col, duration), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum(F.col("value")).alias("sum_value"),
        )
        .select(
            F.unix_timestamp("window.start").alias("win_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def sliding_agg(
    events: DataFrame,
    duration: str = "10 minutes",
    slide: str = "5 minutes",
    ts_col: str = "ts",
) -> DataFrame:
    """Sliding windows: each event lands in duration/slide windows."""
    return (
        events.groupBy(F.window(ts_col, duration, slide))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum(F.col("value")).alias("sum_value"),
        )
        .select(
            F.unix_timestamp("window.start").alias("win_start"),
            "n_events",
            "sum_value",
        )
    )


def session_agg(
    events: DataFrame, gap: str = "5 minutes", ts_col: str = "ts"
) -> DataFrame:
    """Per-user session windows (gap-based).  ``session_window`` merges
    rows whose gaps are < ``gap`` — stateful in streaming, a merge-agg in
    batch."""
    return (
        events.groupBy(F.session_window(ts_col, gap), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum(F.col("value")).alias("sum_value"),
        )
        .select(
            "user_id",
            F.unix_timestamp("session_window.start").alias("sess_start"),
            "n_events",
            "sum_value",
        )
    )


def streaming_tumbling_with_watermark(
    spark,
    events_path: str,
    duration: str = "5 minutes",
    watermark: str = "10 minutes",
    query_name: str = "q_stream_watermark",
) -> DataFrame:
    """Structured Streaming variant: file source -> watermark -> tumbling
    agg -> memory sink, run to completion with availableNow (finite
    backfill).  Returns the materialized batch result.

    On a real cluster this is the continuous pipeline: watermark bounds
    state (late events beyond it are dropped), availableNow becomes a
    real trigger, and the memory sink becomes kafka/delta.
    """
    stream = (
        event_stream(spark, events_path)
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", duration), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum(F.col("value")).alias("sum_value"),
        )
        .select(
            F.unix_timestamp("window.start").alias("win_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )
    return run_finite_stream(stream, query_name, "complete")


def streaming_windowed_topk(
    spark,
    events_path: str,
    k: int = 3,
    duration: str = "5 minutes",
    watermark: str = "10 minutes",
    query_name: str = "q_stream_topk",
) -> DataFrame:
    """Per-window top-k event types, the live-dashboard shape: the
    STREAM maintains the (window, event_type) count state under a
    watermark (complete mode — ranking is not a streaming-supported
    operator, and it should not be: a rank can demote rows
    retroactively, so the serving split puts ranking at READ time over
    the maintained aggregate, which is how every streaming dashboard
    does it).  The read side ranks the materialized state per window
    with a deterministic (count desc, type asc) order.  Same
    availableNow/memory-sink harness as the tumbling variant; on a real
    cluster the memory sink is a keep-latest store and the rank runs in
    the serving query."""
    from pyspark.sql import Window

    stream = (
        event_stream(spark, events_path)
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", duration), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.unix_timestamp("window.start").alias("win_start"),
            "event_type",
            "n_events",
        )
    )
    state = run_finite_stream(stream, query_name, "complete")
    w = Window.partitionBy("win_start").orderBy(
        F.desc("n_events"), F.asc("event_type")
    )
    return (
        state.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "win_start",
            "event_type",
            "n_events",
            F.col("rank").cast("int").alias("rank"),
        )
    )


def streaming_session_with_watermark(
    spark,
    events_path: str,
    gap: str = "5 minutes",
    watermark: str = "10 minutes",
    query_name: str = "q_stream_session",
) -> DataFrame:
    """Structured Streaming session windows: watermark-bounded merge-agg
    state per (session, user) — sessions close when the watermark passes
    their gap, so state is bounded by active sessions, not history.
    Same availableNow/memory-sink harness as the tumbling variant."""
    stream = (
        event_stream(spark, events_path)
        .withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum(F.col("value")).alias("sum_value"),
        )
        .select(
            "user_id",
            F.unix_timestamp("session_window.start").alias("sess_start"),
            "n_events",
            "sum_value",
        )
    )
    return run_finite_stream(stream, query_name, "complete")
