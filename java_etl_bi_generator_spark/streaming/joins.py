"""Stream-stream join and stateful dedup (SURVEY.md §2.11 T4/T5 family).

Both use the Structured Streaming micro-batch engine with watermarks
bounding state retention:

- ``streaming_interval_join`` (inner), ``_outer`` (left outer) and
  ``_full`` (full outer): clicks x purchases per user within a time
  interval.  One builder, ``_click_purchase_join``, makes the two
  watermarked event streams and the interval join for any join type;
  the three public functions differ only in the join type and their
  projection.  State on both sides is purged once the watermark passes
  the join window (the canonical funnel/attribution join).
- ``streaming_dedup``: ``dropDuplicatesWithinWatermark`` keeps one row per
  id with state bounded by the watermark horizon (exactly-once-ish ingest
  hygiene for at-least-once sources).

Each runs to completion through ``source.run_finite_stream``
(availableNow + memory sink) on the finite testdata; on a real cluster
the same code runs continuously against kafka/delta.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from .source import event_stream as _event_stream
from .source import run_finite_stream


def _click_purchase_join(
    spark: SparkSession, events_path: str, interval: str, how: str
) -> DataFrame:
    """Clicks joined (``how``) to the same user's purchases landing within
    ``interval`` after the click; both streams carry a 1-hour watermark."""
    clicks = (
        _event_stream(spark, events_path)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 hour")
    )
    purchases = (
        _event_stream(spark, events_path)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("purchase_ts", "1 hour")
    )
    return clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("click_ts") + F.expr(f"interval {interval}")
        ),
        how,
    )


def streaming_interval_join(
    spark: SparkSession,
    events_path: str,
    interval: str = "30 minutes",
    query_name: str = "q_stream_join",
) -> DataFrame:
    """Purchases within ``interval`` after a click, per user."""
    joined = _click_purchase_join(
        spark, events_path, interval, "inner"
    ).select(
        "click_id",
        "purchase_id",
        "user_id",
        F.unix_timestamp("click_ts").alias("click_epoch"),
        F.unix_timestamp("purchase_ts").alias("purchase_epoch"),
        "purchase_value",
    )
    return run_finite_stream(joined, query_name, "append")


def streaming_dedup(
    spark: SparkSession,
    events_path: str,
    query_name: str = "q_stream_dedup",
) -> DataFrame:
    """State-bounded exact dedup on (user_id, event_type) within the
    watermark horizon — duplicates arriving later than the horizon are the
    at-least-once residue a downstream exact dedup would catch.

    The emitted projection is the SURVIVING KEY SET: which physical row
    wins inside ``dropDuplicatesWithinWatermark`` is arrival-order-
    dependent (not a defect — at-least-once semantics), so the
    deterministic contract of the operator is exactly the key set, and
    that is what gets hash-checked against ``SELECT DISTINCT``.  The
    stateful operator still runs over full rows."""
    stream = (
        _event_stream(spark, events_path)
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    return run_finite_stream(stream, query_name, "append")


def streaming_interval_join_outer(
    spark: SparkSession,
    events_path: str,
    interval: str = "30 minutes",
    query_name: str = "q_stream_join_outer",
) -> DataFrame:
    """LEFT OUTER watermarked stream-stream interval join — clicks with
    their purchase when one lands inside the interval, and NULL-padded
    rows for clicks the engine has PROVEN can no longer match (their
    join window fell behind the global watermark), the state-eviction
    semantics that make outer stream joins possible at all
    (SPARK-26154 family).  Deterministic output contract under
    availableNow on finite data: inner pairs are the batch interval
    join (one batch holds both sides fully), and a click is emitted
    null-padded iff

        click_ts + interval < min(max_click_ts, max_purchase_ts) − 1 h

    — the global watermark is the MIN of the two per-stream watermarks
    (each that stream's max event time, ms-truncated, minus the 1 h
    delay), so the trailing clicks near the stream end stay in state
    and are deliberately NOT emitted.  The DuckDB oracle reproduces
    exactly that rule in batch SQL, making the eviction semantics
    themselves the thing the hash-check verifies."""
    joined = _click_purchase_join(
        spark, events_path, interval, "left_outer"
    ).select(
        "click_id",
        "user_id",
        F.unix_timestamp("click_ts").alias("click_epoch"),
        "purchase_id",
        F.unix_timestamp("purchase_ts").alias("purchase_epoch"),
        "purchase_value",
    )
    return run_finite_stream(joined, query_name, "append")


def streaming_interval_join_full(
    spark: SparkSession,
    events_path: str,
    interval: str = "30 minutes",
    query_name: str = "q_stream_join_full",
) -> DataFrame:
    """FULL OUTER watermarked stream-stream interval join — the
    left-outer contract (streaming_interval_join_outer) extended to the
    purchase side: organic purchases with no preceding click in the
    interval are ALSO emitted null-padded once state eviction proves no
    matching click can still arrive.  Deterministic output contract
    under availableNow on finite data:

    - inner pairs: the batch interval join;
    - null-padded CLICK iff  click_ts + interval < wm  (its join
      window fell behind the global watermark — the certified
      left-outer rule);
    - null-padded PURCHASE iff  purchase_ts < wm  (a matching click
      needs click_ts ∈ [purchase_ts − interval, purchase_ts]; future
      rows carry event time ≥ wm, so once wm passes purchase_ts no
      match can arrive),

    with wm = min(max_click_ts, max_purchase_ts) − 1 h, each side's
    max ms-truncated (the engine's watermark granularity).  The DuckDB
    oracle reproduces BOTH eviction rules in batch SQL, so the
    hash-check certifies the full-outer state machine, not just that
    it ran."""
    joined = _click_purchase_join(
        spark, events_path, interval, "full_outer"
    ).select(
        "click_id",
        F.coalesce("user_id", "p_user_id").alias("user_id"),
        F.unix_timestamp("click_ts").alias("click_epoch"),
        "purchase_id",
        F.unix_timestamp("purchase_ts").alias("purchase_epoch"),
        "purchase_value",
    )
    return run_finite_stream(joined, query_name, "append")
