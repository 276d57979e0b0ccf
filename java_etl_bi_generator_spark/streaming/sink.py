"""Incremental merge sink: ``foreachBatch`` upsert into a versioned
parquet table — the streaming incremental-load path the reference's
full-rebuild ETL lacks (FullETLGenerator.java regenerates every output per
run; there is no merge).

Without a transactional table format the sink supplies its own atomicity
and idempotence, the two properties ``MERGE INTO`` a Delta/Iceberg table
would give for free:

- **Versioned publish**: each micro-batch writes a complete new table
  snapshot to ``<target>/v<batch_id>`` and then atomically publishes it
  by rewriting the ``_LATEST`` pointer file.  Readers resolve the pointer
  first, so they never observe a half-written directory.
- **Batch-id idempotence**: Structured Streaming's ``foreachBatch``
  delivers batches *at least once* (a batch is replayed after a failure
  between sink commit and checkpoint commit).  A version directory that
  already exists marks the batch as applied and the replay is skipped —
  table state is exactly-once even though delivery is not.
- **Keep-latest merge**: within and across batches the row with the
  greatest ``(order_col, tiebreak)`` wins per key — commutative over
  batch boundaries, so the final state is independent of how the input
  happened to be split into micro-batches.

Scale shape: each batch merges against the current snapshot with one
shuffle on the key (arg-max via ``max(struct(...))``, partial map-side);
at 100 TB you point the same logic at ``MERGE INTO`` on a transactional
table and keep the identical foreachBatch/idempotence structure, or
partition the snapshot by key-hash so a batch only rewrites touched
partitions.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

_POINTER = "_LATEST"


def current_snapshot(spark: SparkSession, target: str) -> DataFrame | None:
    """Resolve the published snapshot via the pointer file, or None."""
    ptr = os.path.join(target, _POINTER)
    if not os.path.exists(ptr):
        return None
    with open(ptr, encoding="ascii") as f:
        version = f.read().strip()
    return snapshot_at(spark, target, version)


def list_versions(target: str) -> list[str]:
    """Version ids on disk, oldest first (each a full applied snapshot)."""
    return sorted(d for d in os.listdir(target) if d.startswith("v"))


def snapshot_at(spark: SparkSession, target: str, version: str) -> DataFrame:
    """Time-travel read: the table EXACTLY as published at ``version``
    (any id from ``list_versions``).
    Every version directory is a complete snapshot, so a historical read
    is a plain parquet scan — no log replay; the pointer file is only
    the 'latest' convenience the default read follows."""
    return spark.read.parquet(os.path.join(target, version))


def keep_latest_merge(
    current: DataFrame | None,
    updates: DataFrame,
    key_col: str,
    order_col: str,
    tiebreak_col: str,
) -> DataFrame:
    """One row per key: the arg-max of (order_col, tiebreak_col) over
    current ∪ updates.  Commutative and associative across batches."""
    both = updates if current is None else current.unionByName(updates)
    payload = [c for c in both.columns if c != key_col]
    win = F.max(
        F.struct(F.col(order_col), F.col(tiebreak_col), *[
            F.col(c) for c in payload if c not in (order_col, tiebreak_col)
        ])
    ).alias("__w")
    flat = [F.col(f"__w.{c}").alias(c) for c in [order_col, tiebreak_col] + [
        c for c in payload if c not in (order_col, tiebreak_col)
    ]]
    return both.groupBy(key_col).agg(win).select(key_col, *flat)


def apply_merge_batch(
    batch_df: DataFrame,
    batch_id: int,
    target: str,
    key_col: str,
    order_col: str,
    tiebreak_col: str,
) -> bool:
    """Merge one micro-batch into the versioned table.  Returns False when
    the batch was already applied (replay after failure) — the skip that
    makes at-least-once delivery produce exactly-once table state."""
    spark = batch_df.sparkSession
    vdir = os.path.join(target, f"v{batch_id:012d}")
    if os.path.exists(vdir):
        return False
    merged = keep_latest_merge(
        current_snapshot(spark, target),
        batch_df,
        key_col,
        order_col,
        tiebreak_col,
    )
    merged.write.mode("overwrite").parquet(vdir)
    ptr_tmp = os.path.join(target, f".{_POINTER}.v{batch_id:012d}")
    with open(ptr_tmp, "w", encoding="ascii") as f:
        f.write(f"v{batch_id:012d}")
    os.replace(ptr_tmp, os.path.join(target, _POINTER))  # atomic publish
    return True


def merge_stream_into_parquet(
    stream_df: DataFrame,
    target: str,
    key_col: str,
    order_col: str,
    tiebreak_col: str,
    checkpoint_dir: str,
    query_name: str = "merge_sink",
):
    """Run the stream through the merge sink with availableNow semantics
    (drain all pending input, then stop).  Continuous deployments drop
    the trigger; the per-batch logic is identical."""
    os.makedirs(target, exist_ok=True)

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        apply_merge_batch(
            batch_df, batch_id, target, key_col, order_col, tiebreak_col
        )

    return (
        stream_df.writeStream.foreachBatch(_sink)
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
