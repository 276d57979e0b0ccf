"""Dimension maintenance: MERGE-style upsert — the ETL operation the
reference's star schema needs for incremental loads (the reference
itself only does full rebuilds; FullETLGenerator.java has no incremental
path).

Without a transactional table format (Delta/Iceberg), merge is expressed
relationally: anti-join survivors + updates.  On a real lake the same
logic runs inside ``MERGE INTO``; the plan shape (one shuffle on the key,
or none if both sides are bucketed on it) is identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def merge_upsert(target: DataFrame, updates: DataFrame, key: str) -> DataFrame:
    """Upsert: rows from ``updates`` replace same-key rows in ``target``;
    unmatched update rows are inserted.  Columns must align."""
    survivors = target.join(updates.select(key), on=key, how="left_anti")
    return survivors.unionByName(updates)
