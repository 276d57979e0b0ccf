"""Parquet sink maintenance: small-file compaction with an atomic swap.

The reference writes a flat single-file CSV per table
(FullETLGenerator.java:63-66).  At 100 TB the written layouts are
Hive-partitioned (``df.write.partitionBy``: scans with a partition-column
predicate prune whole directories) and bucketed (``bucketBy`` +
``saveAsTable``: joins on the bucket key skip the exchange) — both plain
``DataFrameWriter`` calls, pinned in tests/test_storage_layout.py.  What
those layouts and incremental writers accrete is small files;
``compact_parquet`` rewrites them.
"""

from __future__ import annotations

from pyspark.sql import SparkSession


def compact_parquet(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    sort_cols: list[str] | None = None,
) -> int:
    """Small-file compaction: rewrite a parquet directory into
    ``ceil(total_bytes / target_file_bytes)`` files and atomically swap it
    in.  Returns the resulting file count.

    Why it exists: streaming sinks, incremental merges and fine-grained
    partitioning all accrete small files, and at 100 TB the scan cost of
    a table is driven by file count (task scheduling, footer reads, open
    latency) as much as by bytes — ``OPTIMIZE`` in Delta/Iceberg is this
    operation.  Shape:

    - file count comes from the directory listing (cheap metadata), not
      a data scan;
    - when shrinking, ``coalesce`` merges partitions WITHOUT a shuffle;
      an optional ``sort_cols`` switches to ``repartitionByRange`` +
      ``sortWithinPartitions`` (one shuffle) to also cluster the data —
      z-order/min-max-friendly layout while compacting;
    - the rewrite goes to a staging directory first and is swapped in by
      directory rename, so readers resolve either the old or the new
      layout, never a mix.  (Two renames — a transactional table format
      closes that window with a manifest commit; the helper documents the
      same publish discipline streaming/sink.py implements with its
      pointer file.)
    """
    import glob
    import math
    import os
    import shutil

    files = glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    if not files:
        raise FileNotFoundError(f"compact_parquet: no parquet files under {path}")
    total = sum(os.path.getsize(p) for p in files)
    n_out = max(1, math.ceil(total / target_file_bytes))
    df = spark.read.parquet(path)
    if sort_cols:
        out = df.repartitionByRange(n_out, *sort_cols).sortWithinPartitions(
            *sort_cols
        )
    else:
        out = df.coalesce(n_out)
    staged = path.rstrip("/") + ".__compacting__"
    out.write.mode("overwrite").parquet(staged)
    old = path.rstrip("/") + ".__precompact__"
    os.rename(path.rstrip("/"), old)
    os.rename(staged, path.rstrip("/"))
    shutil.rmtree(old)
    return len(
        glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    )
