"""Table catalog over a directory of parquet files (the driver testdata
layout: ``{sf_dir}/{table}.parquet``).

Scale note: each ``load_table`` is a plain parquet scan — Catalyst pushes
filters and prunes columns into the scan, so callers should express
everything declaratively and never pre-``collect``.

Schema inference reads the parquet footers with a Spark job of its own.
``load_table`` pays it once per table: the inferred schema is kept per
file identity (the table path plus the name, size and mtime of every
file under it) and later loads read through ``spark.read.schema``, which
launches no job.  Rewriting the table changes its identity, so the next
load infers again.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from .session import apply_runtime_confs

# path -> (file identity, inferred schema); one entry per table path
_SCHEMAS: dict[str, tuple[tuple, StructType]] = {}

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table.

    Timestamp normalization (single choke point for every query):

    - ``events.ts`` as parquet TIMESTAMP(NANOS,false): Spark cannot map
      nanos to a native type; with ``nanosAsLong`` it arrives as bigint
      nanoseconds and is converted to a microsecond TIMESTAMP here.
    - ``events.ts`` as parquet TIMESTAMP(MICROS) without UTC adjustment:
      Spark 4 infers TIMESTAMP_NTZ, which functions like ``unix_millis``
      reject.  With the session timeZone pinned to UTC, casting NTZ →
      TIMESTAMP keeps the same wall-clock value and interprets it as UTC —
      identical epoch arithmetic to DuckDB's naive-timestamp ``epoch_ms``.

    Downstream code can therefore always assume ``ts`` is TIMESTAMP.
    """
    apply_runtime_confs(spark)
    df = _read_parquet(spark, f"{sf_dir}/{name}.parquet")
    if name == "events":
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        elif ts_type == "timestamp_ntz":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def _file_identity(path: str) -> tuple | None:
    """(relative name, size, mtime_ns) of every file under ``path``, or
    None for a path this process cannot stat (a remote store)."""
    if os.path.isfile(path):
        st = os.stat(path)
        return (("", st.st_size, st.st_mtime_ns),)
    if not os.path.isdir(path):
        return None
    found = []
    for root, _dirs, files in os.walk(path):
        for f in files:
            full = os.path.join(root, f)
            st = os.stat(full)
            found.append(
                (os.path.relpath(full, path), st.st_size, st.st_mtime_ns)
            )
    return tuple(sorted(found))


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, inferring the schema only when the
    files under ``path`` changed since the last read."""
    identity = _file_identity(path)
    cached = _SCHEMAS.get(path)
    if identity is not None and cached is not None and cached[0] == identity:
        return spark.read.schema(cached[1]).parquet(path)
    df = spark.read.parquet(path)
    if identity is not None:
        _SCHEMAS[path] = (identity, df.schema)
    return df


def estimate_rows(sf_dir: str, name: str) -> int:
    """Exact row count from parquet FOOTER metadata — a planner-style
    stats lookup (no Spark job, no scan; pyarrow reads only the footers
    on the driver).  Feeds static routing decisions like
    ``functions.rounding.dsum_auto``'s BIGINT-overflow bound, where a
    pre-filter table size is the right conservative input.  Handles a
    single parquet file, a flat directory of part files, and
    nested/Hive-partitioned layouts (os.walk recursion — a top-level-only
    listing would return 0 for a partitioned table, which dsum_auto
    would mis-read as 'tiny, long path is safe').  A directory holding
    no ``*.parquet`` files at all has an UNKNOWN row count and raises
    ValueError so callers take their conservative route; a table whose
    part files exist but sum to 0 rows (zero-row parts plus _SUCCESS) is
    a KNOWN empty table and legitimately returns 0."""
    import os

    import pyarrow.parquet as pq

    path = f"{sf_dir}/{name}.parquet"
    if os.path.isdir(path):
        total = 0
        n_files = 0
        for root, _dirs, files in os.walk(path):
            for f in files:
                if f.endswith(".parquet"):
                    n_files += 1
                    total += pq.ParquetFile(
                        os.path.join(root, f)
                    ).metadata.num_rows
        if n_files == 0:
            raise ValueError(
                f"estimate_rows: no parquet footers under directory "
                f"{path!r} — row count unknown"
            )
        return total
    return pq.ParquetFile(path).metadata.num_rows


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register all tables as temp views for ``spark.sql`` use."""
    for t in TABLES:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
