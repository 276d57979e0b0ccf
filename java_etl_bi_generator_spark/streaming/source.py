"""Streaming source for the ``events`` table — single choke point mirroring
``catalog.load_table``'s timestamp normalization — and the one runner
that takes a streaming frame over a finite input to completion.

``readStream`` needs an explicit schema, and the driver fixture has shipped
``ts`` in three physical shapes across regenerations: TIMESTAMP(NANOS)
(readable only as bigint nanos), TIMESTAMP(MICROS) without UTC adjustment
(Spark 4 infers TIMESTAMP_NTZ), and plain TIMESTAMP.  Probing the parquet
footer via a one-off batch read keeps every streaming operator agnostic:
downstream code always sees ``ts`` as TIMESTAMP (session tz pinned UTC).

``run_finite_stream`` is the harness every ``q_stream_*`` operator
shares: an availableNow trigger drains what the source holds now into a
memory sink, and the sink's table is the result.  On a real cluster the
same streaming frame runs under a continuous trigger into kafka/delta.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

_BASE = "event_id bigint, {ts}, user_id bigint, event_type string, value double, props string"


def event_stream(spark: SparkSession, events_path: str) -> DataFrame:
    """File-source stream over an events parquet table, ``ts`` normalized
    to TIMESTAMP.  Spark's streaming file source wants a directory: a
    single-FILE table (the driver fixtures) streams from its parent dir
    with a glob on the file name, while a directory table (engine-written
    multi-part outputs, the volume-sweep generators) streams directly —
    the glob-on-parent trick would match the directory NAME against file
    names and see nothing, which silently emptied every streaming query
    in the 10x sweep until round 5."""
    if os.path.isdir(events_path.rstrip("/")):
        base_dir, file_name = events_path.rstrip("/"), None
    else:
        base_dir, file_name = os.path.split(events_path.rstrip("/"))
    ts_type = dict(spark.read.parquet(events_path).dtypes).get("ts", "timestamp")
    if ts_type == "bigint":  # TIMESTAMP(NANOS) read via nanosAsLong
        schema = _BASE.format(ts="ts bigint")
        ts_expr = F.expr("timestamp_micros(ts div 1000)")
    elif ts_type == "timestamp_ntz":  # TIMESTAMP(MICROS), isAdjustedToUTC=false
        schema = _BASE.format(ts="ts timestamp_ntz")
        ts_expr = F.col("ts").cast("timestamp")
    else:
        schema = _BASE.format(ts="ts timestamp")
        ts_expr = F.col("ts")
    reader = spark.readStream.schema(schema)
    if file_name is not None:
        reader = reader.option("pathGlobFilter", file_name)
    return reader.parquet(base_dir).withColumn("ts", ts_expr)


def run_finite_stream(
    stream: DataFrame, query_name: str, output_mode: str
) -> DataFrame:
    """Run ``stream`` over everything its source holds now (availableNow
    trigger) into the memory sink ``query_name`` with ``output_mode``,
    wait for it to finish, and return the sink's table."""
    q = (
        stream.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return stream.sparkSession.table(query_name)
