"""Custom stateful streaming operator via ``applyInPandasWithState``
(north-star §2.11/T5 territory: arbitrary per-key state beyond what
built-in window aggregations express).

The demo operator keeps a running per-user profile (event count, value
sum, last-seen timestamp) across micro-batches — the canonical shape for
sessionization / feature-store upkeep on an event stream.  State lives in
the state store (RocksDB/HDFS-backed on a cluster), so cardinality is
bounded by keys, not events; watermarking would bound it further in a
production pipeline.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
)

OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("sum_value", DoubleType()),
        StructField("last_seen_epoch", LongType()),
    ]
)
STATE_SCHEMA = StructType(
    [
        StructField("n", LongType()),
        StructField("cents", LongType()),
        StructField("last", LongType()),
    ]
)


def _update_profile(
    key: tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    # The value sum is carried as EXACT integer cents (the same per-row
    # floor(x*100+0.5) scaling dsum uses): integer addition is order-free
    # across rows, chunks, and micro-batches, so the emitted profile is
    # bit-identical however the stream is partitioned — which is what
    # makes this custom stateful operator oracle-checkable at all (a
    # float accumulator would drift by summation order).
    import numpy as np

    n, cents, last = state.get if state.exists else (0, 0, 0)
    for pdf in pdfs:
        n += len(pdf)
        if len(pdf):
            cents += int(
                np.floor(pdf["value"].to_numpy() * 100.0 + 0.5)
                .astype("int64")
                .sum()
            )
            last = max(last, int(pdf["epoch"].max()))
    state.update((n, cents, last))
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "n_events": [n],
            "sum_value": [cents / 100.0],
            "last_seen_epoch": [last],
        }
    )


def streaming_user_profiles(
    spark: SparkSession,
    events_path: str,
    schema: str | None = None,  # kept for API compat; source probes the file
    query_name: str = "q_stream_stateful",
) -> DataFrame:
    """File stream -> per-user stateful profile, run to completion with
    availableNow, materialized through a memory sink."""
    from .source import event_stream

    stream = (
        event_stream(spark, events_path)
        .withColumn("epoch", F.unix_timestamp("ts"))
        .groupBy("user_id")
        .applyInPandasWithState(
            _update_profile,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    q = (
        stream.writeStream.format("memory")
        .queryName(query_name)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(query_name)
