"""State-store backend selection for Structured Streaming at scale.

Every stateful streaming operator in this package (dedup, symmetric
stream-stream joins, windowed aggregation, applyInPandasWithState) keeps
its keyed state in the configured state-store provider.  The default
HDFS-backed provider holds the WHOLE state map in executor memory with
the checkpoint as backing — fine for watermark-BOUNDED state (windowed
aggs age out; q_stream_hll_distinct's per-day registers are constant),
but an UNBOUNDED key set (q_stream_dedup's seen-key set grows with the
corpus) eventually outgrows executor heap.  The production backend for
that shape is RocksDB: state lives on local SSD with a block-cache, and
changelog checkpointing ships per-batch deltas instead of full
snapshots.

``use_rocksdb_state_store`` is the one switch: it is OPT-IN (the
default provider stays untouched for the oracle-checked test paths so
their hashes never depend on a native library), applies to queries
STARTED AFTER the call (the provider is read at query start from the
session conf).  RocksDB ships inside stock Spark (rocksdbjni is bundled
since 3.2) — no extra package; tests/test_streaming_state.py
smoke-proves the provider loads and that a stateful query returns the
same rows under either backend.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state."
    "RocksDBStateStoreProvider"
)
_PROVIDER_CONF = "spark.sql.streaming.stateStore.providerClass"
_CHANGELOG_CONF = (
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
)


def use_rocksdb_state_store(
    spark: SparkSession, enabled: bool = True
) -> str:
    """Select the state-store provider for subsequently started queries.

    ``enabled=True`` switches to RocksDB with changelog checkpointing
    (the per-batch-delta mode that keeps checkpoint traffic proportional
    to the update rate, not the state size); ``enabled=False`` restores
    Spark's default provider.  Returns the provider class now in effect.
    Running queries are unaffected — the provider binds at query start.
    """
    if enabled:
        spark.conf.set(_PROVIDER_CONF, ROCKSDB_PROVIDER)
        spark.conf.set(_CHANGELOG_CONF, "true")
    else:
        spark.conf.unset(_PROVIDER_CONF)
        spark.conf.unset(_CHANGELOG_CONF)
    return spark.conf.get(
        _PROVIDER_CONF,
        "org.apache.spark.sql.execution.streaming.state."
        "HDFSBackedStateStoreProvider",
    )
