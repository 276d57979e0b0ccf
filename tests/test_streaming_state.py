"""RocksDB state-store opt-in (VERDICT r10 task 7): the production
backend for unbounded-key streaming state loads in this container, a
stateful query returns the SAME key set under either provider, and the
switch restores the default cleanly (so the oracle-checked streaming
paths keep their provider-independent hashes)."""

from __future__ import annotations

from java_etl_bi_generator_spark.streaming.state import (
    ROCKSDB_PROVIDER,
    use_rocksdb_state_store,
)


def _dedup_keys(spark, name):
    """Keys surviving a stateful dropDuplicatesWithinWatermark over the
    sf0.001 events feed — q_stream_dedup's deterministic contract."""
    from java_etl_bi_generator_spark.streaming.joins import streaming_dedup

    df = streaming_dedup(
        spark, "/root/testdata/sf0.001/events.parquet", query_name=name
    )
    return sorted(tuple(r) for r in df.collect())


def test_rocksdb_provider_roundtrip(spark):
    default_keys = _dedup_keys(spark, "t_state_default")
    try:
        got = use_rocksdb_state_store(spark, True)
        assert got == ROCKSDB_PROVIDER
        rocks_keys = _dedup_keys(spark, "t_state_rocksdb")
    finally:
        use_rocksdb_state_store(spark, False)
    assert rocks_keys == default_keys
    assert rocks_keys, "stateful dedup returned no rows"
    # the switch is fully reversible
    restored = use_rocksdb_state_store(spark, False)
    assert "HDFSBackedStateStoreProvider" in restored
