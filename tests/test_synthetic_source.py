"""Python Data Source API: deterministic synthetic events generator
(sources/synthetic.py) — batch + streaming, determinism, and engine
interop."""

from __future__ import annotations

import tempfile

import pyspark.sql.functions as F
import pytest

from java_etl_bi_generator_spark.sources.synthetic import (
    SyntheticEventsDataSource,
)


@pytest.fixture(scope="module", autouse=True)
def _register(spark):
    spark.dataSource.register(SyntheticEventsDataSource)


def _load(spark, **opts):
    r = spark.read.format("synthetic_events")
    for k, v in opts.items():
        r = r.option(k, v)
    return r.load()


def test_batch_read_shape_and_bounds(spark):
    df = _load(spark, rows=5000, partitions=4, numUsers=50)
    assert df.count() == 5000
    assert df.rdd.getNumPartitions() == 4
    row = df.agg(
        F.count_distinct("event_id").alias("ids"),
        F.max("user_id").alias("umax"),
        F.min("value").alias("vmin"),
        F.max("value").alias("vmax"),
    ).first()
    assert row["ids"] == 5000  # event_id is the row index — unique
    assert row["umax"] < 50
    assert 0 <= row["vmin"] and row["vmax"] < 10000


def test_determinism_across_partitionings(spark):
    a = _load(spark, rows=3000, partitions=3)
    b = _load(spark, rows=3000, partitions=7)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_seed_changes_content(spark):
    a = _load(spark, rows=1000, seed=0)
    b = _load(spark, rows=1000, seed=1)
    assert a.exceptAll(b).count() > 0


def test_stream_drains_same_multiset_as_batch(spark):
    """Incremental trigger → several rowsPerBatch micro-batches whose
    union equals the batch read (content determinism, not just count)."""
    import time

    stream = (
        spark.readStream.format("synthetic_events")
        .option("rows", 4000)
        .option("rowsPerBatch", 700)
        .option("partitions", 4)
        .load()
    )
    name = "synth_stream_drain"
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", tempfile.mkdtemp(prefix="synth_ck_"))
        .start()
    )
    try:
        got = spark.table(name)
        deadline = time.time() + 120
        while got.count() < 4000 and time.time() < deadline:
            time.sleep(1)
    finally:
        q.stop()
    want = _load(spark, rows=4000, partitions=4)
    assert got.count() == 4000
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0
    # 4000 rows at 700/batch -> at least 6 distinct micro-batches ran
    assert q.lastProgress["batchId"] >= 5


def test_engine_operators_run_on_generated_data(spark):
    """The generated feed plugs straight into the engine's event
    analytics — per-type daily rollup over synthetic data."""
    df = _load(spark, rows=20000, partitions=8, numUsers=200)
    out = (
        df.groupBy(F.to_date("ts").alias("day"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("v"))
    )
    assert out.count() > 0
    assert out.agg(F.sum("n")).first()[0] == 20000


def test_documents_source_determinism_and_dup_structure(spark):
    from java_etl_bi_generator_spark.sources.synthetic import (
        SyntheticDocumentsDataSource,
    )

    spark.dataSource.register(SyntheticDocumentsDataSource)

    def load(parts):
        return (
            spark.read.format("synthetic_documents")
            .option("rows", 2000)
            .option("partitions", parts)
            .load()
        )

    a, b = load(3), load(8)
    assert a.count() == 2000
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0

    # ~1/8 of non-pool docs are exact copies of pool docs: dedup finds
    # multi-member groups, and every duplicated text's group contains a
    # pool doc (doc_id < 64)
    groups = (
        a.groupBy("text")
        .agg(F.count(F.lit(1)).alias("n"), F.min("doc_id").alias("rep"))
        .filter(F.col("n") > 1)
    )
    n_dupes = groups.agg(F.sum(F.col("n") - 1)).first()[0]
    assert 2000 // 8 * 0.5 < n_dupes < 2000 // 8 * 1.5
    # near-dup pairs can occasionally collide into identical texts
    # (birthday effect over source x position x word), so a small
    # fraction of groups may lack a pool representative
    n_groups = groups.count()
    assert groups.filter(F.col("rep") < 64).count() >= 0.9 * n_groups

    # n_chars is consistent with the text itself
    assert a.filter(F.length("text") != F.col("n_chars")).count() == 0


def test_embeddings_source_structure(spark):
    from java_etl_bi_generator_spark.operators.kmeans import (
        kmeans_fit_int,
        nearest_cell_int,
    )
    from java_etl_bi_generator_spark.sources.synthetic import (
        SyntheticEmbeddingsDataSource,
    )

    spark.dataSource.register(SyntheticEmbeddingsDataSource)
    df = (
        spark.read.format("synthetic_embeddings")
        .option("rows", 3000)
        .option("partitions", 4)
        .option("numClusters", 4)
        .load()
    )
    b = (
        spark.read.format("synthetic_embeddings")
        .option("rows", 3000)
        .option("partitions", 7)
        .option("numClusters", 4)
        .load()
    )
    assert df.count() == 3000
    assert df.exceptAll(b).count() == 0  # partitioning-independent
    first = df.filter(F.col("vec_id") == 0).first()
    assert len(first["embedding"]) == 64

    # planted clusters are separable: k-means recovers a 1:1 mapping
    model = kmeans_fit_int(df, k=4, iters=4)
    m = (
        df.withColumn("cell", nearest_cell_int("embedding", model))
        .groupBy("label")
        .agg(F.count_distinct("cell").alias("nc"), F.first("cell").alias("c"))
        .collect()
    )
    assert all(r["nc"] == 1 for r in m)
    assert len({r["c"] for r in m}) == 4


def test_events_hot_key_skew_knob(spark):
    """hotPct routes ~that share of events to the hot ids — the
    deterministic power-law input for skew-handling experiments."""
    df = _load(spark, rows=20000, numUsers=1000, hotPct=90, hotUsers=10)
    hot = df.filter(F.col("user_id") < 10).count()
    assert 0.85 * 20000 < hot < 0.95 * 20000
    # remaining traffic still spreads over the cold id range
    assert df.filter(F.col("user_id") >= 10).select("user_id").distinct().count() > 500
