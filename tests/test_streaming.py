"""Streaming correctness: with a finite availableNow backfill and no late
data, the streaming results must equal their batch equivalents."""

from __future__ import annotations

import pyspark.sql.functions as F

from java_etl_bi_generator_spark.catalog import load_table
from java_etl_bi_generator_spark.functions.rounding import pround
from java_etl_bi_generator_spark.queries import registry


def test_stateful_profiles_match_batch(spark, sf_dir):
    got = {
        r["user_id"]: (r["n_events"], r["sum_value"])
        for r in registry()["q_stream_stateful"](spark, sf_dir).collect()
    }
    ev = load_table(spark, sf_dir, "events")
    want = {
        r["user_id"]: (r["n"], round(r["s"], 2))
        for r in ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("s"))
        .collect()
    }
    assert set(got) == set(want)
    for uid, (n, s) in want.items():
        assert got[uid][0] == n
        assert abs(got[uid][1] - s) < 0.02


def test_watermark_stream_matches_batch_tumbling(spark, sf_dir):
    stream_rows = {
        (r["win_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in registry()["q_stream_watermark"](spark, sf_dir).collect()
    }
    batch_rows = {
        (r["win_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in registry()["q_window_tumbling"](spark, sf_dir).collect()
    }
    assert stream_rows == batch_rows


def test_session_stream_matches_batch_sessions(spark, sf_dir):
    stream_rows = {
        (r["user_id"], r["sess_start"]): (r["n_events"], r["sum_value"])
        for r in registry()["q_stream_session"](spark, sf_dir).collect()
    }
    batch_rows = {
        (r["user_id"], r["sess_start"]): (r["n_events"], r["sum_value"])
        for r in registry()["q_window_session"](spark, sf_dir).collect()
    }
    assert stream_rows == batch_rows


def test_stream_interval_join_matches_batch(spark, sf_dir):
    stream_rows = {
        (r["click_id"], r["purchase_id"])
        for r in registry()["q_stream_join"](spark, sf_dir).collect()
    }
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id",
        F.col("ts").alias("click_ts"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user_id"),
        F.col("ts").alias("purchase_ts"),
    )
    batch_rows = {
        (r["click_id"], r["purchase_id"])
        for r in clicks.join(
            purchases,
            (F.col("user_id") == F.col("p_user_id"))
            & (F.col("purchase_ts") >= F.col("click_ts"))
            & (F.col("purchase_ts")
               <= F.col("click_ts") + F.expr("interval 30 minutes")),
        ).collect()
    }
    assert stream_rows == batch_rows
    assert len(stream_rows) > 0


def test_stream_dedup_one_row_per_key(spark, sf_dir):
    out = registry()["q_stream_dedup"](spark, sf_dir).collect()
    keys = [(r["user_id"], r["event_type"]) for r in out]
    assert len(keys) == len(set(keys))
    assert len(keys) > 0


def test_watermark_drops_late_rows_across_batches(spark, tmp_path):
    """TRUE multi-batch watermark semantics (the single-file backfills
    above are one batch, where nothing is ever late).  Three files
    stream oldest-first with maxFilesPerTrigger=1: batch 0 advances the
    watermark past the 10:00 window, batch 1 lets the engine emit and
    EVICT it, and batch 2's row into that evicted window must then be
    dropped by the state watermark (Spark guarantees "never drops data
    <= delay late", and eviction happens a batch after the watermark
    passes — so the provable drop needs the extra batch)."""
    import os
    import time as _time

    d = str(tmp_path / "late_events")
    os.makedirs(d)

    def _write(name, rows, mtime):
        spark.createDataFrame(
            rows, "event_id bigint, ts string, value double"
        ).withColumn("ts", F.to_timestamp("ts")).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{d}/{name}")
        for root, _, files in os.walk(f"{d}/{name}"):
            for f in files:
                os.utime(os.path.join(root, f), (mtime, mtime))

    t0 = "2024-01-01 10:{:02d}:00"
    now = _time.time()
    _write(
        "b0",
        [(1, t0.format(0), 1.0), (2, t0.format(2), 1.0),
         (3, t0.format(7), 1.0), (4, t0.format(59), 1.0)],
        now - 200,
    )
    _write("b1", [(5, "2024-01-01 11:30:00", 1.0)], now - 100)
    _write("b2", [(6, t0.format(1), 1.0)], now)  # LATE: evicted window

    stream = (
        spark.readStream.schema("event_id bigint, ts timestamp, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{d}/*")
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "5 minutes"))
        .count()
        .select(F.unix_timestamp("window.start").alias("w"), "count")
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("late_drop_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {r["w"]: r["count"] for r in spark.table("late_drop_test").collect()}
    dropped = sum(
        (p["stateOperators"][0]["numRowsDroppedByWatermark"]
         if p["stateOperators"] else 0)
        for p in q.recentProgress
    )
    base = 1704103200  # 2024-01-01 10:00:00 UTC
    # late event 6 dropped (10:00 window emitted ONCE with count 2);
    # 10:55 flushed by batch 1's watermark; 11:30 still pending at end
    assert got == {base: 2, base + 300: 1, base + 3300: 1}
    assert dropped == 1


def test_stream_hll_merges_across_real_microbatches(spark, tmp_path):
    """q_stream_hll_distinct's claim pinned structurally: the 3-file
    source really produces >= 2 non-empty micro-batches, and the
    stream's converged register state equals the batch register table
    EXACTLY (max-merge commutes over batch boundaries) — the mergeable-
    sketch property, not just a single-batch replay."""
    import pyspark.sql.functions as F

    from java_etl_bi_generator_spark.catalog import load_table

    from .conftest import SF_DIR

    ev = load_table(spark, SF_DIR, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    src = f"{tmp_path}/src"
    ev.repartition(3).write.parquet(src)
    m = 1024
    h = F.md5(F.col("user_id").cast("string"))
    h1 = F.conv(F.substring(h, 1, 8), 16, 10).cast("bigint")
    h2 = F.conv(F.substring(h, 9, 8), 16, 10).cast("bigint")

    def regs(df):
        return (
            df.select(
                F.to_date("ts").alias("day"),
                (h1 % m).alias("bucket"),
                (F.lit(33) - F.length(F.bin(h2))).alias("rho"),
            )
            .groupBy("day", "bucket")
            .agg(F.max("rho").alias("reg"))
        )

    stream = (
        spark.readStream.schema(
            "event_id bigint, ts timestamp, user_id bigint, "
            "event_type string, value double"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        regs(stream)
        .writeStream.format("memory")
        .queryName("t_hll_microbatches")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    nonempty = [
        p for p in q.recentProgress if p["numInputRows"] > 0
    ]
    assert len(nonempty) >= 2, "expected real multi-batch processing"
    got = sorted(
        (str(r["day"]), r["bucket"], r["reg"])
        for r in spark.table("t_hll_microbatches").collect()
    )
    want = sorted(
        (str(r["day"]), r["bucket"], r["reg"])
        for r in regs(ev).collect()
    )
    assert got == want


def test_stream_hist_counts_merge_across_microbatches(spark, tmp_path):
    """q_stream_hist_quantile's claim pinned structurally: the 3-file
    source produces >= 2 non-empty micro-batches, and the stream's
    converged (day, bucket) count state equals the batch histogram
    EXACTLY (counts are commutative adds over batch boundaries) — the
    mergeable-sketch property, not just a single-batch replay."""
    import pyspark.sql.functions as F

    from java_etl_bi_generator_spark.catalog import load_table

    from .conftest import SF_DIR

    ev = load_table(spark, SF_DIR, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    src = f"{tmp_path}/src"
    ev.repartition(3).write.parquet(src)

    def hist(df):
        return (
            df.select(
                F.to_date("ts").alias("day"),
                F.expr(
                    "CAST(floor(value * 100 + 0.5) AS BIGINT) div 50"
                ).alias("bucket"),
            )
            .groupBy("day", "bucket")
            .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        )

    stream = (
        spark.readStream.schema(
            "event_id bigint, ts timestamp, user_id bigint, "
            "event_type string, value double"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        hist(stream)
        .writeStream.format("memory")
        .queryName("t_hist_microbatches")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    n_batches = sum(
        1 for p in q.recentProgress if p["numInputRows"] > 0
    )
    assert n_batches >= 2  # really multi-batch, not one gulp
    streamed = {
        (r["day"], r["bucket"]): r["c"]
        for r in spark.table("t_hist_microbatches").collect()
    }
    batch = {
        (r["day"], r["bucket"]): r["c"]
        for r in hist(ev).collect()
    }
    assert streamed == batch


def test_stream_cms_counters_merge_across_microbatches(spark, tmp_path):
    """q_stream_cms_heavy's claim pinned structurally: the converged
    streaming (j, slot) counter state equals the batch count-min
    counters EXACTLY (increments are commutative adds over batch
    boundaries)."""
    import pyspark.sql.functions as F

    from java_etl_bi_generator_spark.catalog import load_table
    from java_etl_bi_generator_spark.queries import _h32

    from .conftest import SF_DIR

    ev = load_table(spark, SF_DIR, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    src = f"{tmp_path}/src"
    ev.repartition(3).write.parquet(src)
    js = F.explode(F.array(*[F.lit(i) for i in range(4)])).alias("j")
    slot = (_h32(F.concat_ws(":", "j", "user_id")) % 256).alias("slot")

    def counters(df):
        return (
            df.select("user_id", js)
            .select("j", slot)
            .groupBy("j", "slot")
            .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        )

    stream = (
        spark.readStream.schema(
            "event_id bigint, ts timestamp, user_id bigint, "
            "event_type string, value double"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        counters(stream)
        .writeStream.format("memory")
        .queryName("t_cms_microbatches")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert sum(1 for p in q.recentProgress if p["numInputRows"] > 0) >= 2
    streamed = {
        (r["j"], r["slot"]): r["c"]
        for r in spark.table("t_cms_microbatches").collect()
    }
    batch = {
        (r["j"], r["slot"]): r["c"] for r in counters(ev).collect()
    }
    assert streamed == batch


def test_stream_static_enrich_multibatch_equals_batch(spark, tmp_path):
    """q_stream_static_enrich's claim pinned structurally: the 3-file
    source produces >= 2 non-empty micro-batches, and the maintained
    (segment, event_type) state after the stream converges equals the
    plain batch join+aggregate EXACTLY — count and integer cents adds
    commute over batch boundaries, so the stream-static join loses
    nothing at the trigger seams."""
    import pyspark.sql.functions as F

    from java_etl_bi_generator_spark.catalog import load_table

    from .conftest import SF_DIR

    ev = load_table(spark, SF_DIR, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    src = f"{tmp_path}/src"
    ev.repartition(3).write.parquet(src)
    dim = load_table(spark, SF_DIR, "customer").select(
        F.col("c_custkey").alias("user_id"),
        F.col("c_mktsegment").alias("segment"),
    )

    def enrich(df):
        return (
            df.join(F.broadcast(dim), "user_id", "left")
            .select(
                F.coalesce("segment", F.lit("UNKNOWN")).alias("segment"),
                "event_type",
                F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5))
                .cast("bigint")
                .alias("cents"),
            )
            .groupBy("segment", "event_type")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("cents").alias("c"),
            )
        )

    stream = (
        spark.readStream.schema(
            "event_id bigint, ts timestamp, user_id bigint, "
            "event_type string, value double"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        enrich(stream)
        .writeStream.format("memory")
        .queryName("t_static_enrich")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    nonempty = [p for p in q.recentProgress if p["numInputRows"] > 0]
    assert len(nonempty) >= 2, "expected real multi-batch processing"
    got = sorted(
        (r["segment"], r["event_type"], r["n"], r["c"])
        for r in spark.table("t_static_enrich").collect()
    )
    expect = sorted(
        (r["segment"], r["event_type"], r["n"], r["c"])
        for r in enrich(ev).collect()
    )
    assert got == expect
