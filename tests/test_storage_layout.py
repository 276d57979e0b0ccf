"""Storage-layout tests: partition pruning and bucketed joins actually
change the physical plan (the 100 TB levers in SCALING.md)."""

from __future__ import annotations

import tempfile

import pyspark.sql.functions as F

from java_etl_bi_generator_spark.catalog import load_table
from java_etl_bi_generator_spark.plans import explain_formatted, explain_simple


def test_partitioned_write_enables_pruning(spark, sf_dir):
    od = load_table(spark, sf_dir, "orders").withColumn(
        "order_year", F.year("o_orderdate")
    )
    out = tempfile.mkdtemp(prefix="part_write_") + "/orders_by_year"
    od.write.mode("overwrite").partitionBy("order_year").parquet(out)

    back = spark.read.parquet(out).filter(F.col("order_year") == 1997)
    plan = explain_formatted(back)
    # attribute ids are appended (order_year#NN) — match the prefix
    assert "PartitionFilters: [isnotnull(order_year" in plan
    assert "= 1997)" in plan
    # pruned scan still returns exactly the 1997 rows
    want = od.filter(F.col("order_year") == 1997).count()
    assert back.count() == want


def test_dynamic_partition_pruning(spark, sf_dir):
    # A dimension-side filter must prune fact partitions at RUNTIME (the
    # join key is the partition column): the scan's PartitionFilters gains
    # a dynamicpruning subquery.  At 100 TB this is the difference between
    # scanning one year and scanning the decade.
    od = load_table(spark, sf_dir, "orders").withColumn(
        "order_year", F.year("o_orderdate")
    )
    out = tempfile.mkdtemp(prefix="dpp_write_") + "/orders_by_year"
    od.write.mode("overwrite").partitionBy("order_year").parquet(out)

    fact = spark.read.parquet(out)
    dim = spark.createDataFrame(
        [(y, "keep" if y == 1997 else "drop") for y in range(1992, 1999)],
        "dim_year int, tag string",
    )
    joined = fact.join(
        F.broadcast(dim.filter(F.col("tag") == "keep")),
        fact.order_year == F.col("dim_year"),
    )
    plan = explain_formatted(joined)
    assert "dynamicpruning" in plan
    want = od.filter(F.col("order_year") == 1997).count()
    assert joined.count() == want


def test_bucketed_join_has_no_shuffle(spark, sf_dir):
    cu = load_table(spark, sf_dir, "customer")
    od = load_table(spark, sf_dir, "orders")
    for df, table, key in (
        (cu, "cust_b", "c_custkey"),
        (od.withColumn("o_custkey_b", F.col("o_custkey")), "ord_b", "o_custkey_b"),
    ):
        (
            df.write.mode("overwrite")
            .bucketBy(8, key)
            .sortBy(key)
            .format("parquet")
            .saveAsTable(table)
        )
    try:
        joined = (
            spark.table("cust_b")
            .join(
                spark.table("ord_b"),
                F.col("c_custkey") == F.col("o_custkey_b"),
            )
            .select("c_custkey", "o_orderkey")
        )
        # disable broadcast so the join must co-locate: bucketing means no
        # exchange on either side
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        plan = explain_simple(joined)
        assert "SortMergeJoin" in plan
        assert "Exchange hashpartitioning" not in plan
        assert joined.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        spark.sql("DROP TABLE IF EXISTS cust_b")
        spark.sql("DROP TABLE IF EXISTS ord_b")


def test_compact_parquet_shrinks_file_count(spark, sf_dir):
    import glob
    import os

    from java_etl_bi_generator_spark.sources.parquet_sink import compact_parquet

    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    out = tempfile.mkdtemp(prefix="compact_") + "/events_small_files"
    ev.repartition(40).write.parquet(out)
    before_files = glob.glob(os.path.join(out, "*.parquet"))
    assert len(before_files) == 40
    total = sum(os.path.getsize(p) for p in before_files)
    n_rows = ev.count()

    # target half the table per file -> exactly 2 output files
    n_after = compact_parquet(spark, out, target_file_bytes=(total + 1) // 2)
    assert n_after == 2
    assert len(glob.glob(os.path.join(out, "*.parquet"))) == 2
    assert not os.path.exists(out + ".__compacting__")
    assert not os.path.exists(out + ".__precompact__")

    back = spark.read.parquet(out)
    assert back.count() == n_rows
    assert back.exceptAll(ev).count() == 0 and ev.exceptAll(back).count() == 0


def test_compact_parquet_with_sort_clusters_minmax(spark, sf_dir):
    import glob
    import os

    import pyarrow.parquet as pq

    from java_etl_bi_generator_spark.sources.parquet_sink import compact_parquet

    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    out = tempfile.mkdtemp(prefix="compact_sorted_") + "/events_sorted"
    ev.repartition(16).write.parquet(out)
    total = sum(
        os.path.getsize(p) for p in glob.glob(os.path.join(out, "*.parquet"))
    )
    compact_parquet(
        spark, out, target_file_bytes=(total + 3) // 4, sort_cols=["event_id"]
    )
    files = glob.glob(os.path.join(out, "*.parquet"))
    assert 1 < len(files) <= 5
    # range-partitioned + sorted layout => per-file event_id ranges are
    # disjoint, which is what makes min/max footer skipping effective
    ranges = []
    for p in files:
        t = pq.read_table(p, columns=["event_id"])["event_id"].to_pylist()
        if t:
            ranges.append((min(t), max(t)))
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 < lo2
