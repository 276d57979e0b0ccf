"""catalog.load_table infers a table's schema once per file identity: a
second load of an unchanged table launches no Spark job, and a rewritten
table is inferred again."""

from __future__ import annotations

from java_etl_bi_generator_spark.catalog import load_table


def test_second_load_of_unchanged_table_launches_no_job(spark, sf_dir, count_jobs):
    first = load_table(spark, sf_dir, "orders")
    jobs, again = count_jobs(lambda: load_table(spark, sf_dir, "orders"))
    assert jobs == 0
    assert again.schema == first.schema


def test_events_ts_is_normalized_on_a_cached_schema(spark, sf_dir, count_jobs):
    load_table(spark, sf_dir, "events")
    jobs, events = count_jobs(lambda: load_table(spark, sf_dir, "events"))
    assert jobs == 0
    assert dict(events.dtypes)["ts"] == "timestamp"


def test_rewritten_table_is_inferred_again(spark, tmp_path):
    sf = str(tmp_path)
    path = f"{sf}/t.parquet"
    spark.range(3).selectExpr("id AS a").write.parquet(path)
    assert load_table(spark, sf, "t").columns == ["a"]
    spark.range(3).selectExpr("id AS b", "'x' AS c").write.mode(
        "overwrite"
    ).parquet(path)
    got = load_table(spark, sf, "t")
    assert got.columns == ["b", "c"]
    assert sorted(r["b"] for r in got.collect()) == [0, 1, 2]
