"""``operators.bounded.collect_at_most``: the driver receives at most
n + 1 rows, also when the frame is sorted and spread over several
partitions, and ``star.build_dimension``'s size probe is such a collect."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from java_etl_bi_generator_spark.operators import star
from java_etl_bi_generator_spark.operators.bounded import collect_at_most

COALESCE = "spark.sql.adaptive.coalescePartitions.enabled"
KEYS = sorted(f"k{i:02d}" for i in range(20))


@pytest.fixture
def keys(spark):
    """20 distinct keys over 8 partitions: AQE's partition coalescing is
    off, so the distinct does not shrink to one partition."""
    was = spark.conf.get(COALESCE)
    spark.conf.set(COALESCE, "false")
    try:
        df = spark.range(0, 40, 1, 8).select(
            F.format_string("k%02d", F.col("id") % 20).alias("k")
        ).distinct()
        assert df.rdd.getNumPartitions() == 8
        yield df
    finally:
        spark.conf.set(COALESCE, was)


def _results_to_driver(spark, ids) -> int:
    """Task results the driver received from the last of the jobs
    ``ids``: one per task of its result stage (the job's newest)."""
    tracker = spark.sparkContext.statusTracker()
    stage = max(tracker.getJobInfo(ids[-1]).stageIds)
    return tracker.getStageInfo(stage).numTasks


def test_sorted_collect_ships_one_bounded_result(spark, keys, job_ids):
    ids, rows = job_ids(lambda: collect_at_most(keys, 2, [F.col("k")]))
    assert rows is None
    # one result, the top 3 merged on the executors, not 8 top-3s
    assert _results_to_driver(spark, ids) == 1

    ids, rows = job_ids(lambda: collect_at_most(keys, 20, [F.col("k").desc()]))
    assert [r["k"] for r in rows] == KEYS[::-1]
    assert _results_to_driver(spark, ids) == 1


def test_dimension_over_the_limit_probes_one_bounded_result(
    spark, keys, job_ids, monkeypatch
):
    """Above DRIVER_DIM_LIMIT the probe brings one result of at most
    limit + 1 keys to the driver, and the ids come from global_rank."""
    results = []

    def probe(df, n, order=()):
        ids, rows = job_ids(lambda: collect_at_most(df, n, order))
        results.append((_results_to_driver(spark, ids), rows))
        return rows

    monkeypatch.setattr(star, "DRIVER_DIM_LIMIT", 5)
    monkeypatch.setattr(star, "collect_at_most", probe)
    dim = star.build_dimension(keys, ["k"], "kid")
    assert results == [(1, None)]
    assert "__pid" in dim._jdf.queryExecution().executedPlan().toString()
    assert sorted((r["kid"], r["k"]) for r in dim.collect()) == list(
        enumerate(KEYS, 1)
    )
