"""Nothing the engine does on the driver goes unseen: every Spark job a
query launches, from any driver thread, lands in the caller's job group,
and a session conf that cannot be applied is reported, not skipped
silently."""

from __future__ import annotations

import pytest

from java_etl_bi_generator_spark import session
from java_etl_bi_generator_spark.queries import registry


def _marker_job_ids(spark, group: str) -> list[int]:
    """Run one tiny job under ``group`` and return the ids it used."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    spark.range(1).collect()
    return sc.statusTracker().getJobIdsForGroup(group)


def _clear_job_group(spark) -> None:
    sc = spark.sparkContext
    for prop in (
        "spark.jobGroup.id",
        "spark.job.description",
        "spark.job.interruptOnCancel",
    ):
        sc.setLocalProperty(prop, None)


@pytest.mark.parametrize(
    "name", ["q_blocking_quality", "q_dedup_cluster_quality"]
)
def test_query_jobs_stay_in_callers_job_group(spark, sf_dir, name):
    """Both queries build their truth branch on a worker thread; the
    jobs launched there must carry the caller's job group like the rest,
    so a harness that groups by query sees all of them.  Job ids are
    sequential, so the window between two marker jobs is exactly the
    query's build and collect."""
    group = f"t_{name}"
    try:
        before = max(_marker_job_ids(spark, f"{group}_open"))
        spark.sparkContext.setJobGroup(group, name)
        registry()[name](spark, sf_dir).collect()
        after = min(_marker_job_ids(spark, f"{group}_close"))
        in_group = set(spark.sparkContext.statusTracker().getJobIdsForGroup(group))
    finally:
        _clear_job_group(spark)
    window = set(range(before + 1, after))
    assert window, "the query launched no jobs"
    assert window <= in_group, (
        f"jobs {sorted(window - in_group)} ran outside group {group!r}"
    )


def test_apply_runtime_confs_warns_on_refused_conf(spark, monkeypatch):
    """A static conf cannot be set on a live session; the failure must
    surface as a warning naming the conf, and the dynamic confs must
    still be applied."""
    monkeypatch.setattr(
        session,
        "RUNTIME_CONFS",
        {**session.RUNTIME_CONFS, "spark.sql.warehouse.dir": "/nonexistent"},
    )
    with pytest.warns(RuntimeWarning, match="spark.sql.warehouse.dir"):
        session.apply_runtime_confs(spark)
    assert spark.conf.get("spark.sql.session.timeZone") == "Etc/UTC"
