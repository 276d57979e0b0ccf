"""Nothing the engine does on the driver goes unseen: every Spark job a
query launches, from any driver thread, lands in the caller's job group,
a session conf that cannot be applied is reported, not skipped
silently, the shared timer runs the whole plan, and the per-query
profile reads the event log with the Spark UI off."""

from __future__ import annotations

import os
import re
import subprocess
import sys

import pytest

from bench import noop_seconds
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


def test_noop_seconds_runs_every_output_column(spark):
    """``noop_seconds`` times the plan ``bench.py`` reports: a Python UDF
    in an output column runs once per row, where ``.count()`` prunes the
    column and never runs it."""
    from pyspark.sql import functions as F

    calls = spark.sparkContext.accumulator(0)

    @F.udf("long")
    def bump(x):
        calls.add(1)
        return x

    df = spark.range(50).withColumn("y", bump("id"))
    assert df.count() == 50
    assert calls.value == 0
    noop_seconds(lambda: df)
    assert calls.value == 50


def test_profile_query_reads_event_log_with_ui_off(sf_dir):
    """``scripts/profile_query.py`` in a fresh process (the UI is off in
    every session) prints the query's jobs from the event log, all of
    them in the query's job group."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, SPARK_GRAFT_SF_DIR=sf_dir, SPARK_GRAFT_WARM_DIR=sf_dir)
    proc = subprocess.run(
        [sys.executable, os.path.join(repo, "scripts", "profile_query.py"), "q_filter"],
        capture_output=True,
        text=True,
        timeout=300,
        env=env,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    header = [ln for ln in proc.stdout.splitlines() if ln.startswith("=== q_filter ")]
    assert len(header) == 1, proc.stdout[-2000:]
    fields = dict(re.findall(r"(\w+)=([\d.]+)", header[0]))
    assert int(fields["jobs"]) > 0
    assert int(fields["stages"]) > 0
    assert int(fields["unattributed"]) == 0
