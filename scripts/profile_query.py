#!/usr/bin/env python
"""Layered record of one or more registry queries, read from the Spark
event log with the Spark UI off.

Each query is warmed once at $SPARK_GRAFT_WARM_DIR (default sf0.001), then
timed once at $SPARK_GRAFT_SF_DIR (default sf0.1) by ``bench.noop_seconds``
under the job group ``"<name>|"``.  After ``spark.stop()`` the event log
is parsed by perfbench's own reader (``perfbench/spans.read_event_log``)
and folded by ``pass_stats`` into one line per query: jobs, stages,
tasks, jobs launched in the timed window without the query's group
(``unattributed``, from a thread that did not inherit it), driver gap
(time in the window with no Spark job running), task CPU and shuffle.
A slowest-first per-stage table of the group's stages, summed from the
task records, follows.

Usage::

    python scripts/profile_query.py q_kcore [q_pagerank ...]
    SPARK_GRAFT_SF_DIR=/root/testdata/sf0.01 python scripts/profile_query.py q_kcore
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time
from collections import Counter, defaultdict
from functools import partial

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from bench import noop_seconds  # noqa: E402
from java_etl_bi_generator_spark.queries import registry  # noqa: E402
from java_etl_bi_generator_spark.session import get_spark  # noqa: E402
from perfbench.spans import pass_stats, read_event_log  # noqa: E402

MB = 1 / (1024 * 1024)


def stage_rows(log: dict, group: str) -> list[tuple]:
    """Per-stage task sums of the jobs in ``group``, slowest first."""
    jobs = {jid for jid, j in log["jobs"].items() if j["group"] == group}
    per_stage: dict[int, Counter] = defaultdict(Counter)
    for t in log["tasks"]:
        if log["stage_job"].get(t["stage"]) in jobs:
            c = per_stage[t["stage"]]
            c["tasks"] += 1
            for k in ("run_s", "cpu_s", "in_b", "sr_b", "sw_b"):
                c[k] += t[k]
    return sorted(
        ((c["run_s"], c["cpu_s"], sid, log["stage_job"][sid], c["tasks"],
          c["in_b"] * MB, c["sr_b"] * MB, c["sw_b"] * MB)
         for sid, c in per_stage.items()),
        reverse=True,
    )


def main() -> int:
    names = sys.argv[1:]
    if not names:
        raise SystemExit("usage: profile_query.py q_name [q_name ...]")
    qs = registry()
    unknown = [n for n in names if n not in qs]
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    warm_dir = os.environ.get("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.001")

    log_dir = tempfile.mkdtemp(prefix="profile_query_eventlog_")
    try:
        # the event-log confs perfbench/run.py launches traced runs with
        os.environ["PYSPARK_SUBMIT_ARGS"] = (
            f"--conf spark.eventLog.enabled=true --conf spark.eventLog.dir=file://{log_dir} "
            "--conf spark.eventLog.compress=false "
            "--conf spark.eventLog.rolling.enabled=false pyspark-shell")
        spark = get_spark(app_name="profile-query")
        sc = spark.sparkContext
        windows = []
        for name in names:
            noop_seconds(partial(qs[name], spark, warm_dir))
            sc.setJobGroup(f"{name}|", "profile_query")
            t0 = time.time()
            wall = noop_seconds(partial(qs[name], spark, sf_dir))
            windows.append((name, wall, t0, time.time()))
            sc.setLocalProperty("spark.jobGroup.id", None)
        spark.stop()
        log = read_event_log(log_dir)
    finally:
        shutil.rmtree(log_dir, ignore_errors=True)

    for name, wall, t0, t1 in windows:
        s = pass_stats(log, name, t0, t1)
        print(
            f"\n=== {name} at {sf_dir}: wall_s={wall:.2f} "
            f"jobs={s['spark.jobs']} stages={s['spark.stages']} "
            f"tasks={s['spark.tasks']} "
            f"unattributed={s['spark.jobs_unattributed']} "
            f"driver_gap_s={s['spark.driver_gap_s']:.2f} "
            f"task_cpu_s={s['spark.task_cpu_s']:.2f} "
            f"shuffle_write_mb={s['spark.shuffle_write_mb']:.1f} "
            f"shuffle_read_mb={s['spark.shuffle_read_mb']:.1f}"
        )
        print(f"{'run-s':>8} {'cpu-s':>8} {'stage':>6} {'job':>5} {'tasks':>6} "
              f"{'in MB':>8} {'shRd MB':>8} {'shWr MB':>8}")
        for run_s, cpu_s, sid, jid, nt, inb, srd, swr in stage_rows(log, f"{name}|")[:14]:
            print(f"{run_s:8.2f} {cpu_s:8.2f} {sid:6d} {jid:5d} {nt:6d} "
                  f"{inb:8.1f} {srd:8.1f} {swr:8.1f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
