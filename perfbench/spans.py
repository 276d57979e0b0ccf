"""Per-layer tracing from outside the engine.

``Tracer`` wraps public functions of the engine's modules in spans.  A
span times its call, counts it, and sets a Spark job group naming the
pass and the open spans (``p3|dedup.minhash_lsh_dup_clusters/
graph.connected_components``), so every job the call launches from the
calling thread carries the span that caused it.  Jobs launched from
other threads carry no benchmark group and are reported as unattributed.

After the session stops, ``read_event_log`` parses the Spark event log
(enabled for traced runs only) into job, stage and task records, and
``pass_stats`` folds them into per-pass counts, task metrics and the
time within a pass when no Spark job ran.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import importlib
import json
import os
import sys
import time
from collections import Counter, defaultdict

PKG = "java_etl_bi_generator_spark"

# (module, function, span name).  Each wrapper replaces every binding of
# the function in every loaded module: a name imported with ``from x
# import f`` is a separate binding (``graph.cut_lineage`` is not
# ``lineage.cut_lineage``), and a lazy import inside a function body reads
# the patched module attribute at call time.
TARGETS = [
    (f"{PKG}.catalog", "load_table", "catalog.load_table"),
    (f"{PKG}.operators.star", "siga_pipeline", "star.siga_pipeline"),
    (f"{PKG}.sources.csv_ref", "write_reference_csv", "csv_ref.write"),
    (f"{PKG}.operators.dedup", "exact_dedup", "dedup.exact_dedup"),
    (f"{PKG}.operators.dedup", "minhash_lsh_dup_clusters",
     "dedup.minhash_lsh_dup_clusters"),
    (f"{PKG}.operators.graph", "connected_components",
     "graph.connected_components"),
    (f"{PKG}.lineage", "cut_lineage", "lineage.cut_lineage"),
    (f"{PKG}.operators.kmeans", "kmeans_fit_int", "kmeans.kmeans_fit_int"),
    (f"{PKG}.operators.kmeans", "pq_fit_int", "kmeans.pq_fit_int"),
]


class Tracer:
    """Spans with job groups.  ``enabled=False`` makes every span a no-op,
    which is what the untraced passes run with."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.tag = ""
        self.stack: list[str] = []
        self.seconds: Counter = Counter()
        self.calls: Counter = Counter()
        self.nested: Counter = Counter()  # (enclosing span, span) -> calls
        # calls of the spans in ``capture``, kept for inspection after the
        # pass: (span, enclosing spans, positional args, result)
        self.capture: set[str] = set()
        self.captured: list[tuple[str, tuple, tuple, object]] = []

    def begin_pass(self, tag: str) -> None:
        self.tag = tag
        self.stack.clear()
        self.seconds.clear()
        self.calls.clear()
        self.nested.clear()
        self.captured.clear()
        self._set_group()

    def end_pass(self) -> None:
        self.tag = ""
        self._set_group()

    def _set_group(self) -> None:
        if self.enabled and self.tag:
            self.sc.setJobGroup(f"{self.tag}|{'/'.join(self.stack)}", "perfbench")
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)

    @contextlib.contextmanager
    def span(self, name: str):
        if not (self.enabled and self.tag):
            yield
            return
        self.stack.append(name)
        self._set_group()
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.seconds[name] += time.perf_counter() - t0
            self.calls[name] += 1
            self.stack.pop()
            self.nested[(self.stack[-1] if self.stack else "", name)] += 1
            self._set_group()

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            outer = tuple(self.stack)
            with self.span(name):
                out = fn(*args, **kwargs)
            if self.enabled and self.tag and name in self.capture:
                self.captured.append((name, outer, args, out))
            return out

        return wrapper

    @contextlib.contextmanager
    def installed(self):
        """Patch every binding of the ``TARGETS`` for the duration."""
        patched = []
        for mod_name, attr, span in TARGETS:
            orig = getattr(importlib.import_module(mod_name), attr)
            wrapped = self.wrap(span, orig)
            for mod in list(sys.modules.values()):
                ns = getattr(mod, "__dict__", None)
                if ns is not None and ns.get(attr) is orig:
                    ns[attr] = wrapped
                    patched.append((ns, attr, orig))
        try:
            yield
        finally:
            for ns, attr, orig in patched:
                ns[attr] = orig


def read_event_log(log_dir: str) -> dict:
    """Jobs, stages and tasks from the (single, uncompressed) event log."""
    files = glob.glob(os.path.join(log_dir, "*"))
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stages_done: list[int] = []
    tasks: list[dict] = []
    with open(files[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                props = ev.get("Properties") or {}
                jobs[jid] = {
                    "start": ev["Submission Time"] / 1000.0,
                    "end": None,
                    "group": props.get("spark.jobGroup.id"),
                }
                for sid in ev["Stage IDs"]:
                    stage_job.setdefault(sid, jid)
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerStageCompleted":
                stages_done.append(ev["Stage Info"]["Stage ID"])
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                tasks.append({
                    "stage": ev["Stage ID"],
                    "ok": ev["Task End Reason"]["Reason"] == "Success",
                    "run_s": m.get("Executor Run Time", 0) / 1e3,
                    "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                    "gc_s": m.get("JVM GC Time", 0) / 1e3,
                    "sw_b": sw.get("Shuffle Bytes Written", 0),
                    "sr_b": sr.get("Remote Bytes Read", 0)
                    + sr.get("Local Bytes Read", 0),
                    "spill_b": m.get("Disk Bytes Spilled", 0),
                    "in_b": (m.get("Input Metrics") or {}).get("Bytes Read", 0),
                })
    return {"jobs": jobs, "stage_job": stage_job,
            "stages_done": stages_done, "tasks": tasks}


def _union_seconds(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def pass_stats(log: dict, tag: str, t0: float, t1: float) -> dict[str, float]:
    """Spark-side numbers of one traced pass ``[t0, t1]`` (epoch seconds).

    A job belongs to the pass when it carries the pass's group, or when it
    carries no benchmark group and was submitted inside the window (then it
    also counts as unattributed)."""
    prefix = f"{tag}|"
    mine: dict[int, str] = {}
    unattributed = 0
    for jid, j in log["jobs"].items():
        g = j["group"] or ""
        if g.startswith(prefix):
            mine[jid] = g[len(prefix):]
        elif "|" not in g and t0 <= j["start"] <= t1:
            mine[jid] = ""
            unattributed += 1
    per_job = defaultdict(lambda: Counter())
    for t in log["tasks"]:
        jid = log["stage_job"].get(t["stage"])
        if jid in mine:
            c = per_job[jid]
            c["tasks"] += 1
            c["failed_tasks"] += not t["ok"]
            for k in ("run_s", "cpu_s", "gc_s", "sw_b", "sr_b", "spill_b", "in_b"):
                c[k] += t[k]
    stages = sum(1 for s in log["stages_done"] if log["stage_job"].get(s) in mine)
    tot = Counter()
    for c in per_job.values():
        tot.update(c)
    busy = _union_seconds([
        (max(t0, log["jobs"][j]["start"]), min(t1, log["jobs"][j]["end"] or t1))
        for j in mine
    ])
    mb = 1 / (1024 * 1024)

    def jobs_in(span_prefix: str) -> list[int]:
        return [j for j, path in mine.items()
                if any(p.startswith(span_prefix) for p in path.split("/"))]

    kmeans_jobs = jobs_in("kmeans.")
    return {
        "spark.jobs": len(mine),
        "spark.stages": stages,
        "spark.tasks": tot["tasks"],
        "spark.jobs_unattributed": unattributed,
        "spark.driver_gap_s": max(0.0, (t1 - t0) - busy),
        "spark.task_run_s": tot["run_s"],
        "spark.task_cpu_s": tot["cpu_s"],
        "spark.gc_s": tot["gc_s"],
        "spark.shuffle_write_mb": tot["sw_b"] * mb,
        "spark.shuffle_read_mb": tot["sr_b"] * mb,
        "spark.spill_mb": tot["spill_b"] * mb,
        "spark.input_mb": tot["in_b"] * mb,
        "spark.failed_tasks": tot["failed_tasks"],
        "dedup.minhash_lsh_dup_clusters.jobs": len(
            jobs_in("dedup.minhash_lsh_dup_clusters")),
        "graph.connected_components.jobs": len(
            jobs_in("graph.connected_components")),
        "kmeans.jobs": len(kmeans_jobs),
        "kmeans.shuffle_write_mb": sum(per_job[j]["sw_b"] for j in kmeans_jobs) * mb,
    }
