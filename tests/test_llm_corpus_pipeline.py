"""In-process run of the flagship corpus pipeline
(examples/llm_corpus_pipeline.py) on the shared session: the exact
funnel at sf0.001, and a ceiling on the Spark jobs one run launches, so
an edit that drops a stage pin (and with it re-runs the upstream chain
at every funnel count) fails here and not only on the benchmark."""

from __future__ import annotations

import importlib.util
import os

import pytest

from java_etl_bi_generator_spark.lineage import checkpoint_dir

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

FUNNEL_SF0001 = {
    "ingest_parquet": 500,
    "ingest_rawfiles": 16,
    "after_union_dedup": 500,
    "after_lang_id": 500,
    "after_gopher_gates": 356,
    "after_exact_dedup": 356,
    "after_near_dedup": 280,
    "after_decontamination": 277,
    "after_dsir_selection": 137,
    "packed_rows": 137,
    "packed_bins": 19,
}

# Jobs of one run() at sf0.001 on the local[8] / 8-partition test
# session with every counted stage pinned: 105 through localCheckpoint,
# 117 through reliable checkpoint() (once an earlier test has set a
# checkpoint dir on the shared session, each cut adds a job that writes
# its files).  Dropping the union, exact-dedup, near-dedup,
# decontamination or DSIR pin adds 1-19 jobs on either path; the Gopher
# pin saves re-tokenization rather than jobs, so the lazy-pin count
# below guards it.
JOB_CEILING = {"local": 105, "reliable": 117}
LAZY_PINS = 6  # union, Gopher, exact, near, decontamination, DSIR


@pytest.fixture(scope="module")
def pipeline():
    path = os.path.join(REPO, "examples", "llm_corpus_pipeline.py")
    spec = importlib.util.spec_from_file_location("llm_corpus_pipeline", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_funnel_and_job_ceiling(spark, sf_dir, pipeline, tmp_path, monkeypatch):
    if os.path.basename(os.path.normpath(sf_dir)) != "sf0.001":
        pytest.skip("the pinned funnel is the sf0.001 one")
    lazy = []
    cut = pipeline.cut_lineage

    def counting_cut(df, eager=True):
        if not eager:
            lazy.append(df)
        return cut(df, eager=eager)

    monkeypatch.setattr(pipeline, "cut_lineage", counting_cut)
    sc = spark.sparkContext
    group = "test_llm_corpus_pipeline"
    sc.setJobGroup(group, "one llm_corpus_pipeline.run()")
    try:
        funnel = pipeline.run(spark, sf_dir, str(tmp_path))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert funnel == FUNNEL_SF0001
    assert len(lazy) == LAZY_PINS
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    path = "local" if checkpoint_dir(spark) is None else "reliable"
    assert 0 < len(jobs) <= JOB_CEILING[path], (path, len(jobs))
    # the raw side channel is a visible directory, not a hidden "_" one
    assert sorted(os.listdir(tmp_path)) == ["packed", "raw_drop"]
