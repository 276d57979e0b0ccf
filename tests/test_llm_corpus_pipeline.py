"""In-process run of the flagship corpus pipeline
(examples/llm_corpus_pipeline.py) on the shared session: the exact
funnel and printed mixing/temperature reports at sf0.001, and a ceiling
on the Spark jobs one run launches, so an edit that drops a stage pin
(and with it re-runs the upstream chain at every funnel count) fails
here and not only on the benchmark."""

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

# The two print-only reports, byte for byte, as the pipeline printed
# them at sf0.001 before their rules moved to operators/curation.py.
REPORTS_SF0001 = """
domain mixing weights:
  src0             docs=12       tokens=853        w=1.0000
  src1             docs=13       tokens=851        w=1.0000
  src10            docs=14       tokens=1001       w=0.9208
  src11            docs=13       tokens=861        w=1.0000
  src12            docs=14       tokens=937        w=0.9837
  src13            docs=10       tokens=648        w=1.0000
  src14            docs=17       tokens=1317       w=0.6999
  src15            docs=15       tokens=911        w=1.0000
  src16            docs=13       tokens=878        w=1.0000
  src17            docs=9        tokens=655        w=1.0000
  src18            docs=14       tokens=827        w=1.0000
  src19            docs=15       tokens=928        w=0.9933
  src2             docs=11       tokens=757        w=1.0000
  src3             docs=18       tokens=1256       w=0.7339
  src4             docs=13       tokens=800        w=1.0000
  src5             docs=16       tokens=902        w=1.0000
  src6             docs=16       tokens=981        w=0.9396
  src7             docs=12       tokens=809        w=1.0000
  src8             docs=18       tokens=1338       w=0.6889
  src9             docs=14       tokens=925        w=0.9965

language temperature sampling (alpha=0.7):
  de     tokens=1257       p=0.1405 q=0.1587 boost=1.130
  en     tokens=3296       p=0.3683 q=0.3117 boost=0.846
  es     tokens=1440       p=0.1609 q=0.1746 boost=1.085
  fr     tokens=1287       p=0.1438 q=0.1614 boost=1.122
  zh     tokens=1669       p=0.1865 q=0.1936 boost=1.038
"""

# Jobs of one cold run() at sf0.001 on the local[8] / 8-partition test
# session with every counted stage pinned: 64 through localCheckpoint,
# 70 through reliable checkpoint() (once an earlier test has set a
# checkpoint dir on the shared session, each cut adds a job that writes
# its files).  Dropping the union, exact-dedup, near-dedup,
# decontamination or DSIR pin adds 1-19 jobs on either path; the Gopher
# pin saves re-tokenization rather than jobs, so the lazy-pin count
# below guards it.
JOB_CEILING = {"local": 64, "reliable": 70}
LAZY_PINS = 6  # union, Gopher, exact, near, decontamination, DSIR


@pytest.fixture(scope="module")
def pipeline():
    path = os.path.join(REPO, "examples", "llm_corpus_pipeline.py")
    spec = importlib.util.spec_from_file_location("llm_corpus_pipeline", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_funnel_and_job_ceiling(
    spark, sf_dir, pipeline, tmp_path, monkeypatch, job_ids, capsys
):
    if os.path.basename(os.path.normpath(sf_dir)) != "sf0.001":
        pytest.skip("the pinned funnel is the sf0.001 one")
    lazy = []
    cut = pipeline.cut_lineage

    def counting_cut(df, eager=True):
        if not eager:
            lazy.append(df)
        return cut(df, eager=eager)

    monkeypatch.setattr(pipeline, "cut_lineage", counting_cut)
    jobs, funnel = job_ids(lambda: pipeline.run(spark, sf_dir, str(tmp_path)))
    assert funnel == FUNNEL_SF0001
    assert REPORTS_SF0001 in capsys.readouterr().out
    assert len(lazy) == LAZY_PINS
    path = "local" if checkpoint_dir(spark) is None else "reliable"
    assert 0 < len(jobs) <= JOB_CEILING[path], (path, len(jobs))
    # the raw side channel is a visible directory, not a hidden "_" one
    assert sorted(os.listdir(tmp_path)) == ["packed", "raw_drop"]
