"""Golden-output test of the full reference pipeline (SURVEY.md §5.2(2)):
a synthetic SIGA-shaped fixture through ``siga_pipeline``, asserting the
star-schema quirk semantics — dense ids from 1, first-wins dedup, ``-1``
missing FKs, ``0`` missing date keys, ``"N/A"`` defaults, comma-decimal
2-dp measures, calendar min..max inclusive.

Every assertion runs on both sides of ``star.DRIVER_DIM_LIMIT``: the
dims numbered on the driver (the fixture's size) and, with the limit
patched to 0, the distributed ``global_rank`` path."""

from __future__ import annotations

import os

import pytest

from java_etl_bi_generator_spark.operators import star
from java_etl_bi_generator_spark.operators.star import siga_pipeline
from java_etl_bi_generator_spark.sources.csv_ref import write_reference_csv

ROWS = [
    # CodCEG, Nome, TipoGer, Origem, Fonte, Fase, Outorga, Qualif, UF, Mun,
    # DataOp, PotOut, PotFisc, GarFis, Regime
    ("CEG.1", "Usina São João", "UHE", "Hídrica", "Potencial hidráulico",
     "Operação", "Concessão", "Sim", "MG", "Três Marias",
     "2001-03-15", "1.234,56", "1.200,00", "980,5", "100% X (REG)"),
    ("CEG.2", "Parque Eólico Ventania", "EOL", "Eólica", "Cinética do vento",
     "Operação", "Autorização", "", "RS", "Osório",
     "2014-07-01 00:00:00", "30000", "29.500,25", "", "100% Y (PIE)"),
    # duplicate CodCEG — first wins for dim_empreendimento
    ("CEG.1", "Usina São João II", "UHE", "Hídrica", "Potencial hidráulico",
     "Construção", "Concessão", "Não", "MG", "Três Marias",
     "bad-date", "0,5", "", "abc", "50% X (REG)"),
]

COLS = (
    "CodCEG NomEmpreendimento SigTipoGeracao DscOrigemCombustivel "
    "DscFonteCombustivel DscFaseUsina DscTipoOutorga IdcGeracaoQualificada "
    "SigUFPrincipal DscMuninicpios DatEntradaOperacao MdaPotenciaOutorgadaKw "
    "MdaPotenciaFiscalizadaKw MdaGarantiaFisicaKw DscPropriRegimePariticipacao"
).split()


TABLES = ("dim_geracao", "dim_status", "dim_localizacao",
          "dim_empreendimento", "dim_tempo", "fato_geracao")
KEYED_DIMS = ("dim_geracao", "dim_status", "dim_localizacao")

# Spark jobs of siga_pipeline plus its six writes on this fixture; the
# driver-numbered dims launch 17 where the global_rank dims launched 46
SIGA_JOB_CEILING = 17


def _siga(spark, dim_limit: int | None = None):
    with pytest.MonkeyPatch.context() as mp:
        if dim_limit is not None:
            mp.setattr(star, "DRIVER_DIM_LIMIT", dim_limit)
        return siga_pipeline(spark, spark.createDataFrame(ROWS, COLS))


@pytest.fixture(scope="module")
def outputs(spark):
    return _siga(spark)


@pytest.fixture(scope="module")
def distributed_outputs(spark):
    return _siga(spark, 0)


def _rows(outputs, table):
    return sorted(map(tuple, getattr(outputs, table).collect()))


def test_both_sides_of_the_dim_limit_agree(outputs, distributed_outputs):
    driver, distributed = outputs, distributed_outputs
    for t in TABLES:
        assert _rows(driver, t) == _rows(distributed, t), t
    for t in KEYED_DIMS:
        plan = getattr(driver, t)._jdf.queryExecution().executedPlan().toString()
        assert "LocalTableScan" in plan and "Window" not in plan, t
        plan = getattr(distributed, t)._jdf.queryExecution().executedPlan().toString()
        assert "__pid" in plan, t


def test_siga_pass_job_ceiling(spark, tmp_path, count_jobs):
    """The whole reference program on the fixture, writes included,
    stays within SIGA_JOB_CEILING jobs, and each keyed dim is written
    as one part file."""

    def run():
        out = _siga(spark)
        for t in TABLES:
            write_reference_csv(getattr(out, t), str(tmp_path / t))

    jobs, _ = count_jobs(run)
    assert 0 < jobs <= SIGA_JOB_CEILING
    for t in KEYED_DIMS:
        parts = [f for f in os.listdir(tmp_path / t) if f.startswith("part-")]
        assert len(parts) == 1, (t, parts)


def test_dim_geracao_dense_ids(outputs):
    rows = {
        (r["SigTipoGeracao"], r["ID_Geracao"])
        for r in outputs.dim_geracao.collect()
    }
    assert rows == {("EOL", 1), ("UHE", 2)}  # ordered by natural key


def test_dim_status_na_default(outputs):
    vals = {r["IdcGeracaoQualificada"] for r in outputs.dim_status.collect()}
    assert "N/A" in vals and "" not in vals  # FullETLGenerator.java:206-209


def test_dim_empreendimento_first_wins(outputs):
    rows = {r["CodCEG"]: r["NomEmpreendimento"]
            for r in outputs.dim_empreendimento.collect()}
    assert len(rows) == 2
    assert rows["CEG.1"] == "Usina São João"  # deterministic winner


def test_dim_tempo_inclusive_no_gaps(outputs):
    days = outputs.dim_tempo.collect()
    assert days[0] is not None
    keys = sorted(r["ChaveData"] for r in days)
    assert keys[0] == 20010315 and keys[-1] == 20140701
    # inclusive day count, no gaps/dups
    import datetime

    n = (datetime.date(2014, 7, 1) - datetime.date(2001, 3, 15)).days + 1
    assert len(days) == len(set(keys)) == n
    by_key = {r["ChaveData"]: r for r in days}
    assert by_key[20010315]["Trimestre"] == "T1"
    assert by_key[20010315]["NomeMes"] == "março"


def test_fact_quirks(outputs):
    facts = outputs.fato_geracao.collect()
    assert len(facts) == 3  # grain = 1 row per source row
    by_pot = {r["MdaPotenciaOutorgadaKw"]: r for r in facts}
    assert set(by_pot) == {"1234,56", "30000,00", "0,50"}  # comma 2-dp
    bad = by_pot["0,50"]
    assert bad["FK_DataOperacao"] == 0        # unparseable date -> 0 (:252)
    assert bad["MdaGarantiaFisicaKw"] == "0,00"  # malformed -> 0.0 (:236-238)
    assert all(r["QtdEmpreendimentos"] == 1 for r in facts)
    assert all(r["ID_Geracao"] > 0 for r in facts)  # all keys resolve here


def test_fact_missing_dim_is_minus_one(spark, outputs):
    """A fact row whose key misses the dim gets -1 (FullETLGenerator.java:168-170)."""
    from java_etl_bi_generator_spark.operators.star import DimSpec, build_fact
    import pyspark.sql.functions as F

    src = spark.createDataFrame([("X",), ("Y",)], ["k"])
    dim = spark.createDataFrame([(1, "X")], ["dim_id", "k"])
    out = build_fact(src, [DimSpec(dim, ["k"], "dim_id")],
                     passthrough=[F.col("k")])
    got = {r["k"]: r["dim_id"] for r in out.collect()}
    assert got == {"X": 1, "Y": -1}


def test_every_assertion_holds_on_the_distributed_side(distributed_outputs):
    for check in (
        test_dim_geracao_dense_ids,
        test_dim_status_na_default,
        test_dim_empreendimento_first_wins,
        test_dim_tempo_inclusive_no_gaps,
        test_fact_quirks,
    ):
        check(distributed_outputs)
