"""Star-schema toolkit — the reference's entire pipeline
(``FullETLGenerator.java``) as three composable, distributed functions plus
the full SIGA pipeline assembled from them.

Reference mapping (file:line cites into /root/reference):

- ``build_dimension``       : passo1's per-dim HashMap discovery
  (FullETLGenerator.java:78-112) — composite-key dedup + dense int
  surrogate ids.  **Documented deviation**: the reference numbers ids in
  first-seen *file order* (:72-74, :88); file order is not stable after a
  shuffle, so ids are assigned by ``row_number() OVER (ORDER BY natural
  key)`` — deterministic and join-consistent (the fact side joins on the
  same natural key, so FK integrity is unaffected).
- ``dedup_first_row``       : dim_empreendimento's first-row-per-CodCEG cache
  (:30, :114-122), tie-broken deterministically.
- ``build_calendar_dim``    : gerarDimTempo's day loop (:182-204) as
  ``sequence()`` + ``explode`` — one stage, no shuffle, no driver loop.
- ``build_fact``            : passo2's hand-rolled broadcast hash left joins
  with ``-1`` for misses (:140-180, join probes at :153-159).

Scale posture: a dimension of at most ``DRIVER_DIM_LIMIT`` distinct keys
is numbered on the driver from one bounded, Spark-sorted collect and
comes back as a local relation, so writing it or broadcasting it into
the fact re-runs nothing.  SIGA's three keyed dims (tens to thousands of
rows) take that path, and ``dim_tempo``'s date bounds ride along
dim_geracao's collect.  The collect takes the top ``DRIVER_DIM_LIMIT +
1`` keys on the executors, so whatever the key count the driver receives
at most that many rows.  A larger dimension gets its ids from the
distributed two-phase rank (``operators.rank.global_rank``), with no
single-partition window anywhere, so even a data-grain natural-key
dimension builds at any cardinality; it pays the probe (one more
distinct of the keys) first.  Fact-side joins broadcast the dims
(the reference's HashMaps, done right).  The source is scanned once and
reused; the reference scans the file twice (:61, :142).
"""

from __future__ import annotations

from dataclasses import dataclass, field

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql.types import IntegerType, StructField, StructType

from ..functions.dates import (
    date_key,
    dow_name_ptbr,
    month_name_ptbr,
    parse_date_lenient,
    quarter_label,
)
from ..functions.locale_ptbr import (
    format_ptbr_decimal,
    null_or_empty_default,
    parse_ptbr_decimal,
)
from .bounded import collect_at_most, local_frame
from .rank import global_rank

# Most distinct keys build_dimension numbers on the driver.  A dimension
# this small is shipped back in the plan and broadcast into every fact
# join, as the reference's in-heap HashMaps are.  Measured with
# scripts/dim_limit_probe.py (SCALING.md): past about 10k keys the driver
# path is slower than global_rank.
DRIVER_DIM_LIMIT = 10_000


def _number_keys(
    df: DataFrame, key_cols: list[str], id_col: str, *aggs: Column
) -> tuple[DataFrame, list | None]:
    """``build_dimension``, plus the collected key rows (each carrying
    ``aggs`` computed over its key) when the driver numbered them, else
    None."""
    order = [F.col(c).asc_nulls_first() for c in key_cols]
    if aggs:
        keys = df.groupBy(*key_cols).agg(*aggs)
    else:
        keys = df.select(*key_cols).distinct()
    rows = collect_at_most(keys, DRIVER_DIM_LIMIT, order)
    if rows is None:
        ranked = global_rank(keys.select(*key_cols), order, rank_col=id_col)
        dim = ranked.select(F.col(id_col).cast("int").alias(id_col), *key_cols)
        return dim, None
    schema = StructType(
        [StructField(id_col, IntegerType(), False)]
        + [df.schema[c] for c in key_cols]
    )
    columns = {id_col: list(range(1, len(rows) + 1))}
    columns.update({c: [r[c] for r in rows] for c in key_cols})
    # one partition, so a written dimension stays one part file
    return local_frame(df.sparkSession, columns, schema).coalesce(1), rows


def build_dimension(
    df: DataFrame, key_cols: list[str], id_col: str
) -> DataFrame:
    """Distinct composite keys + dense surrogate ids 1..N, bit-identical
    to ``row_number() OVER (ORDER BY key)`` (keys ascending, nulls
    first).

    Up to ``DRIVER_DIM_LIMIT`` distinct keys, Spark sorts them in one
    bounded collect (at most ``DRIVER_DIM_LIMIT + 1`` rows reach the
    driver) and the id is each key's 1-based position in that order;
    the dimension comes back as a local relation, which launches no job
    when it is written or broadcast.  Above the limit, ids come
    from the DISTRIBUTED two-phase rank (``operators.rank.global_rank``:
    range-partition on the key, rank in parallel, broadcast prefix
    offsets), with no single-partition window, so a natural-key
    dimension at data grain (one row per entity, dim_empreendimento-
    shaped) builds at any cardinality.
    """
    return _number_keys(df, key_cols, id_col)[0]


def dedup_first_row(
    df: DataFrame, key_cols: list[str], order_cols: list[str] | None = None
) -> DataFrame:
    """Keep one row per natural key (reference: first file occurrence;
    here: deterministic min over ``order_cols``, defaulting to all other
    columns).  Single shuffle on the key; no global sort."""
    if order_cols is None:
        order_cols = [c for c in df.columns if c not in key_cols]
    w = Window.partitionBy(*key_cols).orderBy(
        *[F.col(c).asc_nulls_first() for c in order_cols]
    )
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def build_calendar_dim_from_bounds(bounds: DataFrame) -> DataFrame:
    """Calendar dimension from a 1-row ``(d0 date, d1 date)`` bounds
    DataFrame — typically a min/max aggregate of the source — WITHOUT a
    driver round-trip: the aggregate flows straight into
    ``sequence``+``explode``, so the whole thing is one Spark job instead
    of collect-bounds-then-launch-again."""
    days = bounds.select(
        F.explode(
            F.sequence("d0", "d1", F.expr("interval 1 day"))
        ).alias("DataCompleta")
    )
    d = F.col("DataCompleta")
    return days.select(
        date_key(d).alias("ChaveData"),
        F.date_format(d, "yyyy-MM-dd").alias("DataCompleta"),
        F.year(d).alias("Ano"),
        F.month(d).alias("MesNumero"),
        month_name_ptbr(d).alias("NomeMes"),
        F.dayofmonth(d).alias("Dia"),
        dow_name_ptbr(d).alias("DiaDaSemana"),
        quarter_label(d).alias("Trimestre"),
    )


def build_calendar_dim(
    spark: SparkSession, min_date: Column | str, max_date: Column | str
) -> DataFrame:
    """One row per day, min..max inclusive, with the reference's 8 derived
    attributes (gerarDimTempo, FullETLGenerator.java:182-204).

    ``sequence`` + ``explode`` generates rows executor-side in one stage —
    a century of days is ~36k rows, so this is never the bottleneck.
    """
    bounds = spark.range(1).select(
        F.lit(min_date).cast("date").alias("d0"),
        F.lit(max_date).cast("date").alias("d1"),
    )
    return build_calendar_dim_from_bounds(bounds)


@dataclass
class DimSpec:
    """One dimension to join into the fact: natural-key cols -> id col."""

    dim: DataFrame
    key_cols: list[str]
    id_col: str
    missing_id: int = -1


def build_fact(
    src: DataFrame,
    dims: list[DimSpec],
    passthrough: list[Column] = (),
) -> DataFrame:
    """Left-join each dim on its natural key (broadcast — the dims are the
    reference's in-heap HashMaps), substitute ``missing_id`` for misses
    (reference ``-1``, FullETLGenerator.java:168-170)."""
    fact = src
    id_cols = []
    for spec in dims:
        fact = fact.join(F.broadcast(spec.dim), on=spec.key_cols, how="left")
        id_cols.append(
            F.coalesce(F.col(spec.id_col), F.lit(spec.missing_id)).alias(spec.id_col)
        )
    return fact.select(*id_cols, *passthrough)


# ---------------------------------------------------------------------------
# The full reference pipeline over a SIGA-shaped source table.
# ---------------------------------------------------------------------------

@dataclass
class SigaOutputs:
    dim_geracao: DataFrame
    dim_status: DataFrame
    dim_localizacao: DataFrame
    dim_empreendimento: DataFrame
    dim_tempo: DataFrame | None
    fato_geracao: DataFrame


def siga_pipeline(spark: SparkSession, src: DataFrame) -> SigaOutputs:
    """The whole of FullETLGenerator.java, Spark-first, one source scan.

    Output schemas match SURVEY.md §1.4 verbatim (including the source
    data's own column-name typos).
    """
    src = src.cache()  # reference scans the CSV twice (:61, :142); we don't

    # the date bounds ride along dim_geracao's key collect: per-key
    # min/max, finished on the driver (exact: dates compare exactly)
    parsed_date = parse_date_lenient("DatEntradaOperacao")
    bounds = (F.min(parsed_date).alias("d0"), F.max(parsed_date).alias("d1"))
    dim_geracao, key_rows = _number_keys(
        src, ["SigTipoGeracao", "DscOrigemCombustivel", "DscFonteCombustivel"],
        "ID_Geracao", *bounds,
    )
    if key_rows is None:
        key_rows = src.select(*bounds).collect()
    d0 = min((r["d0"] for r in key_rows if r["d0"] is not None), default=None)
    d1 = max((r["d1"] for r in key_rows if r["d1"] is not None), default=None)
    dim_tempo = None if d0 is None else build_calendar_dim(spark, d0, d1)
    dim_status_src = src.select(
        "DscFaseUsina", "DscTipoOutorga",
        null_or_empty_default("IdcGeracaoQualificada").alias("IdcGeracaoQualificada"),
    )
    dim_status = build_dimension(
        dim_status_src, ["DscFaseUsina", "DscTipoOutorga", "IdcGeracaoQualificada"],
        "ID_Status",
    )
    dim_localizacao = build_dimension(
        src, ["SigUFPrincipal", "DscMuninicpios"], "ID_Localizacao"
    )
    dim_empreendimento = dedup_first_row(
        src.select("CodCEG", "NomEmpreendimento", "DscPropriRegimePariticipacao"),
        ["CodCEG"],
    )

    fato = build_fact(
        src.withColumn(
            "IdcGeracaoQualificada",
            null_or_empty_default("IdcGeracaoQualificada"),
        ),
        [
            DimSpec(dim_geracao,
                    ["SigTipoGeracao", "DscOrigemCombustivel", "DscFonteCombustivel"],
                    "ID_Geracao"),
            DimSpec(dim_status,
                    ["DscFaseUsina", "DscTipoOutorga", "IdcGeracaoQualificada"],
                    "ID_Status"),
            DimSpec(dim_localizacao, ["SigUFPrincipal", "DscMuninicpios"],
                    "ID_Localizacao"),
        ],
        passthrough=[
            F.col("CodCEG"),
            F.coalesce(
                date_key(parse_date_lenient("DatEntradaOperacao")), F.lit(0)
            ).alias("FK_DataOperacao"),
            format_ptbr_decimal(
                parse_ptbr_decimal("MdaPotenciaOutorgadaKw")
            ).alias("MdaPotenciaOutorgadaKw"),
            format_ptbr_decimal(
                parse_ptbr_decimal("MdaPotenciaFiscalizadaKw")
            ).alias("MdaPotenciaFiscalizadaKw"),
            format_ptbr_decimal(
                parse_ptbr_decimal("MdaGarantiaFisicaKw")
            ).alias("MdaGarantiaFisicaKw"),
            F.lit(1).alias("QtdEmpreendimentos"),
        ],
    )
    return SigaOutputs(
        dim_geracao, dim_status, dim_localizacao, dim_empreendimento,
        dim_tempo, fato,
    )
