"""Seeded input generators, one per workload.

Every input the engine sees is written here from ``numpy`` draws keyed on
the workload seed, so one seed always gives byte-identical files.  The
shapes follow the repository's fixture tables (same schemas, value pools
and distributions) so every registry query and its DuckDB oracle run on
them unchanged.  The generators run before the benchmark starts its clock
and return what they know about their output (row counts, expected
dimension cardinalities) for the output checks.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_EPOCH = dt.date(1970, 1, 1)


def _days(d: dt.date) -> int:
    return (d - _EPOCH).days


def _day_ts(rng: np.random.Generator, lo: dt.date, hi: dt.date, n: int) -> pa.Array:
    """Midnight timestamps (naive, microseconds) uniform over [lo, hi]."""
    days = rng.integers(_days(lo), _days(hi) + 1, n).astype(np.int64)
    return pa.array(days * 86_400_000_000, pa.timestamp("us"))


def _cents(rng: np.random.Generator, lo: int, hi: int, n: int) -> np.ndarray:
    """2-decimal doubles in [lo, hi) cents; ``/100.0`` rounds like the
    decimal literal, as in the fixture's parquet."""
    return rng.integers(lo, hi, n) / 100.0


def _pick(rng: np.random.Generator, pool: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(pool, dtype=object)[rng.integers(0, len(pool), n)])


def _write(out_dir: str, name: str, cols: dict) -> int:
    table = pa.table(cols)
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return table.num_rows


# ---------------------------------------------------------------------------
# Star schema + events (bi_queries)
# ---------------------------------------------------------------------------

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["MACHINERY", "HOUSEHOLD", "BUILDING", "FURNITURE", "AUTOMOBILE"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_TYPES = ["ECONOMY", "STANDARD", "PROMO", "LARGE", "SMALL", "MEDIUM"]
_ADJ = ["small", "red", "blue", "hot", "large", "old", "green", "dark"]
_NOUN = ["ring", "widget", "bolt", "plate", "rod", "gear", "cog", "valve"]
_EVENT_TYPES = ["view", "click", "signup", "purchase", "error"]


def star(out_dir: str, seed: int, orders: int) -> dict[str, int]:
    """TPC-H-shaped star at ``orders`` orders (4 lines each, as in the
    fixture) plus an ``events`` table of 2/3 as many rows; sf0.1 is
    ``orders=150_000``.  Returns rows per table."""
    rng = np.random.default_rng([seed, 1])
    n_cust, n_part, n_supp = orders // 10, orders * 2 // 15, orders // 150
    n_line, n_ev = orders * 4, orders * 2 // 3
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    rows["region"] = _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _REGIONS,
    })
    rows["nation"] = _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    rows["customer"] = _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _cents(rng, -99_999, 1_000_000, n_cust),
        "c_mktsegment": _pick(rng, _SEGMENTS, n_cust),
    })
    rows["supplier"] = _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _cents(rng, -99_999, 1_000_000, n_supp),
    })
    names = [f"{a} {b}" for a in _ADJ for b in _NOUN]
    rows["part"] = _write(out_dir, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": _pick(rng, names, n_part),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": _pick(rng, _TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": (90_000 + np.arange(n_part) % 1000 * 10) / 100.0,
    })
    rows["orders"] = _write(out_dir, "orders", {
        "o_orderkey": np.arange(orders, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, orders),
        "o_orderstatus": _pick(rng, ["O", "F", "P"], orders),
        "o_totalprice": _cents(rng, 100_000, 50_000_000, orders),
        "o_orderdate": _day_ts(rng, dt.date(1995, 1, 1), dt.date(2001, 8, 1), orders),
        "o_orderpriority": _pick(rng, _PRIORITIES, orders),
    })
    rows["lineitem"] = _write(out_dir, "lineitem", {
        "l_orderkey": rng.integers(0, orders, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _cents(rng, 90_000, 10_500_000, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(rng, ["O", "F"], n_line),
        "l_shipdate": _day_ts(rng, dt.date(1995, 1, 2), dt.date(2001, 11, 4), n_line),
    })
    # events: one stream over 30 days from 2024-01-01, ts ascending with
    # event_id, heavy-tailed 2-decimal values, as in the fixture
    start_us = _days(dt.date(2024, 1, 1)) * 86_400_000_000
    ts = np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev)) + start_us
    rows["events"] = _write(out_dir, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, max(150, n_ev // 66), n_ev),
        "event_type": _pick(rng, _EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev) * 100) / 100.0,
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
    })
    return rows


# ---------------------------------------------------------------------------
# Documents (corpus_curation)
# ---------------------------------------------------------------------------

# The fixture's 30-word vocabulary; "a" and "the" are its only English
# stopwords, which is what lets docs pass the pipeline's stopword gate.
_VOCAB = [
    "spark", "window", "merge", "table", "column", "vector", "stream",
    "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "row",
    "the", "agg", "key", "query", "a", "scan", "batch",
]
_LANGS = ["en", "zh", "es", "fr", "de"]
_LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]


def documents(out_dir: str, seed: int, n: int) -> int:
    """``n`` docs shaped like the fixture corpus: 10-100 uniform words,
    source ``src{id % 20}``, ~5% near-duplicates (an earlier doc plus the
    word "dup") and ~0.2% exact copies.  Returns the row count."""
    rng = np.random.default_rng([seed, 2])
    vocab = np.asarray(_VOCAB, dtype=object)
    texts: list[str] = []
    roll = rng.random(n)
    for i in range(n):
        if i >= 20 and roll[i] < 0.05:
            texts.append(texts[rng.integers(0, i)] + " dup")
        elif i >= 20 and roll[i] < 0.052:
            texts.append(texts[rng.integers(0, i)])
        else:
            texts.append(" ".join(vocab[rng.integers(0, 30, rng.integers(10, 101))]))
    os.makedirs(out_dir, exist_ok=True)
    return _write(out_dir, "documents", {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": pa.array(np.asarray(_LANGS, dtype=object)[rng.choice(5, n, p=_LANG_P)]),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.asarray([len(t) for t in texts], dtype=np.int64),
    })


# ---------------------------------------------------------------------------
# Embeddings (ann_index)
# ---------------------------------------------------------------------------

def embeddings(out_dir: str, seed: int, n: int, dim: int = 64) -> int:
    """``n`` unit-norm float32 vectors around 10 planted centroids, as in
    the fixture (label = planted cluster).  Returns the row count."""
    rng = np.random.default_rng([seed, 3])
    cent = rng.normal(0.0, 1.0, (10, dim))
    label = rng.integers(0, 10, n)
    v = cent[label] + rng.normal(0.0, 0.6, (n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    os.makedirs(out_dir, exist_ok=True)
    return _write(out_dir, "embeddings", {
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(v.ravel(), pa.float32()), dim
        ).cast(pa.list_(pa.float32())),
        "label": label.astype(np.int32),
    })


# ---------------------------------------------------------------------------
# SIGA CSV (siga_etl)
# ---------------------------------------------------------------------------

SIGA_COLUMNS = [
    "CodCEG", "NomEmpreendimento", "SigTipoGeracao", "DscOrigemCombustivel",
    "DscFonteCombustivel", "DscFaseUsina", "DscTipoOutorga",
    "IdcGeracaoQualificada", "SigUFPrincipal", "DscMuninicpios",
    "DatEntradaOperacao", "MdaPotenciaOutorgadaKw", "MdaPotenciaFiscalizadaKw",
    "MdaGarantiaFisicaKw", "DscPropriRegimePariticipacao",
]
_TIPOS = ["UHE", "PCH", "CGH", "EOL", "UFV", "UTE", "UTN"]
_ORIGENS = ["Hídrica", "Eólica", "Solar", "Fóssil", "Biomassa", "Nuclear"]
_FASES = ["Operação", "Construção", "Construção não iniciada"]
_OUTORGAS = ["Concessão", "Autorização", "Registro"]
_UFS = ["SP", "MG", "RS", "BA", "PR", "SC", "GO", "CE", "PE", "PA"]
_QUALIF = ["Sim", "Não", ""]


def siga_csv(path: str, seed: int, n: int) -> dict[str, int]:
    """A ``;``-delimited ISO-8859-1 SIGA extract of ``n`` rows (the shape
    of ``examples/siga_etl.synthesize_input``: ~10% repeated CodCEG, 5%
    empty dates, empty qualification flags).  Returns the expected size
    of every output table of ``operators.star.siga_pipeline``."""
    rng = np.random.default_rng([seed, 4])
    ceg = rng.integers(0, n * 9 // 10, n)
    tipo = rng.integers(0, len(_TIPOS), n)
    orig = rng.integers(0, len(_ORIGENS), n)
    fase = rng.integers(0, len(_FASES), n)
    outo = rng.integers(0, len(_OUTORGAS), n)
    qual = rng.integers(0, len(_QUALIF), n)
    uf = rng.integers(0, len(_UFS), n)
    mun = rng.integers(0, 300, n)
    days = rng.integers(_days(dt.date(1990, 1, 1)), _days(dt.date(2025, 12, 28)), n)
    no_date = rng.random(n) < 0.05
    kw = rng.integers(100, 2_000_000, n)
    cents = rng.integers(10, 99, n)
    lines = [";".join(SIGA_COLUMNS)]
    for i in range(n):
        t = _TIPOS[tipo[i]]
        date = "" if no_date[i] else (_EPOCH + dt.timedelta(days=int(days[i]))).isoformat()
        k = int(kw[i])
        pot = f"{k // 1000}.{k % 1000:03d},{cents[i]}" if k >= 1000 else f"{k},{cents[i]}"
        lines.append(
            f"GER.{ceg[i]:07d};Usina São {i};{t};{_ORIGENS[orig[i]]};Fonte {t};"
            f"{_FASES[fase[i]]};{_OUTORGAS[outo[i]]};{_QUALIF[qual[i]]};"
            f"{_UFS[uf[i]]};Município {mun[i]};{date};{pot};{pot};;"
            f"100% Empresa {i} (REG)"
        )
    with open(path, "w", encoding="ISO-8859-1", newline="\n") as f:
        f.write("\n".join(lines) + "\n")
    dated = days[~no_date]
    return {
        "fato_geracao": n,
        "dim_geracao": len(set(zip(tipo.tolist(), orig.tolist()))),
        "dim_status": len(set(zip(fase.tolist(), outo.tolist(), qual.tolist()))),
        "dim_localizacao": len(set(zip(uf.tolist(), mun.tolist()))),
        "dim_empreendimento": len(set(ceg.tolist())),
        "dim_tempo": int(dated.max() - dated.min() + 1),
    }
