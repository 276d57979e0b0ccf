"""Declared-query registry — the SURVEY.md §2 contract.

Every entry takes ``(spark, sf_dir)`` and returns a DataFrame whose column
names (and, where float, pinned values) match the DuckDB oracle in
``oracles.py``.  Conventions for hash stability:

- per-row arithmetic on doubles is emitted UNROUNDED (identical IEEE ops on
  identical inputs are bitwise-equal across engines);
- aggregated doubles (sums/avgs — summation order differs across engines)
  are pinned with ``pround`` (portable floor-based rounding, see
  functions/rounding.py);
- timestamps are emitted as epoch-second bigints or ISO strings, never raw
  timestamp columns;
- NO DecimalType in any OUTPUT schema (r9 driver board: the driver's
  result canonicalization renders Spark DECIMAL(38,0) differently from
  DuckDB HUGEINT — q_graph_assortativity / q_table_checksum /
  q_kendall_tau all hash-mismatched on exactly those columns while being
  locally bit-exact).  DECIMAL stays an INTERNAL accumulator type; outputs
  narrow to BIGINT where values fit at every certified SF, else emit the
  canonical digit STRING (identical in both engines at any scale).
  Pinned registry-wide by tests/test_output_schemas.py;
- every computed column is aliased, matching the oracle's ``AS`` name.

Reference citations (``FullETLGenerator.java:NN``) mark reference-derived
operators; the rest are north-star extensions (BASELINE.json).
"""

from __future__ import annotations

import math
import tempfile
from collections.abc import Callable

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession, Window

from .catalog import load_table
from .lineage import cut_lineage
from .functions.dates import (
    date_key,
    dow_name_ptbr,
    month_name_ptbr,
    parse_date_lenient,
    quarter_label,
)
from .functions.locale_ptbr import (
    format_ptbr_decimal,
    null_or_empty_default,
    parse_ptbr_decimal,
)
from .functions.ranking_eval import NDCG_WEIGHTS
from .functions.rounding import dsum, pround
from .functions.text import (
    STOPWORDS_EN,
    bpe_ish_token_count,
    punct_count,
    quality_score,
    stopword_count_of,
    token_count_of,
    tokens,
    word_shingles,
)
from .operators.dedup import (
    embedding_cosine_pairs,
    exact_dedup_groups,
    minhash_lsh_candidates,
    ngram_jaccard_pairs,
    prefix_jaccard_pairs,
    simhash64,
    winnow_fingerprints,
)
from .operators.similarity import brute_force_topk, ivf_topk
from .operators.star import (
    build_calendar_dim_from_bounds,
    build_dimension,
    dedup_first_row,
)
from .sources.csv_ref import read_reference_csv, write_reference_csv
from .streaming.windows import (
    session_agg,
    sliding_agg,
    streaming_tumbling_with_watermark,
    tumbling_agg,
)

QueryFn = Callable[[SparkSession, str], DataFrame]
_REGISTRY: dict[str, QueryFn] = {}

# Fixture scratch space (ADVICE round 5): roundtrip queries used to
# tempfile.mkdtemp() a fresh directory on EVERY invocation and never
# remove it — repeated bench/parity/sweep runs accumulated unbounded
# temp directories.  One deterministic per-process root instead, wiped
# at interpreter exit; each call recreates its named subtree fresh so
# format writers never hit an existing path.
_FIXTURE_ROOT = None
_FIXTURE_SEQ = 0


def _fixture_dir(name: str, fresh_name: bool = False) -> str:
    """Empty scratch directory ``<tmp>/spark_graft_fixtures_<pid>/<name>``,
    recreated on each call and removed at process exit.  ``fresh_name``
    appends a per-process sequence number — for fixtures that must not
    reuse a path within one process even across invocations (embedded
    Derby keeps a deleted database booted; a stopped stream's checkpoint
    would replay stale state)."""
    global _FIXTURE_ROOT, _FIXTURE_SEQ
    import os
    import shutil

    from .session import fixture_root

    if _FIXTURE_ROOT is None:
        _FIXTURE_ROOT = fixture_root()
    if fresh_name:
        _FIXTURE_SEQ += 1
        name = f"{name}_{_FIXTURE_SEQ}"
    d = os.path.join(_FIXTURE_ROOT, name)
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    return d


def q(name: str) -> Callable[[QueryFn], QueryFn]:
    def deco(fn: QueryFn) -> QueryFn:
        # A duplicate registration silently SHADOWS the earlier query
        # (and its oracle twin keeps hash-checking against the new
        # body) — caught live in round 11 when a new query reused
        # round 8's q_shapley_attribution name and knocked the
        # original out of the registry.  Fail at import time instead.
        if name in _REGISTRY:
            raise ValueError(
                f"duplicate query registration: {name!r} "
                f"(existing: {_REGISTRY[name].__qualname__}, "
                f"new: {fn.__qualname__})"
            )
        _REGISTRY[name] = fn
        return fn

    return deco


# Representative cross-section of SURVEY.md §2, surfaced first in registry
# iteration order: harnesses that sample a prefix of the registry (the
# driver's correctness gate records the first 50) then cover every operator
# family — reference core, joins, aggregation, windows, event analytics,
# TPC-H, LLM-pipeline dedup/similarity/text, the deterministic
# sketch/layout operators, and the distributed-rank family (q_rfm) —
# instead of 50 variations on scan+project.
_SHOWCASE: tuple[str, ...] = (
    # Round-11 rotation (VERDICT r10 task 3: union of
    # CORRECTNESS_r01-r10 = 301 of 444; 143 never driver-sampled).
    # TWO repeats — q_star_flagship (the headline anchor) and
    # q_blocking_quality (its truth side was re-based onto the
    # count-bounded `_truth_sample` this round, adding the
    # sampled_docs column, so the driver must re-certify the new
    # hash) — plus 48 NEVER-SAMPLED entries, led by the three other
    # round-11-touched queries (q_harmonic_centrality /
    # q_graph_path_counts with the capped probe set,
    # q_dedup_cluster_quality with the sampled truth) and spread over
    # the remaining un-sampled families: streaming, the UDF/UDAF/UDTF
    # escape hatches, the round-10 additions, the distributed-rank
    # quantile family, core function surfaces, event analytics,
    # text/LLM, and sampling/splits.  Everything rotated out stays
    # hash-checked in the full check_parity.py sweep.
    #
    # anchor + the round-11 re-certification
    "q_star_flagship", "q_blocking_quality",
    # round-11-touched, never sampled
    "q_harmonic_centrality", "q_graph_path_counts",
    "q_dedup_cluster_quality",
    # streaming
    "q_stream_join_full", "q_watermark_lateness_profile",
    # UDF/UDAF/UDTF escape hatches
    "q_pandas_udaf", "q_udtf_sentences", "q_embedding_covariance",
    # round-10 additions never sampled
    "q_readability", "q_language_temperature_sampling",
    "q_distinct_ngrams", "q_dsir_weights", "q_ivf_recall",
    "q_linkage_em",
    # distributed-rank / quantile family
    "q_cume_dist", "q_rolling_median", "q_exact_median_rank",
    "q_quantile_ladder", "q_quantile_ladder_grouped", "q_winsorize",
    # round-11b additions (fresh code = highest certification value;
    # the seven core-function surfaces they displaced — date_arithmetic,
    # array_ops, map_ops, json_roundtrip, posexplode, string_agg,
    # histogram — are early-round queries, hash-green in every full
    # sweep since introduction, and stay in the local certification)
    "q_geo_cell_density", "q_geo_radius_join", "q_geo_nearest_neighbor",
    "q_geohash_encode", "q_geo_trajectory", "q_ip_cidr_lpm",
    "q_link_prediction",
    # core function surfaces
    "q_mode_per_group",
    # event / time-series analytics
    "q_funnel_horizon", "q_time_to_convert", "q_gap_fill_ffill",
    "q_gap_fill_interpolate", "q_ohlc", "q_gaps_and_islands",
    "q_seasonal_index", "q_ewma_daily",
    # text / LLM
    "q_text_clean", "q_corpus_filter",
    # round-11 continuation (batches c-g): the newest code carries the
    # highest certification value — these displace ten early-round
    # text/sampling surfaces (vocab_topk, bigram_logprob, pmi_bigrams,
    # char_ngrams, ngram_novelty, corpus_sample, temporal_split,
    # stratified_sample, negative_sampling, hard_negatives), all
    # local-green in every full sweep since their introduction
    "q_markov_removal", "q_pca_power_iteration", "q_dtw_distance",
    "q_fdr_bh", "q_holt_forecast", "q_wasserstein_1d", "q_qini_curve",
    "q_random_walks", "q_theil_sen", "q_price_index",
)
assert len(_SHOWCASE) == 50, len(_SHOWCASE)


def registry() -> dict[str, QueryFn]:
    out = {n: _REGISTRY[n] for n in _SHOWCASE}
    out.update(_REGISTRY)
    return out


def T(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


def spread(df: DataFrame, *cols: str) -> DataFrame:
    """Deterministic hash repartition PINNED to the session's configured
    shuffle parallelism, for stages whose CPU cost per byte is far above
    ordinary (md5 explosion, 5-gram shingling, sha2 windows over small
    text files).

    A plain ``repartition(key)`` exchange is re-sized by AQE from its
    BYTE count (parallelism-first coalescing still floors partitions at
    ``minPartitionSize``, 1m by default) — a 2-10 MB exchange that
    carries seconds of downstream hashing collapses to 1-10 tasks and
    serializes the cluster.  An EXPLICIT partition count is exempt from
    AQE coalescing, and ``spark.sql.shuffle.partitions`` is the
    deployment-sized parallelism knob (local: core count; at cluster
    scale ops size it to ~2-3x total cores), so the stage spreads the
    same way at every scale — a global ``minPartitionSize`` floor was
    benched instead and regressed the non-compute-dense majority of the
    headline set by more than these stages gained (OPTIMIZATION_r11.md).
    """
    n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    return df.repartition(n, *[F.col(c) for c in cols])


# ---------------------------------------------------------------------------
# §2.1 Sources / sinks
# ---------------------------------------------------------------------------

@q("q_csv_roundtrip")
def q_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1+S2 (FullETLGenerator.java:20,31-38,61-66): write `;`-delimited
    ISO-8859-1 CSV with header, read it back with an explicit schema."""
    path = _fixture_dir("csv_roundtrip") + "/nation"
    write_reference_csv(T(spark, sf_dir, "nation"), path)
    return read_reference_csv(
        spark, path, "n_nationkey int, n_name string, n_regionkey int"
    )


@q("q_csv_malformed_audit")
def q_csv_malformed_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S-family INGEST HYGIENE: the malformed-row audit a production
    CSV loader runs before trusting a feed — PERMISSIVE mode with
    ``columnNameOfCorruptRecord``, so bad rows become visible data
    instead of a crash (FAILFAST) or a silent drop (DROPMALFORMED).
    The engine writes a fixture with three deliberate corruption
    classes derived from nation keys (key%11==0 → non-numeric key;
    elif key%7==0 → short row, missing the last field; elif key%13==0
    → extra trailing field) and re-reads it through the real CSV
    parser.  Pinned semantics (prototype-verified on Spark 4): ALL
    three classes set the corrupt-record column to the raw line while
    still parsing the fields they can (a short row's present fields
    survive; a bad int parses null).  The DuckDB oracle rebuilds the
    identical lines and RE-PARSES them with its own string machinery
    (string_split + try_cast + arity check) — two independent parsers
    agreeing on byte-identical input.  Scale shape: text write, CSV
    scan, no shuffle."""
    nat = T(spark, sf_dir, "nation")
    k = F.col("n_nationkey")
    base = F.concat_ws(
        ";", k.cast("string"), "n_name", F.col("n_regionkey").cast("string")
    )
    line = (
        F.when(
            k % 11 == 0,
            F.concat_ws(
                ";", F.concat(F.lit("X"), k.cast("string")), F.col("n_name"),
                F.col("n_regionkey").cast("string"),
            ),
        )
        .when(k % 7 == 0, F.concat_ws(";", k.cast("string"), "n_name"))
        .when(k % 13 == 0, F.concat(base, F.lit(";zz")))
        .otherwise(base)
    )
    path = _fixture_dir("csv_malformed") + "/feed"
    nat.select(line.alias("value")).coalesce(1).write.text(path)
    df = (
        spark.read.schema(
            "n_nationkey int, n_name string, n_regionkey int, "
            "_corrupt string"
        )
        .option("sep", ";")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .csv(path)
    )
    return df.select(
        "n_name",
        "n_nationkey",
        "n_regionkey",
        F.col("_corrupt").isNotNull().alias("is_corrupt"),
        F.col("_corrupt").alias("corrupt_line"),
    )


@q("q_fixedwidth_roundtrip")
def q_fixedwidth_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1-family: fixed-width text roundtrip (sources/fixed_width.py) —
    the OTHER flat-file format the reference's domain ships
    (position-based government extracts, no delimiter).  Write nation as
    lpad/rpad-rendered lines, read back via substring + trim + try_cast
    — both directions pure codegen, no UDF.  Oracle reads the parquet
    directly: a lossless roundtrip is exactly the identity."""
    from .sources.fixed_width import read_fixed_width, write_fixed_width

    specs = [
        ("n_nationkey", 6, "int"),
        ("n_name", 16, "string"),
        ("n_regionkey", 6, "int"),
    ]
    path = _fixture_dir("fw_roundtrip") + "/nation"
    write_fixed_width(
        T(spark, sf_dir, "nation").select(
            "n_nationkey", "n_name", "n_regionkey"
        ),
        path,
        specs,
    )
    return read_fixed_width(spark, path, specs)


@q("q_media_header_roundtrip")
def q_media_header_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L5 (multimodal) made oracle-checkable: the engine WRITES a binary
    media fixture and the codegen header parsers read it back.

    Per doc_id a minimal-but-valid PNG / GIF / WAV byte stream is
    synthesized entirely in codegen expressions (hex concat → ``unhex``;
    layouts + parameter derivations single-sourced in
    functions/mediahex.py), written to parquet as a real ``binary``
    column, re-read, and parsed with the UNTOUCHED production parsers
    ``image_header_dims`` / ``audio_header_meta``
    (sources/multimodal.py:93,154).  The DuckDB oracle builds the same
    blob hex and re-derives every field with fixed-offset nibble
    arithmetic over the hex — so the hash-check proves construction
    determinism, byte-identical parquet binary roundtrip (``blob_hex``),
    and parser offset arithmetic in one query.  The JPEG SOF and MP4
    box walks (variable offsets → bounded ``mapInPandas``) stay
    pytest-pinned in tests/test_multimodal.py; this query certifies the
    codegen fixed-offset family.  At 100 TB the shape is: narrow
    projection of the id column, one codegen map stage to build blobs,
    a parquet write, and a codegen map stage to parse — no shuffle, no
    Python worker, no decode."""
    blobs = _media_blobs(spark, sf_dir)
    path = _fixture_dir("media_roundtrip") + "/media"
    blobs.write.parquet(path)
    media = spark.read.parquet(path)
    from .sources.multimodal import audio_header_meta, image_header_dims

    parsed = audio_header_meta(image_header_dims(media))
    return parsed.select(
        "doc_id",
        "modality",
        F.length("content").cast("int").alias("byte_len"),
        F.lower(F.hex("content")).alias("blob_hex"),
        F.when(F.col("modality") == "audio", F.col("audio_format"))
        .otherwise(F.col("format"))
        .alias("container"),
        F.col("header_width").alias("width"),
        F.col("header_height").alias("height"),
        "sample_rate",
        "channels",
        "bits_per_sample",
        "duration_ms",
    )


def _media_blobs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, modality, content) — the deterministic synthetic media
    table both L5 queries build: minimal valid PNG/GIF/WAV byte streams
    from doc_id-derived parameters, constructed entirely in codegen
    expressions (layouts + encoders single-sourced in
    functions/mediahex.py; the DuckDB oracles rebuild the identical
    hex)."""
    from .functions.mediahex import (
        DATA_HEX,
        FMT_HEX,
        GIF_SIG_HEX,
        GIF_TAIL_HEX,
        IHDR_HEX,
        PNG_SIG_HEX,
        PNG_TAIL_HEX,
        RIFF_HEX,
        WAVE_HEX,
        WAV_RATES,
        WAV_BITS,
        be32_col,
        le16_col,
        le32_col,
    )

    d = F.col("doc_id")
    pw = F.lit(16) + (d * 37) % 4080
    ph = F.lit(16) + (d * 61) % 2160
    gw = F.lit(16) + (d * 37) % 60000
    gh = F.lit(16) + (d * 61) % 60000
    ch = F.lit(1) + d % 2
    rate = F.element_at(
        F.array(*[F.lit(r) for r in WAV_RATES]), (d % 5).cast("int") + 1
    )
    bits = F.element_at(
        F.array(*[F.lit(b) for b in WAV_BITS]), (d % 7 % 3).cast("int") + 1
    )
    data_b = F.lit(1000) + (d * 97) % 100000
    byte_rate = rate * ch * bits / 8  # bits ∈ {8,16,32} → exact int
    block_align = ch * bits / 8
    png_hex = F.concat(
        F.lit(PNG_SIG_HEX + "0000000d" + IHDR_HEX),
        be32_col(pw),
        be32_col(ph),
        F.lit(PNG_TAIL_HEX),
    )
    gif_hex = F.concat(
        F.lit(GIF_SIG_HEX), le16_col(gw), le16_col(gh), F.lit(GIF_TAIL_HEX)
    )
    wav_hex = F.concat(
        F.lit(RIFF_HEX),
        le32_col(data_b + 36),
        F.lit(WAVE_HEX + FMT_HEX + "10000000" + "0100"),
        le16_col(ch),
        le32_col(rate),
        le32_col(byte_rate.cast("bigint")),
        le16_col(block_align.cast("bigint")),
        le16_col(bits),
        F.lit(DATA_HEX),
        le32_col(data_b),
    )
    return T(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(d % 3 == 2, "audio").otherwise("image").alias("modality"),
        F.unhex(
            F.when(d % 3 == 0, png_hex)
            .when(d % 3 == 1, gif_hex)
            .otherwise(wav_hex)
        ).alias("content"),
    )


# ---------------------------------------------------------------------------
# §2.2 Projection / filter
# ---------------------------------------------------------------------------

@q("q_project")
def q_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1 (FullETLGenerator.java:82-87): narrow projection — ReadSchema in
    the parquet scan carries only these four columns."""
    return T(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"
    )


@q("q_filter")
def q_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2/P3 (FullETLGenerator.java:80,125): predicate filter — pushed into
    the scan (PushedFilters)."""
    li = T(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_returnflag") == "R") & (F.col("l_quantity") > 30)
    ).select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")


# ---------------------------------------------------------------------------
# §2.3 Dedup + surrogate keys
# ---------------------------------------------------------------------------

@q("q_distinct")
def q_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1 (FullETLGenerator.java:78-112): distinct on a composite key."""
    return T(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_linestatus"
    ).distinct()


@q("q_surrogate_key")
def q_surrogate_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D2 (FullETLGenerator.java:72-74,88): dense surrogate ids over the
    distinct key set (deterministic natural-key order; see star.py)."""
    return build_dimension(
        T(spark, sf_dir, "orders"), ["o_orderpriority"], "priority_id"
    )


@q("q_dedup_first_row")
def q_dedup_first_row(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D3 (FullETLGenerator.java:114-122): one full row per natural key."""
    cust = T(spark, sf_dir, "customer").select(
        "c_nationkey", "c_custkey", "c_name", "c_acctbal"
    )
    return dedup_first_row(cust, ["c_nationkey"], ["c_custkey"])


# ---------------------------------------------------------------------------
# §2.4 Joins
# ---------------------------------------------------------------------------

@q("q_join_broadcast_left")
def q_join_broadcast_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 (FullETLGenerator.java:153-159,168-170): broadcast hash left join,
    miss -> -1 — the reference's HashMap probe as a real join."""
    li = T(spark, sf_dir, "lineitem")
    dim = (
        T(spark, sf_dir, "part")
        .filter(F.col("p_size") >= 30)
        .select("p_partkey", "p_size")
    )
    return li.join(F.broadcast(dim), li.l_partkey == dim.p_partkey, "left").select(
        "l_orderkey",
        "l_linenumber",
        "l_partkey",
        F.coalesce(F.col("p_size"), F.lit(-1)).alias("p_size_or_missing"),
    )


@q("q_join_inner")
def q_join_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2: inner equi-join (AQE picks broadcast vs sort-merge)."""
    li = T(spark, sf_dir, "lineitem")
    od = T(spark, sf_dir, "orders")
    return (
        li.join(od, li.l_orderkey == od.o_orderkey, "inner")
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            dsum(F.col("l_extendedprice")).alias("sum_price"),
        )
    )


@q("q_join_star_3way")
def q_join_star_3way(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3: multi-way star join — fact spine joined to broadcast dims."""
    li = T(spark, sf_dir, "lineitem")
    od = T(spark, sf_dir, "orders")
    cu = T(spark, sf_dir, "customer")
    na = T(spark, sf_dir, "nation")
    return (
        li.join(od, li.l_orderkey == od.o_orderkey)
        .join(cu, od.o_custkey == cu.c_custkey)
        .join(F.broadcast(na), cu.c_nationkey == na.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            dsum(
                F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")),
                4,
            ).alias("revenue"),
        )
    )


@q("q_join_semi")
def q_join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4a: left-semi join (EXISTS)."""
    od = T(spark, sf_dir, "orders")
    big = T(spark, sf_dir, "lineitem").filter(F.col("l_quantity") >= 49)
    return od.join(
        big, od.o_orderkey == big.l_orderkey, "left_semi"
    ).select("o_orderkey", "o_totalprice")


@q("q_join_anti")
def q_join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4b: left-anti join (NOT EXISTS) — customers with no URGENT order.
    (Anti-joining against ALL orders returns zero rows on this synthetic
    data, which would make the differential hash vacuous; the priority
    filter keeps the result non-empty so the check proves semantics.)"""
    cu = T(spark, sf_dir, "customer")
    od = T(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return cu.join(
        od, cu.c_custkey == od.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


@q("q_join_full_outer")
def q_join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4c: full-outer join — customer vs supplier presence per nation
    (pre-aggregated sides, so the outer join runs on two skinny key
    tables, never on the raw fact rows)."""
    cu = (
        T(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("ck"))
        .agg(F.count(F.lit(1)).alias("n_cust"))
    )
    su = (
        T(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("sk"))
        .agg(F.count(F.lit(1)).alias("n_supp"))
    )
    return cu.join(su, F.col("ck") == F.col("sk"), "full_outer").select(
        F.coalesce(F.col("ck"), F.col("sk")).alias("nationkey"),
        F.coalesce(F.col("n_cust"), F.lit(0).cast("bigint")).alias("n_cust"),
        F.coalesce(F.col("n_supp"), F.lit(0).cast("bigint")).alias("n_supp"),
    )


@q("q_join_range")
def q_join_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5: banded theta join against a tiny literal bounds table
    (BroadcastNestedLoopJoin — correct plan for a non-equi join with a
    broadcast-size side)."""
    tiers = spark.createDataFrame(
        [("low", -100000.0, 0.0), ("mid", 0.0, 5000.0), ("high", 5000.0, 100000.0)],
        "tier string, lo double, hi double",
    )
    cu = T(spark, sf_dir, "customer")
    return cu.join(
        F.broadcast(tiers),
        (cu.c_acctbal >= tiers.lo) & (cu.c_acctbal < tiers.hi),
    ).select("c_custkey", "c_acctbal", "tier")


@q("q_join_asof")
def q_join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (Spark lacks it; composed from union + window — see
    operators/asof.py): each click event matched to the user's most recent
    purchase at or before it.  Oracle: DuckDB's native ASOF LEFT JOIN."""
    from .operators.asof import asof_join

    ev = T(spark, sf_dir, "events")
    left = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id", "value"
    )
    right = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("rv"))
    )
    joined = asof_join(left, right, on="user_id", ts_col="ts",
                       right_value_cols=["rv"], suffix="")
    return joined.select(
        "event_id",
        "user_id",
        F.unix_timestamp("ts").alias("ts_epoch"),
        "value",
        F.col("rv").alias("last_purchase_value"),
    )


@q("q_join_asof_forward")
def q_join_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of join (operators/asof.py::asof_join_forward): each
    click matched to the user's NEXT purchase at or after it — the
    "what happened next" direction (conversion after exposure) the
    backward join can't express.  Oracle: DuckDB ASOF with the
    comparison flipped to r.ts >= l.ts."""
    from .operators.asof import asof_join_forward

    ev = T(spark, sf_dir, "events")
    left = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id", "value"
    )
    right = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("rv"))
    )
    joined = asof_join_forward(
        left, right, on="user_id", ts_col="ts",
        right_value_cols=["rv"], suffix=""
    )
    return joined.select(
        "event_id",
        "user_id",
        F.unix_timestamp("ts").alias("ts_epoch"),
        "value",
        F.col("rv").alias("next_purchase_value"),
    )


@q("q_join_asof_nearest")
def q_join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest as-of join (operators/asof.py::asof_join_nearest): each
    click matched to the CLOSEST purchase in time, either direction,
    backward preferred on exact ties — the sensor-alignment variant
    (match a reading to the nearest calibration).  One shuffle, two
    window passes; the matched timestamp rides along as an audit
    column.  Oracle: two DuckDB ASOF joins + the same tie-break CASE."""
    from .operators.asof import asof_join_nearest

    ev = T(spark, sf_dir, "events")
    left = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id", "value"
    )
    right = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("rv"))
    )
    joined = asof_join_nearest(
        left, right, on="user_id", ts_col="ts",
        right_value_cols=["rv"], suffix="_m"
    )
    return joined.select(
        "event_id",
        "user_id",
        F.unix_timestamp("ts").alias("ts_epoch"),
        "value",
        F.col("rv_m").alias("nearest_purchase_value"),
        F.unix_timestamp("ts_m").alias("matched_ts_epoch"),
    )


# ---------------------------------------------------------------------------
# §2.5 Aggregations
# ---------------------------------------------------------------------------

@q("q_minmax_date")
def q_minmax_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 (FullETLGenerator.java:124-128): global min/max over dates."""
    od = T(spark, sf_dir, "orders")
    d = F.col("o_orderdate").cast("date")
    return od.agg(
        F.min(d).alias("min_orderdate"), F.max(d).alias("max_orderdate")
    )


@q("q_groupby_sum")
def q_groupby_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2/A3 (readme.md:3, FullETLGenerator.java:149): TPC-H-Q1-shaped
    grouped sums over the fact table."""
    li = T(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        dsum(F.col("l_quantity")).alias("sum_qty"),
        dsum(F.col("l_extendedprice")).alias("sum_base_price"),
        F.count(F.lit(1)).alias("count_order"),
    )


@q("q_groupby_multi_agg")
def q_groupby_multi_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3: sum/avg/min/max/count in one hash aggregate."""
    od = T(spark, sf_dir, "orders")
    return od.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        dsum(F.col("o_totalprice")).alias("sum_price"),
        pround(dsum(F.col("o_totalprice")) / F.count(F.lit(1)), 2).alias("avg_price"),
        F.min("o_totalprice").alias("min_price"),
        F.max("o_totalprice").alias("max_price"),
    )


@q("q_count_distinct")
def q_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4: exact distinct counts (expand + two-phase agg under the hood)."""
    li = T(spark, sf_dir, "lineitem")
    return li.agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
        F.countDistinct("l_orderkey").alias("n_orders"),
    )


@q("q_approx_count_distinct")
def q_approx_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 (rows-only): HyperLogLog++ distinct estimate — the 100 TB path
    where exact distinct's expand+shuffle is too expensive.  Sketches merge
    associatively, so the agg is one map-side-combined pass."""
    li = T(spark, sf_dir, "lineitem")
    return li.agg(
        F.approx_count_distinct("l_partkey", rsd=0.01).alias("approx_parts"),
        F.approx_count_distinct("l_orderkey", rsd=0.01).alias("approx_orders"),
    )


@q("q_rollup")
def q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5: ROLLUP with grouping indicators."""
    li = T(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        dsum(F.col("l_quantity")).alias("sum_qty"),
        F.count(F.lit(1)).alias("n_rows"),
        F.grouping("l_returnflag").cast("int").alias("g_flag"),
        F.grouping("l_linestatus").cast("int").alias("g_status"),
    )


@q("q_cube")
def q_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5: CUBE over two dimensions."""
    od = T(spark, sf_dir, "orders")
    return od.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.grouping("o_orderstatus").cast("int").alias("g_status"),
        F.grouping("o_orderpriority").cast("int").alias("g_prio"),
    )


@q("q_having")
def q_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6: post-aggregation filter."""
    li = T(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_orderkey")
        .agg(F.count(F.lit(1)).alias("n_lines"))
        .filter(F.col("n_lines") >= 5)
    )


@q("q_pivot")
def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BI pivot: line counts per returnflag x linestatus as columns.
    Explicit pivot values keep the plan a single pass (no distinct-scan)."""
    li = T(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .agg(F.count(F.lit(1)))
        .withColumnsRenamed({"F": "n_f", "O": "n_o"})
    )


@q("q_unpivot")
def q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot/melt wide columns into (metric, val) rows."""
    pt = T(spark, sf_dir, "part").select(
        "p_partkey",
        F.col("p_retailprice").alias("retailprice"),
        F.col("p_size").cast("double").alias("size"),
    )
    return pt.unpivot(
        ids=["p_partkey"],
        values=["retailprice", "size"],
        variableColumnName="metric",
        valueColumnName="val",
    )


@q("q_scalar_subquery")
def q_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders above the global average price (scalar subquery shape; the
    scalar is a deterministic decimal-sum average, broadcast to the scan)."""
    od = T(spark, sf_dir, "orders")
    avg_df = od.agg(
        (dsum(F.col("o_totalprice")) / F.count(F.lit(1))).alias("__avg")
    )
    return (
        od.crossJoin(F.broadcast(avg_df))
        .filter(F.col("o_totalprice") > F.col("__avg"))
        .select("o_orderkey", "o_totalprice")
    )


@q("q_percentile")
def q_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group (A-family extension).
    The 100 TB path is approx_percentile; exact is the oracle-checkable
    baseline."""
    li = T(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        pround(F.expr("percentile(l_quantity, 0.25)"), 6).alias("p25_qty"),
        pround(F.expr("percentile(l_quantity, 0.5)"), 6).alias("p50_qty"),
        pround(F.expr("percentile(l_quantity, 0.75)"), 6).alias("p75_qty"),
    )


@q("q_merge_upsert")
def q_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ETL MERGE shape: updates replace matched keys, unmatched insert
    (operators/upsert.py; the reference only full-rebuilds its dims)."""
    from .operators.upsert import merge_upsert

    cu = T(spark, sf_dir, "customer")
    cols = ["c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"]
    updated = (
        cu.filter(F.col("c_custkey") % 7 == 0)
        .select(
            "c_custkey",
            F.upper("c_name").alias("c_name"),
            "c_nationkey",
            F.lit(0.0).alias("c_acctbal"),
            "c_mktsegment",
        )
    )
    inserted = (
        cu.filter(F.col("c_custkey") % 97 == 0)
        .select(
            (F.col("c_custkey") + 1000000).alias("c_custkey"),
            F.concat(F.lit("NEW_"), F.col("c_name")).alias("c_name"),
            "c_nationkey",
            "c_acctbal",
            "c_mktsegment",
        )
    )
    return merge_upsert(
        cu.select(*cols), updated.unionByName(inserted), "c_custkey"
    )


@q("q_profile")
def q_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data profiling: one-pass per-column null/distinct/min/max stats
    (operators/profile.py)."""
    from .operators.profile import profile_table

    return profile_table(
        T(spark, sf_dir, "customer"),
        ["c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"],
    )


# ---------------------------------------------------------------------------
# §2.6 Window functions
# ---------------------------------------------------------------------------

@q("q_window_rank")
def q_window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1: ranking within partitions (rank/dense_rank keyed on values only,
    row_number fully tie-broken).  25 nations would cap a naive
    ``Window.partitionBy`` at 25 tasks, so the three functions decompose
    over the distributed total-order row_number (operators.rank):
    rank = min(rn) within the (nation, balance) value class — a
    HIGH-cardinality window, parallel by construction — and
    dense_rank = the class's grouped_rank over the class TABLE (one
    aggregate smaller than the data), joined back on the co-keyed
    (nation, balance) pair.  Value-identical to the builtins at any
    group size."""
    from .operators.rank import grouped_rank

    cu = T(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_acctbal"
    )
    ranked = grouped_rank(
        cu,
        ["c_nationkey"],
        [F.desc("c_acctbal"), F.asc("c_custkey")],
        rank_col="rn",
    )
    cls_w = Window.partitionBy("c_nationkey", "c_acctbal")
    ranked = ranked.withColumn("rnk", F.min("rn").over(cls_w))
    classes = ranked.groupBy("c_nationkey", "c_acctbal").agg(
        F.count(F.lit(1)).alias("__cc")
    )
    dcls = grouped_rank(
        classes, ["c_nationkey"], [F.desc("c_acctbal")], rank_col="drnk"
    ).select("c_nationkey", "c_acctbal", "drnk")
    return ranked.join(dcls, ["c_nationkey", "c_acctbal"]).select(
        "c_custkey", "c_nationkey", "c_acctbal", "rn", "rnk", "drnk"
    )


@q("q_window_lag")
def q_window_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2: lag/lead over a deterministic per-customer order."""
    od = T(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return od.select(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        F.lag("o_totalprice").over(w).alias("prev_price"),
        F.lead("o_totalprice").over(w).alias("next_price"),
    )


@q("q_stats_moments")
def q_stats_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 extension: sample stddev and Pearson correlation per return flag.

    Mathematically identical to ``stddev_samp`` / ``corr`` but computed
    from exact DECIMAL power sums (x, y are fixed-2dp, so x², y², xy are
    exact 4dp) cast to double only at the final formula — making the
    result bit-identical across engines where native float moment
    aggregates drift with summation order.  This single-pass mergeable
    power-sum layout is also exactly how a distributed engine computes
    moments at scale.  (Outputs still go through ``pround``: DuckDB's
    compiled ``a*b - c*d`` contracts to an FMA, a 1-ulp divergence the
    JVM never produces.)"""
    li = T(spark, sf_dir, "lineitem")
    s = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias("sx"),
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double").alias("sy"),
        F.sum(F.expr("CAST(l_quantity * l_quantity AS DECIMAL(22,4))"))
        .cast("double").alias("sxx"),
        F.sum(F.expr("CAST(l_extendedprice * l_extendedprice AS DECIMAL(28,4))"))
        .cast("double").alias("syy"),
        F.sum(F.expr("CAST(l_quantity * l_extendedprice AS DECIMAL(24,4))"))
        .cast("double").alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    return s.select(
        "l_returnflag",
        pround(
            F.sqrt((sxx - sx * sx / n) / (n - F.lit(1.0))), 9
        ).alias("std_qty"),
        pround(
            (n * sxy - sx * sy)
            / F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)),
            9,
        ).alias("corr_qty_price"),
    )


@q("q_topn_per_group")
def q_topn_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1 application: top-3 orders by value per customer — row_number
    over the partition, filtered; the rank never leaves the exchange, so
    only 3 rows per key survive the stage."""
    od = T(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        od.withColumn("rn", F.row_number().over(w).cast("int"))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
    )


@q("q_rolling_corr")
def q_rolling_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 30-day Pearson correlation between daily order count and
    daily revenue — the co-movement monitor ("is volume still driving
    revenue?") behind pricing dashboards.  Exactness discipline as in
    q_regression_by_group: the daily series are exact integers (count,
    revenue in scaled cents), the five rolling power sums accumulate in
    DECIMAL(38) over the day-grain frame (bounded: one row per calendar
    day, so the ordered window is a few-thousand-row frame, not
    data-grain), and the one float corr expression evaluates in a fixed
    IEEE order on identical sums — bit-identical cross-engine, pround
    pinned.  Windows with < 2 days or zero variance emit null."""
    od = T(spark, sf_dir, "orders")
    daily = od.groupBy(
        F.datediff(F.to_date("o_orderdate"), F.lit("1970-01-01")).alias("d")
    ).agg(
        F.count(F.lit(1)).alias("x"),
        F.sum(
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
        ).alias("y"),
    )
    dec = lambda c: F.col(c).cast("decimal(19,0)")  # noqa: E731
    w = Window.orderBy("d").rowsBetween(-29, 0)
    g = daily.select(
        "d",
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum(dec("x")).over(w).alias("sx"),
        F.sum(dec("y")).over(w).alias("sy"),
        F.sum(dec("x") * dec("x")).over(w).alias("sxx"),
        F.sum(dec("y") * dec("y")).over(w).alias("syy"),
        F.sum(dec("x") * dec("y")).over(w).alias("sxy"),
    )
    n = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    cov = n * F.col("sxy").cast("double") - sx * sy
    vx = n * F.col("sxx").cast("double") - sx * sx
    vy = n * F.col("syy").cast("double") - sy * sy
    return g.select(
        "d",
        F.col("n").cast("bigint").alias("n_days"),
        pround(
            F.when(
                (F.col("n") >= 2) & (vx > 0) & (vy > 0),
                cov / F.sqrt(vx * vy),
            ),
            6,
        ).alias("corr_30d"),
    )


@q("q_autocorr")
def q_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation ladder: Pearson correlation between the daily
    order-count series and its lag-k shift for k = 1..7 — the weekly-
    seasonality detector (a lag-7 spike says "same weekday moves
    together").  One day-grain pass builds the series, seven lag columns
    unpivot to (k, x, xlag) rows, and per-k DECIMAL power sums feed the
    same fixed-order corr expression as q_rolling_corr.  Day-grain
    everywhere; exact until the one pinned float op."""
    od = T(spark, sf_dir, "orders")
    daily = od.groupBy(
        F.datediff(F.to_date("o_orderdate"), F.lit("1970-01-01")).alias("d")
    ).agg(F.count(F.lit(1)).alias("x"))
    wl = Window.orderBy("d")
    lags = daily.select(
        "x", *[F.lag("x", k).over(wl).alias(f"xl{k}") for k in range(1, 8)]
    )
    pairs = lags.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).alias("k"),
                        F.col("x").alias("xt"),
                        F.col(f"xl{k}").alias("xl"),
                    )
                    for k in range(1, 8)
                ]
            )
        ).alias("p")
    ).select("p.k", "p.xt", "p.xl").filter(F.col("xl").isNotNull())
    dec = lambda c: F.col(c).cast("decimal(19,0)")  # noqa: E731
    g = pairs.groupBy("k").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec("xt")).alias("sx"),
        F.sum(dec("xl")).alias("sy"),
        F.sum(dec("xt") * dec("xt")).alias("sxx"),
        F.sum(dec("xl") * dec("xl")).alias("syy"),
        F.sum(dec("xt") * dec("xl")).alias("sxy"),
    )
    n = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    cov = n * F.col("sxy").cast("double") - sx * sy
    vx = n * F.col("sxx").cast("double") - sx * sx
    vy = n * F.col("syy").cast("double") - sy * sy
    return g.select(
        "k",
        F.col("n").cast("bigint").alias("n_pairs"),
        pround(
            F.when((vx > 0) & (vy > 0), cov / F.sqrt(vx * vy)), 6
        ).alias("acf"),
    )


@q("q_moving_avg_range")
def q_moving_avg_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3 variant: 7-day moving order-value average per customer — a RANGE
    frame over days-since-epoch (value-based, handles gaps in the date
    series, unlike a ROWS frame).  The frame sum is decimal-exact; the
    average divides by the in-frame row count."""
    od = T(spark, sf_dir, "orders")
    base = od.select(
        "o_custkey",
        "o_orderkey",
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date"))
        .alias("day_no"),
        F.col("o_totalprice").cast("decimal(18,2)").alias("price_dec"),
    )
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("day_no")
        .rangeBetween(-6, 0)
    )
    return base.select(
        "o_custkey",
        "o_orderkey",
        "day_no",
        pround(
            F.sum("price_dec").over(w).cast("double")
            / F.count(F.lit(1)).over(w).cast("double"),
            6,
        ).alias("avg_7d"),
    )


@q("q_rolling_median")
def q_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling ROBUST center: exact 7-row rolling median of daily revenue
    — the outlier-resistant twin of q_moving_avg_range (a single bad day
    can't drag the median the way it drags the mean).  The fact table
    first collapses to the bounded DAY grain (one shuffle); the rolling
    median is `percentile(cents, 0.5)` over a ROWS frame on that ~2.4k-row
    series (the documented bounded-grain single-partition exemption).
    Inputs are exact integer cents, and Spark's `percentile` and DuckDB's
    `quantile_cont` share the (n−1)·q interpolation rule, so midpoints of
    identical integers are identical doubles."""
    od = T(spark, sf_dir, "orders")
    daily = od.groupBy(F.to_date("o_orderdate").alias("d")).agg(
        F.sum(
            F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5))
        ).alias("cents")
    )
    w = Window.orderBy("d").rowsBetween(-6, 0)
    return daily.select(
        "d",
        (F.col("cents") / F.lit(100.0)).alias("revenue"),
        (
            F.expr("percentile(cents, 0.5)").over(w) / F.lit(100.0)
        ).alias("median_7d"),
    )


@q("q_cume_dist")
def q_cume_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1 completion: cume_dist + nth_value over the deterministic
    per-customer order — the last two ANSI window functions the surface
    hadn't declared (rank/dense_rank/row_number/percent_rank/ntile/
    first/last/lag/lead all have their own queries).  The order key is
    a TOTAL order (date, orderkey), so cume_dist has no tie plateaus
    and its n/N ratios are single exact IEEE divisions."""
    od = T(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    w_full = w.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return od.select(
        "o_orderkey",
        "o_custkey",
        F.cume_dist().over(w).alias("cd"),
        F.nth_value("o_totalprice", 2).over(w_full).alias("second_price"),
    )


@q("q_percent_rank")
def q_percent_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1 variant: percent_rank and cume_dist — pure integer-ratio
    window functions, cross-engine exact without pinning.  c_nationkey has
    25 values, so the naive ``Window.partitionBy`` caps parallelism at 25
    tasks no matter the cluster; with the (acctbal, custkey) total order
    both functions are exact integer ratios of the group rank —
    percent_rank = (r−1)/(N−1), cume_dist = r/N — so they ride on
    ``operators.rank.grouped_rank`` (range-partitioned parallel rank +
    broadcast offsets) at full parallelism, value-identical."""
    from .operators.rank import grouped_rank

    cu = T(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_acctbal"
    )
    ranked = grouped_rank(
        cu,
        ["c_nationkey"],
        [F.col("c_acctbal"), F.col("c_custkey")],
        rank_col="__r",
        total_col="__n",
    )
    return ranked.select(
        "c_custkey",
        "c_nationkey",
        F.when(F.col("__n") > 1, (F.col("__r") - 1) / (F.col("__n") - 1))
        .otherwise(F.lit(0.0))
        .alias("pct_rank"),
        (F.col("__r") / F.col("__n")).alias("cume"),
    )


@q("q_window_first_last")
def q_window_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1/W2: first_value / last_value / ntile over a deterministic
    per-customer order.  last_value uses an explicit unbounded frame (the
    ANSI default frame ends at the current row, which would make it a
    no-op)."""
    od = T(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    w_full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return od.select(
        "o_orderkey",
        "o_custkey",
        F.first("o_totalprice").over(w).alias("first_price"),
        F.last("o_totalprice").over(w_full).alias("last_price"),
        F.ntile(4).over(w).alias("quartile"),
    )


@q("q_window_running_sum")
def q_window_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3: frame-spec running aggregate."""
    od = T(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return od.select(
        "o_orderkey",
        "o_custkey",
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).over(w)
        .cast("double").alias("running_spend"),
    )


# ---------------------------------------------------------------------------
# §2.7 Generators
# ---------------------------------------------------------------------------

@q("q_date_dim_generate")
def q_date_dim_generate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G1 (FullETLGenerator.java:182-204): calendar dimension spanning the
    orders date range — sequence+explode over the 1-row min/max aggregate,
    zero driver loops AND zero driver syncs (no ``.first()``: the bounds
    stay a DataFrame, so the whole dimension is one Spark job)."""
    od = T(spark, sf_dir, "orders")
    bounds = od.agg(
        F.min(F.col("o_orderdate").cast("date")).alias("d0"),
        F.max(F.col("o_orderdate").cast("date")).alias("d1"),
    )
    return build_calendar_dim_from_bounds(bounds)


@q("q_explode")
def q_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G1 superset: posexplode over the embedding arrays."""
    em = T(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 100)
    return em.select(
        "vec_id",
        F.posexplode(F.col("embedding").cast("array<double>")).alias("pos", "val"),
    )


# ---------------------------------------------------------------------------
# §2.8 Scalar functions
# ---------------------------------------------------------------------------

@q("q_null_default")
def q_null_default(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1 (FullETLGenerator.java:206-209): null/empty -> 'N/A'."""
    cu = T(spark, sf_dir, "customer")
    nullable_seg = F.when(
        F.col("c_mktsegment") == "BUILDING", F.lit(None).cast("string")
    ).otherwise(F.col("c_mktsegment"))
    return cu.select(
        "c_custkey", null_or_empty_default(nullable_seg).alias("segment_or_na")
    )


@q("q_locale_decimal_parse")
def q_locale_decimal_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2 (FullETLGenerator.java:232-239): pt-BR decimal parse quirks."""
    vals = [
        ("1.234,56",), ("30000",), ("0,5",), ("1.000.000,99",),
        ("",), (None,), ("12a,3",), ("  7,25  ",), ("-1.234,5",),
    ]
    df = spark.createDataFrame(vals, "s string")
    return df.select("s", parse_ptbr_decimal("s").alias("parsed"))


@q("q_date_parse")
def q_date_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3 (FullETLGenerator.java:241-248): lenient ISO date parse."""
    vals = [
        ("2023-05-17",), ("2023-05-17 10:11:12",), ("1999-12-31T23:59",),
        ("2023-13-01",), ("2023",), ("",), (None,), ("garbage-xx",),
    ]
    df = spark.createDataFrame(vals, "s string")
    return df.select("s", parse_date_lenient("s").alias("d"))


@q("q_date_key")
def q_date_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4 (FullETLGenerator.java:250-254): yyyyMMdd int key, null -> 0."""
    od = T(spark, sf_dir, "orders")
    return od.select(
        "o_orderkey", date_key(F.col("o_orderdate")).alias("dkey")
    )


@q("q_date_parts")
def q_date_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5 (FullETLGenerator.java:195-198): date part extraction."""
    od = T(spark, sf_dir, "orders")
    d = F.col("o_orderdate")
    return od.select(
        "o_orderkey",
        F.year(d).alias("yy"),
        F.month(d).alias("mm"),
        F.dayofmonth(d).alias("dd"),
    )


@q("q_quarter_label")
def q_quarter_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F6 (FullETLGenerator.java:190,200): 'T'+quarter label."""
    od = T(spark, sf_dir, "orders")
    return od.select(
        "o_orderkey", quarter_label(F.col("o_orderdate")).alias("tri")
    )


@q("q_month_name_ptbr")
def q_month_name_ptbr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F7 (FullETLGenerator.java:183,197,199): pt-BR month/day names via
    pinned lookup tables (locale-independent, codegen-able)."""
    od = T(spark, sf_dir, "orders")
    d = F.col("o_orderdate")
    return od.select(
        "o_orderkey",
        month_name_ptbr(d).alias("nome_mes"),
        dow_name_ptbr(d).alias("dia_semana"),
    )


@q("q_decimal_format")
def q_decimal_format(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F9 (FullETLGenerator.java:173-175): comma-decimal 2-dp rendering."""
    vals = [(1234.56,), (0.5,), (12.0,), (1234567.89,), (0.0,), (-42.75,)]
    df = spark.createDataFrame(vals, "x double")
    return df.select("x", format_ptbr_decimal("x").alias("formatted"))


@q("q_concat_ws")
def q_concat_ws(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F11 (FullETLGenerator.java:215-230): `;`-joined composite key."""
    pt = T(spark, sf_dir, "part")
    return pt.select(
        "p_partkey", F.concat_ws(";", "p_brand", "p_type").alias("part_key")
    )


@q("q_json_extract")
def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured columns: JSON field extraction from events.props
    (get_json_object — JVM-side JSON path, no UDF)."""
    ev = T(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("int").alias("prop_k"),
    )


@q("q_string_funcs")
def q_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star string surface over documents.text."""
    docs = T(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.upper("lang").alias("lang_u"),
        F.length("text").alias("n_len"),
        F.substring("text", 1, 20).alias("prefix"),
        F.col("text").like("%data%").cast("int").alias("has_data"),
    )


@q("q_string_advanced")
def q_string_advanced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star string surface, part 2: split_part / lpad / translate /
    reverse / instr / repeat (all built-in, all codegen)."""
    cu = T(spark, sf_dir, "customer")
    return cu.select(
        "c_custkey",
        F.split_part(F.col("c_name"), F.lit("#"), F.lit(2)).alias("cust_num"),
        F.lpad(F.col("c_nationkey").cast("string"), 3, "0").alias("nk_pad"),
        F.translate(F.col("c_mktsegment"), "AEIOU", "aeiou").alias("seg_tr"),
        F.reverse(F.col("c_mktsegment")).alias("seg_rev"),
        F.instr(F.col("c_name"), "9").alias("pos_nine"),
        F.expr("repeat('*', CAST(c_nationkey % 5 AS INT))").alias("stars"),
    )


@q("q_date_arithmetic")
def q_date_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star date surface, part 2: add_months (end-of-month clamped),
    last_day, quarter truncation, day-of-year."""
    od = T(spark, sf_dir, "orders")
    d = F.col("o_orderdate").cast("date")
    return od.select(
        "o_orderkey",
        F.add_months(d, 1).alias("next_month"),
        F.last_day(d).alias("month_end"),
        F.date_trunc("quarter", d).cast("date").alias("quarter_start"),
        F.dayofyear(d).alias("doy"),
    )


@q("q_array_ops")
def q_array_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star array surface over embeddings: size / element access /
    min / max / L2 norm (JVM higher-order fold; norm pinned with pround —
    fold order is engine-internal)."""
    from .functions.vectors import as_double_array, l2_norm

    em = T(spark, sf_dir, "embeddings")
    v = as_double_array("embedding")
    return em.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.element_at(v, 1).alias("first_val"),
        F.array_min(v).alias("min_val"),
        F.array_max(v).alias("max_val"),
        pround(l2_norm(F.col("embedding")), 6).alias("l2"),
    )


@q("q_math_funcs")
def q_math_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star math surface (per-row IEEE arithmetic — unrounded)."""
    li = T(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))).alias(
            "net_price"
        ),
        F.abs(F.col("l_quantity") - F.lit(25.0)).alias("qty_dev"),
        F.ceil(F.col("l_tax") * F.lit(100.0)).alias("tax_pct_ceil"),
    )


# ---------------------------------------------------------------------------
# §2.9 Sorts / §2.10 Set ops
# ---------------------------------------------------------------------------

@q("q_orderby")
def q_orderby(spark: SparkSession, sf_dir: str) -> DataFrame:
    od = T(spark, sf_dir, "orders")
    return od.orderBy("o_orderdate", "o_orderkey").select(
        "o_orderkey", F.col("o_orderdate").cast("date").alias("odate"), "o_totalprice"
    )


@q("q_topk")
def q_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plans as TakeOrderedAndProject — per-partition heaps, no full sort."""
    od = T(spark, sf_dir, "orders")
    return (
        od.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .select("o_orderkey", "o_totalprice")
        .limit(15)
    )


@q("q_union")
def q_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    cu = T(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nk"))
    su = T(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nk"))
    return cu.unionByName(su)


@q("q_intersect")
def q_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    cu = T(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nk"))
    su = T(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nk"))
    return cu.intersect(su)


@q("q_except")
def q_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT ALL with real multiset semantics: per nation key, customers
    outnumber suppliers, so the result keeps max(0, n_cust - n_supp)
    copies of each key — non-empty by construction (the earlier
    custkey-based variant returned zero rows, a vacuous hash check)."""
    cu = T(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("k"))
    su = T(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("k"))
    return cu.exceptAll(su)


# ---------------------------------------------------------------------------
# §2.11 Event-time windows (batch-checked) + streaming
# ---------------------------------------------------------------------------

@q("q_window_tumbling")
def q_window_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tumbling_agg(T(spark, sf_dir, "events"))


@q("q_window_sliding")
def q_window_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sliding_agg(T(spark, sf_dir, "events"))


@q("q_window_session")
def q_window_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    return session_agg(T(spark, sf_dir, "events"))


@q("q_retention_cohort")
def q_retention_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention over the events table: users cohorted by first
    active day, distinct actives per (cohort, day offset) — the standard
    product-analytics rollup.  The cohort day is a window min over the
    user partition of the deduped (user, day) table: one shuffle on
    user_id, no groupBy + join-back."""
    ud = (
        T(spark, sf_dir, "events")
        .select("user_id", F.to_date("ts").alias("d"))
        .distinct()
    )
    w = ud.withColumn(
        "cohort", F.min("d").over(Window.partitionBy("user_id"))
    )
    return w.groupBy(
        F.date_format("cohort", "yyyy-MM-dd").alias("cohort_day"),
        F.datediff(F.col("d"), F.col("cohort")).alias("day_offset"),
    ).agg(F.countDistinct("user_id").alias("n_users"))


@q("q_funnel")
def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel over events: users who viewed, then clicked *after*
    the first view, then purchased *after* that click.  Three chained
    conditional window-minima over the same user partition — ONE shuffle
    (Catalyst reuses the partitioning across the stacked windows), no
    self-joins, which is what makes the shape viable on a 100 TB event
    log."""
    ev = T(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    w = Window.partitionBy("user_id")
    staged = (
        ev.withColumn(
            "t_view",
            F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w),
        )
        .withColumn(
            "t_click",
            F.min(
                F.when(
                    (F.col("event_type") == "click")
                    & (F.col("ts") > F.col("t_view")),
                    F.col("ts"),
                )
            ).over(w),
        )
        .withColumn(
            "t_purchase",
            F.min(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("ts") > F.col("t_click")),
                    F.col("ts"),
                )
            ).over(w),
        )
    )
    users = staged.select("user_id", "t_view", "t_click", "t_purchase").distinct()
    return users.agg(
        F.count(F.when(F.col("t_view").isNotNull(), 1)).alias("n_view"),
        F.count(F.when(F.col("t_click").isNotNull(), 1)).alias("n_click"),
        F.count(F.when(F.col("t_purchase").isNotNull(), 1)).alias("n_purchase"),
    )


@q("q_funnel_horizon")
def q_funnel_horizon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-BOUNDED ordered funnel: view → click within 48h of the first
    view → purchase within 48h of that click — the production funnel
    form (an unbounded window overcounts: a purchase a year later is not
    conversion).  Same one-shuffle stacked-conditional-window shape as
    q_funnel, each stage's predicate adding the horizon upper bound via
    exact interval arithmetic on the event timestamp; Catalyst reuses
    the single user partitioning across all three window minima."""
    ev = T(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    w = Window.partitionBy("user_id")
    horizon = F.expr("INTERVAL 48 HOURS")
    staged = (
        ev.withColumn(
            "t_view",
            F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w),
        )
        .withColumn(
            "t_click",
            F.min(
                F.when(
                    (F.col("event_type") == "click")
                    & (F.col("ts") > F.col("t_view"))
                    & (F.col("ts") <= F.col("t_view") + horizon),
                    F.col("ts"),
                )
            ).over(w),
        )
        .withColumn(
            "t_purchase",
            F.min(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("ts") > F.col("t_click"))
                    & (F.col("ts") <= F.col("t_click") + horizon),
                    F.col("ts"),
                )
            ).over(w),
        )
    )
    users = staged.select(
        "user_id", "t_view", "t_click", "t_purchase"
    ).distinct()
    return users.agg(
        F.count(F.when(F.col("t_view").isNotNull(), 1)).alias("n_view"),
        F.count(F.when(F.col("t_click").isNotNull(), 1)).alias(
            "n_click_48h"
        ),
        F.count(F.when(F.col("t_purchase").isNotNull(), 1)).alias(
            "n_purchase_48h"
        ),
    )


@q("q_time_to_convert")
def q_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel latency distribution: how long converters take from first
    view to first subsequent purchase, as a DECILE ladder (n, min, max
    seconds per decile) — the metric that turns q_funnel's counts into
    an SLA.  Durations are exact integer milliseconds; deciles come from
    the DISTRIBUTED `global_rank` + NTILE closed form over
    (duration, user_id) — a total order, so the banding is
    engine-identical — and each band reports exact integer min/max
    converted to seconds by one division."""
    from .operators.rank import global_rank, ntile_from_rank

    ev = T(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    w = Window.partitionBy("user_id")
    t_view = F.min(
        F.when(F.col("event_type") == "view", F.col("ts"))
    ).over(w)
    staged = ev.withColumn("t_view", t_view).withColumn(
        "t_purchase",
        F.min(
            F.when(
                (F.col("event_type") == "purchase")
                & (F.col("ts") > F.col("t_view")),
                F.col("ts"),
            )
        ).over(w),
    )
    conv = (
        staged.select("user_id", "t_view", "t_purchase")
        .distinct()
        .filter(F.col("t_purchase").isNotNull())
        .select(
            "user_id",
            (
                F.unix_millis("t_purchase") - F.unix_millis("t_view")
            ).alias("dur_ms"),
        )
    )
    ranked = global_rank(
        conv,
        [F.col("dur_ms"), F.col("user_id")],
        rank_col="__r",
        total_col="__n",
    )
    return (
        ranked.withColumn(
            "decile", ntile_from_rank(F.col("__r"), F.col("__n"), 10)
        )
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            (F.min("dur_ms") / F.lit(1000.0)).alias("min_s"),
            (F.max("dur_ms") / F.lit(1000.0)).alias("max_s"),
        )
    )


@q("q_stream_watermark")
def q_stream_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T4 (hash-checked): Structured Streaming with watermark, run to
    completion with availableNow.  The single-file backfill is one
    micro-batch, so the complete-mode result is exactly the batch
    tumbling aggregate (first-batch watermark is epoch 0: nothing
    dropped) — proving batch/stream unification against the oracle; the
    multi-batch late-drop semantics are pinned by
    tests/test_streaming.py."""
    schema = (
        "event_id bigint, ts bigint, user_id bigint, event_type string, "
        "value double, props string"
    )
    return streaming_tumbling_with_watermark(
        spark, f"{sf_dir}/events.parquet", schema
    )


@q("q_stream_session")
def q_stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T3 (hash-checked): streaming session windows under a watermark —
    the stateful twin of batch q_window_session, and equal to it on a
    single-batch availableNow backfill (hence the shared oracle)."""
    from .streaming.windows import streaming_session_with_watermark

    schema = (
        "event_id bigint, ts bigint, user_id bigint, event_type string, "
        "value double, props string"
    )
    return streaming_session_with_watermark(
        spark, f"{sf_dir}/events.parquet", schema
    )


@q("q_stream_topk")
def q_stream_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T-family (hash-checked): per-window top-3 event types maintained
    by a STREAM — counts live in watermark-bounded streaming state, the
    rank runs at read time over the maintained aggregate (ranking is not
    a streaming operator and shouldn't be: a rank can retroactively
    demote rows; the serving split is how live dashboards work).  On a
    single-file availableNow backfill the maintained state equals the
    batch tumbling counts, so the ranked output is checkable against the
    plain SQL oracle."""
    from .streaming.windows import streaming_windowed_topk

    return streaming_windowed_topk(spark, f"{sf_dir}/events.parquet")


@q("q_stream_join")
def q_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T-family (hash-checked): watermarked stream-stream interval join
    — purchases within 30 min after a click, per user.  One batch holds
    both sides fully in state, so the append-mode output is the batch
    interval join, checkable against the SQL oracle."""
    from .streaming.joins import streaming_interval_join

    return streaming_interval_join(spark, f"{sf_dir}/events.parquet")


@q("q_stream_join_outer")
def q_stream_join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T+ (hash-checked): LEFT OUTER watermarked stream-stream join —
    the abandoned-click feed (clicks that provably got no purchase in
    the 30-minute window) plus the converted pairs, null-padded rows
    emitted by STATE EVICTION when the global watermark passes a
    click's join window.  What the hash-check certifies is the
    eviction rule itself: the DuckDB oracle computes the same
    "click_ts + 30 min < min(per-stream max) − 1 h" predicate in
    batch SQL (the global watermark is the MIN across both inputs'
    watermarks — streaming/joins.py documents the contract), so the
    trailing clicks deliberately retained in state at stream end are
    absent from BOTH engines.  Scale shape: symmetric hash-join state
    bounded by the watermark horizon on each side."""
    from .streaming.joins import streaming_interval_join_outer

    return streaming_interval_join_outer(
        spark, f"{sf_dir}/events.parquet"
    )


@q("q_stream_join_full")
def q_stream_join_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T+ (hash-checked): FULL OUTER watermarked stream-stream join —
    q_stream_join_outer's eviction contract certified on BOTH sides:
    abandoned clicks (click_ts + 30 min < wm) AND organic purchases
    with no preceding click (purchase_ts < wm) emit null-padded when
    the global watermark (min of the per-stream watermarks) proves no
    match can still arrive; trailing rows on each side deliberately
    stay in state and are absent from BOTH engines.  Scale shape:
    symmetric hash-join state bounded by the watermark horizon per
    side."""
    from .streaming.joins import streaming_interval_join_full

    return streaming_interval_join_full(
        spark, f"{sf_dir}/events.parquet"
    )


@q("q_stream_dedup")
def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5 (hash-checked on the key set): dropDuplicatesWithinWatermark
    stateful dedup.  The surviving key set is the operator's
    deterministic contract (which row wins is arrival-order-dependent),
    so that projection is what the oracle checks."""
    from .streaming.joins import streaming_dedup

    return streaming_dedup(spark, f"{sf_dir}/events.parquet")


@q("q_stream_merge")
def q_stream_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5+ (hash-checked): the streaming incremental-merge sink end to
    end.  The events feed is split into 3 files and streamed one file per
    micro-batch (availableNow) through ``foreachBatch`` keep-latest
    upserts into a versioned parquet table (streaming/sink.py: atomic
    pointer publish, batch-id replay idempotence); the returned snapshot
    is the latest event per user.  Because the merge is commutative over
    batch boundaries, the published state equals the batch arg-max — so
    unlike the other q_stream_* entries this one is fully
    oracle-checkable, proving the sink's multi-batch semantics, not just
    that it ran.

    Note: the ``repartition(3).write`` below is CERTIFICATION
    SCAFFOLDING — it copies the fixture once so availableNow can replay
    it as 3 real micro-batches.  A production deployment points
    ``readStream`` at the live source directly; the copy is not part of
    the operator's cost."""
    import os
    import tempfile

    from .streaming.sink import current_snapshot, merge_stream_into_parquet

    ev = T(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    tmp = _fixture_dir("q_stream_merge", fresh_name=True)
    src = os.path.join(tmp, "src")
    ev.repartition(3).write.parquet(src)
    stream = (
        spark.readStream.schema(
            "event_id bigint, ts timestamp, user_id bigint, "
            "event_type string, value double"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    qh = merge_stream_into_parquet(
        stream,
        os.path.join(tmp, "table"),
        key_col="user_id",
        order_col="ts",
        tiebreak_col="event_id",
        checkpoint_dir=os.path.join(tmp, "ckpt"),
        query_name="q_stream_merge",
    )
    qh.awaitTermination()
    snap = current_snapshot(spark, os.path.join(tmp, "table"))
    return snap.select(
        "user_id",
        F.unix_timestamp("ts").alias("ts_epoch"),
        "event_id",
        "event_type",
        "value",
    )


@q("q_stream_hll_distinct")
def q_stream_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T+ sketch capstone (hash-checked): daily distinct users maintained
    by a STREAM as a mergeable HLL register table — the streaming face
    of q_rolling_distinct_hll.  The events feed is split into 3 files
    and streamed one file per micro-batch (availableNow); the stream's
    state is the per-(day, bucket) MAX-rho register table (bounded:
    days × m rows, m=1024 — never per-user state), and because max is
    commutative/idempotent over batch boundaries the final maintained
    state equals the batch registers EXACTLY, so the read-time estimate
    hash-checks against the batch daily-HLL oracle — certifying the
    multi-batch merge semantics, not just that the stream ran (the
    q_stream_merge discipline).  Serving split as in q_stream_topk: the
    stream maintains registers, the Flajolet estimator (identical
    harmonic/linear-counting arithmetic to q_rolling_distinct_hll) runs
    at read time.  At 100 TB/day this is THE streaming-distinct shape:
    state is m registers per day regardless of event volume.

    Note: the ``repartition(3).write`` below is CERTIFICATION
    SCAFFOLDING — it copies the fixture once so availableNow can replay
    it as 3 real micro-batches.  A production deployment points
    ``readStream`` at the live source directly; the copy is not part of
    the operator's cost."""
    import os

    m = 1024
    alpha = 0.7213 / (1.0 + 1.079 / m)
    ev = T(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    tmp = _fixture_dir("q_stream_hll", fresh_name=True)
    src = os.path.join(tmp, "src")
    ev.repartition(3).write.parquet(src)
    h = F.md5(F.col("user_id").cast("string"))
    h1 = F.conv(F.substring(h, 1, 8), 16, 10).cast("bigint")
    h2 = F.conv(F.substring(h, 9, 8), 16, 10).cast("bigint")
    stream = (
        spark.readStream.schema(
            "event_id bigint, ts timestamp, user_id bigint, "
            "event_type string, value double"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    regs = (
        stream.select(
            F.to_date("ts").alias("day"),
            (h1 % m).alias("bucket"),
            (F.lit(33) - F.length(F.bin(h2))).alias("rho"),
        )
        .groupBy("day", "bucket")
        .agg(F.max("rho").alias("reg"))
    )
    qname = "tbl_" + os.path.basename(tmp)
    q = (
        regs.writeStream.format("memory")
        .queryName(qname)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    stats = (
        spark.table(qname)
        .select(
            "day",
            F.expr(
                "shiftleft(CAST(1 AS BIGINT), CAST(32 - reg AS INT))"
            ).alias("pd"),
        )
        .groupBy("day")
        .agg(F.count("pd").alias("md_obs"), F.sum("pd").alias("sd_obs"))
    )
    m_empty = (F.lit(m) - F.col("md_obs")).cast("bigint")
    s_total = (F.col("sd_obs") + m_empty * F.lit(4294967296)).cast(
        "bigint"
    )
    raw = (
        F.lit(alpha) * F.lit(float(m * m)) * F.lit(4294967296.0) / s_total
    )
    lc = F.lit(float(m)) * F.log(
        F.lit(float(m)) / F.greatest(m_empty, F.lit(1))
    )
    est = F.when((m_empty > 0) & (raw <= F.lit(2.5 * m)), lc).otherwise(
        raw
    )
    return stats.select("day", pround(est, 4).alias("dau_approx"))


@q("q_stream_static_enrich")
def q_stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T+ the STREAM-STATIC JOIN — the single most common production
    streaming shape (enrich a fact stream with a slowly-changing dim
    before aggregating), exercised over 3 REAL micro-batches and
    hash-checked: events stream one file per trigger (availableNow),
    each micro-batch BROADCAST-joins the static customer-segment dim
    (left, miss → 'UNKNOWN' — the S1/J1 miss-default discipline), and
    the running state is the per-(segment, event_type) count + exact
    cents sum.  Both aggregates are commutative integer adds, so the
    3-batch maintained state equals the batch result EXACTLY and the
    final table hash-checks against the plain batch DuckDB oracle —
    certifying the join-inside-the-stream semantics across batch
    boundaries.  At 100 TB/day this is the canonical enrichment plan:
    the dim broadcasts once per trigger, the stream never shuffles
    until the bounded post-join aggregation.

    The ``repartition(3).write`` is certification scaffolding (the
    q_stream_hll_distinct note): production points readStream at the
    live source."""
    import os

    ev = T(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    tmp = _fixture_dir("q_stream_static", fresh_name=True)
    src = os.path.join(tmp, "src")
    ev.repartition(3).write.parquet(src)
    dim = T(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"),
        F.col("c_mktsegment").alias("segment"),
    )
    stream = (
        spark.readStream.schema(
            "event_id bigint, ts timestamp, user_id bigint, "
            "event_type string, value double"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    enriched = stream.join(F.broadcast(dim), "user_id", "left").select(
        F.coalesce("segment", F.lit("UNKNOWN")).alias("segment"),
        "event_type",
        F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5))
        .cast("bigint")
        .alias("cents"),
    )
    agg = enriched.groupBy("segment", "event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("cents").alias("cents_sum"),
    )
    qname = "tbl_" + os.path.basename(tmp)
    q = (
        agg.writeStream.format("memory")
        .queryName(qname)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(qname).select(
        "segment",
        "event_type",
        F.col("n_events").cast("bigint").alias("n_events"),
        F.col("cents_sum").cast("bigint").alias("cents_sum"),
        (F.col("cents_sum") / F.lit(100.0)).alias("value_sum"),
    )


@q("q_stream_hist_quantile")
def q_stream_hist_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T+ sketch capstone #2 (round-7 verdict task 6): daily value
    quantiles maintained by a STREAM as a fixed-width histogram state
    table — the streaming face of q_approx_percentile_hist, mirroring
    the q_stream_hll_distinct discipline exactly.  The events feed is
    split into 3 files and streamed one file per micro-batch
    (availableNow); the stream's state is the per-(day, bucket) COUNT
    table (bucket = cents div 50 — bounded: days × value-range/0.50
    rows, never per-event state), and because counts are COMMUTATIVE
    ADDS over batch boundaries the converged maintained state equals
    the batch histogram EXACTLY, so the read-time quantiles hash-check
    against the batch oracle — certifying the multi-batch merge
    semantics, not just that the stream ran.  Serving split as in
    q_stream_hll_distinct: the stream maintains bins, the integer
    ceil-rank percentile read (identical arithmetic to
    q_approx_percentile_hist) runs at read time on ≤1k bins per day.
    At 100 TB/day this is THE streaming-quantile shape (order-free and
    mergeable, unlike GK/KLL whose state is merge-order-dependent):
    state is bins/day regardless of event volume.

    Note: the ``repartition(3).write`` below is CERTIFICATION
    SCAFFOLDING — it copies the fixture once so availableNow can replay
    it as 3 real micro-batches.  A production deployment points
    ``readStream`` at the live source directly; the copy is not part of
    the operator's cost."""
    import os

    ev = T(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    tmp = _fixture_dir("q_stream_histq", fresh_name=True)
    src = os.path.join(tmp, "src")
    ev.repartition(3).write.parquet(src)
    stream = (
        spark.readStream.schema(
            "event_id bigint, ts timestamp, user_id bigint, "
            "event_type string, value double"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    hist = (
        stream.select(
            F.to_date("ts").alias("day"),
            F.expr(
                "CAST(floor(value * 100 + 0.5) AS BIGINT) div 50"
            ).alias("bucket"),
        )
        .groupBy("day", "bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    qname = "tbl_" + os.path.basename(tmp)
    q_ = (
        hist.writeStream.format("memory")
        .queryName(qname)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q_.awaitTermination()
    w_cum = (
        Window.partitionBy("day")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_tot = Window.partitionBy("day")
    cum = spark.table(qname).select(
        "day",
        "bucket",
        F.sum("c").over(w_cum).alias("cum"),
        F.sum("c").over(w_tot).alias("n"),
    )

    def pct(p_num: int, p_den: int, name: str) -> F.Column:
        need = F.expr(f"(n * {p_num} + {p_den} - 1) div {p_den}")
        return F.min(
            F.when(F.col("cum") >= need, F.col("bucket") * 50)
        ).cast("bigint").alias(name)

    return cum.groupBy("day").agg(
        F.max("n").cast("bigint").alias("n_rows"),
        pct(50, 100, "p50_cents"),
        pct(95, 100, "p95_cents"),
    )


@q("q_stream_cms_heavy")
def q_stream_cms_heavy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T+ sketch capstone #3: heavy hitters maintained by a STREAM as a
    count-min sketch state table — completing the mergeable-sketch
    streaming trilogy (q_stream_hll_distinct: max-merge registers;
    q_stream_hist_quantile: add-merge bins; this: add-merge CMS
    counters, the q_countmin_heavy batch sketch as streaming state).
    The events feed is split into 3 files and streamed one file per
    micro-batch (availableNow); the stream's state is the d=4 × w=256
    counter table (bounded: ≤1024 rows, never per-user state), and
    because counter increments are COMMUTATIVE ADDS over batch
    boundaries the converged state equals the batch sketch EXACTLY, so
    the read-time point queries hash-check against the batch oracle.
    Serving split as in the siblings: the stream maintains counters,
    the min-over-rows point estimate for the top-10 heaviest users
    (deterministic user_id tie-break) runs at read time, with exact
    counts alongside so the CMS overcount is visible data.  At 100 TB
    this is the streaming heavy-hitter shape: state is d·w counters
    regardless of event volume.

    Note: the ``repartition(3).write`` below is CERTIFICATION
    SCAFFOLDING — it copies the fixture once so availableNow can replay
    it as 3 real micro-batches.  A production deployment points
    ``readStream`` at the live source directly; the copy is not part of
    the operator's cost."""
    import os

    ev = T(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    tmp = _fixture_dir("q_stream_cms", fresh_name=True)
    src = os.path.join(tmp, "src")
    ev.repartition(3).write.parquet(src)
    js = F.explode(F.array(*[F.lit(i) for i in range(4)])).alias("j")
    slot = (_h32(F.concat_ws(":", "j", "user_id")) % 256).alias("slot")
    stream = (
        spark.readStream.schema(
            "event_id bigint, ts timestamp, user_id bigint, "
            "event_type string, value double"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    counters = (
        stream.select("user_id", js)
        .select("j", slot)
        .groupBy("j", "slot")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    qname = "tbl_" + os.path.basename(tmp)
    q_ = (
        counters.writeStream.format("memory")
        .queryName(qname)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q_.awaitTermination()
    base = spark.read.parquet(src).select("user_id")
    probes = base.distinct().select("user_id", js).select(
        "user_id", "j", slot
    )
    est = (
        probes.join(spark.table(qname), ["j", "slot"])
        .groupBy("user_id")
        .agg(F.min("c").alias("est_count"))
    )
    exact = base.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("exact_count")
    )
    return (
        est.join(exact, "user_id")
        .orderBy(F.col("exact_count").desc(), "user_id")
        .limit(10)
        .select(
            "user_id",
            "est_count",
            "exact_count",
            (F.col("est_count") - F.col("exact_count")).alias("overcount"),
        )
    )


@q("q_synthetic_events")
def q_synthetic_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python Data Source API (hash-checked): 2000 rows from the
    deterministic synthetic events generator (sources/synthetic.py — no
    files, rows synthesized in executors from a splitmix64 row hash).
    The DuckDB oracle re-derives every column from the same integer
    recurrence in pure SQL (UHUGEINT mod-2^64 arithmetic), so the hash
    match proves the generator is engine-portable bit-for-bit — the
    property that lets tests at any scale assert exact content without
    storing fixtures.  Ignores ``sf_dir`` by design: the source IS the
    data."""
    from .sources.synthetic import SyntheticEventsDataSource

    try:
        spark.dataSource.register(SyntheticEventsDataSource)
    except Exception:
        pass  # already registered in this session
    df = (
        spark.read.format("synthetic_events")
        .option("rows", 2000)
        .option("partitions", 4)
        .option("numUsers", 100)
        .load()
    )
    return df.select(
        "event_id",
        F.unix_micros("ts").alias("ts_us"),
        "user_id",
        "event_type",
        "value",
    )


# ---------------------------------------------------------------------------
# §2.12 LLM-pipeline operators
# ---------------------------------------------------------------------------

@q("q_dedup_exact")
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L1: exact dedup groups by sha-256 content hash."""
    return exact_dedup_groups(T(spark, sf_dir, "documents"), "text", "doc_id")


@q("q_dedup_near")
def q_dedup_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2 (rows-only): MinHash+LSH candidate pairs."""
    docs = T(spark, sf_dir, "documents")
    return minhash_lsh_candidates(docs, "text", "doc_id")


@q("q_dedup_ngram_jaccard")
def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2-exact: n-gram Jaccard similarity pairs (subset for pair bound).

    n=2 shingles and a low threshold so the word-salad testdata actually
    yields scored pairs — the hash check then covers join + ratio math,
    not just an empty result."""
    docs = T(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 0)
    return ngram_jaccard_pairs(docs, "text", "doc_id", n=2, threshold=0.01)


@q("q_dedup_containment")
def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2-family: directed shingle CONTAINMENT |S_a ∩ S_b| / |S_a| —
    the doc-inside-doc detector Jaccard dilutes (a short document quoted
    verbatim in a long one has near-1 containment but tiny Jaccard).
    Same %10 subset as the Jaccard twin; threshold 20% applied in exact
    integer arithmetic before the pinned ratio is emitted."""
    from .operators.dedup import containment_pairs

    docs = T(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 0)
    return containment_pairs(docs, "text", "doc_id", n=2, min_pct=20)


@q("q_setsim_prefix_join")
def q_setsim_prefix_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2-exact at corpus scale: prefix-filtering set-similarity join
    (AllPairs/PPJoin family) — EXACT Jaccard >= 0.8 over 3-gram shingles
    on the FULL documents table, no sampling.  Unlike the %10-subset
    all-pairs twin (q_dedup_ngram_jaccard), candidates here join only on
    each document's rarest-first shingle prefix, so the common-shingle
    skew never enters the join; the prefix lemma makes the result
    bit-identical to the all-pairs join at the same threshold (the
    oracle IS the all-pairs formulation over the same representatives).
    3-gram shingles + the 0.8 near-dup threshold are the standard dedup
    setting (and match the MinHash pipeline's shingle_n=3) — and they're
    what makes the prefix index selective: at 0.8 the indexed prefix is
    only the rarest ~20% of each doc's shingles, so candidate volume
    stays near the true pair count even on this small-vocabulary
    synthetic corpus (measured: ~9M candidate pairs at t=0.2/2-gram vs
    ~5s end-to-end here).  Exact duplicates collapse FIRST (min-id
    representative per distinct text) — the same rule the MinHash
    pipeline mandates: identical texts are dist-0 cliques whose pair
    count is quadratic by definition (a 1/8-duplicate 500k corpus OOMs
    without the collapse), and a dedup consumer wants each duplicate
    GROUP represented once, not |group|² J=1 rows."""
    from .operators.dedup import exact_dedup

    docs = exact_dedup(T(spark, sf_dir, "documents"), "text", "doc_id")
    return prefix_jaccard_pairs(docs, "text", "doc_id", n=3, t_num=4, t_den=5)


#: Count bound on the exact-Jaccard TRUTH side of the dedup evals: the
#: truth sample is the TRUTH_SAMPLE_K docs with the smallest
#: md5(doc_id) hex (tie-break doc_id) — a pure function of the row key
#: (the q_corpus_sample discipline) that is COUNT-bounded, so truth
#: generation cost is flat at any corpus size (VERDICT r10 #2).  At
#: sf0.001/sf0.01 the bound exceeds the corpus, so the sample IS the
#: full corpus and the eval stays non-vacuous at the test SFs.
TRUTH_SAMPLE_K = 1024


def _truth_sample(docs: DataFrame, k: int | None) -> DataFrame:
    """Deterministic count-bounded doc sample for exact-truth
    generation: order by (md5(doc_id), doc_id), keep k.  ``k=None``
    returns the full frame (the full-truth flag).  Lowercase-hex md5
    orders identically in Spark and DuckDB, so the oracle reproduces
    the exact sample.  Plan: TakeOrderedAndProject — k rows, no full
    sort shuffle."""
    if k is None:
        return docs
    return (
        docs.withColumn("__h", F.md5(F.col("doc_id").cast("string")))
        .orderBy("__h", "doc_id")
        .limit(k)
        .drop("__h")
    )


@q("q_blocking_quality")
def q_blocking_quality(
    spark: SparkSession, sf_dir: str, truth_k: int | None = TRUTH_SAMPLE_K
) -> DataFrame:
    """BLOCKING-SCHEME evaluation [Christen 2012's pair-completeness /
    reduction-ratio, the record-linkage standard] — the number that
    decides whether the MinHash-LSH banding config is safe to trust at
    100 TB: ground truth = the EXACT Jaccard ≥ 0.5 pairs (the
    deterministic prefix-filter join, q_setsim machinery at a looser
    threshold), blocking = the 16-hash/4-band LSH candidate pairs, and
    the report is PC = caught/truth (what fraction of true near-dups
    the blocking can still see — recall of the CANDIDATE stage, the
    only unrecoverable loss in the whole dedup pipeline) and
    RR = 1 − candidates/(n choose 2) (what fraction of the quadratic
    pair space it never has to score).  Both sides are deterministic —
    exact integer Jaccard and md5-family banding — so the evaluation
    itself hash-checks.  Exact duplicates collapse first (min-id
    representative), as both pipelines mandate.  Scale shape: the two
    pair generators' own documented shapes (prefix-bounded /
    bucket-bounded joins); the eval adds one pair-key join and a 1-row
    aggregate.  TRUTH SAMPLING (VERDICT r10 #2 — the r10 sweep
    measured 6.6× wall growth at 10× volume, all of it exact-truth
    generation at the loose t=0.5 threshold): truth is computed on the
    deterministic COUNT-bounded ``_truth_sample`` (TRUTH_SAMPLE_K docs
    by smallest md5(doc_id); full corpus at the test SFs, flat cost at
    any scale), PC = caught/truth over SAMPLED pairs, and the
    ``sampled_docs`` column makes the denominator honest.  RR stays
    full-corpus (the candidate count is cheap).  Full truth via
    ``truth_k=None``."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    from .operators.dedup import exact_dedup, minhash_lsh_candidates

    docs = cut_lineage(
        exact_dedup(T(spark, sf_dir, "documents"), "text", "doc_id")
    )

    # Same driver-thread overlap as q_dedup_cluster_quality (guide
    # §2.6): the sampled-truth chain and the LSH candidate chain are
    # independent job-latency-bound pipelines; building them
    # concurrently overlaps their job floors without touching results.
    # inheritable_thread_target hands the worker thread the caller's
    # job group, description and tags, so its jobs stay attributable.
    def _build_truth():
        samp = cut_lineage(_truth_sample(docs, truth_k))
        truth = cut_lineage(
            prefix_jaccard_pairs(
                samp, "text", "doc_id", n=3, t_num=1, t_den=2
            ).select("id_a", "id_b")
        )
        return samp, truth

    with ThreadPoolExecutor(max_workers=2) as _pool:
        _truth_f = _pool.submit(inheritable_thread_target(spark)(_build_truth))
        cand = cut_lineage(
            minhash_lsh_candidates(docs, "text", "doc_id").select(
                "id_a", "id_b"
            )
        )
        samp, truth = _truth_f.result()
    n_row = docs.agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    s_row = samp.agg(
        F.count(F.lit(1)).cast("bigint").alias("sampled_docs")
    )
    t_row = truth.agg(F.count(F.lit(1)).cast("bigint").alias("true_pairs"))
    c_row = cand.agg(
        F.count(F.lit(1)).cast("bigint").alias("candidate_pairs")
    )
    g_row = (
        truth.join(cand, ["id_a", "id_b"])
        .agg(F.count(F.lit(1)).cast("bigint").alias("caught_pairs"))
    )
    j = (
        n_row.join(F.broadcast(s_row))
        .join(F.broadcast(t_row))
        .join(F.broadcast(c_row))
        .join(F.broadcast(g_row))
    )
    total_pairs = F.expr("n_docs * (n_docs - 1) div 2")
    pc = F.when(
        F.col("true_pairs") > 0,
        F.col("caught_pairs").cast("double")
        / F.col("true_pairs").cast("double"),
    )
    rr = F.lit(1.0) - F.col("candidate_pairs").cast(
        "double"
    ) / total_pairs.cast("double")
    return j.select(
        "n_docs",
        "sampled_docs",
        "true_pairs",
        "candidate_pairs",
        "caught_pairs",
        pround(pc, 6).alias("pair_completeness"),
        pround(rr, 6).alias("reduction_ratio"),
    )


@q("q_dedup_cluster_quality")
def q_dedup_cluster_quality(
    spark: SparkSession, sf_dir: str, truth_k: int | None = TRUTH_SAMPLE_K
) -> DataFrame:
    """CLUSTER-level dedup evaluation — q_blocking_quality measures the
    CANDIDATE stage (can LSH still see the true pairs?); this measures
    the FINAL OUTPUT: pair precision / recall / F1 of the connected
    components q_dedup_near_clusters actually emits, against the exact
    Jaccard ≥ 0.5 truth pairs.  Recall here is what survives banding
    AND clustering; precision exposes the transitive-closure
    over-merge (a star edge chains a≈b≈c into one component even when
    a~c is below threshold — the known CC failure mode, visible as
    data).  predicted_pairs = Σ_c C(s_c, 2) from component SIZES —
    never enumerated, so a mega-component cannot blow up the eval; the
    true-positive count joins the truth pairs (prefix-filter bounded)
    to the component labels, linear.  Both pipelines are deterministic
    (exact integer Jaccard, md5-family banding, min-label CC), so the
    evaluation itself hash-checks.  Exact duplicates collapse first,
    as both pipelines mandate.  TRUTH SAMPLING (VERDICT r10 #2 — the
    exact-truth side measured 6.6× at the r10 10× sweep): truth pairs
    come from the COUNT-bounded deterministic ``_truth_sample``
    (TRUTH_SAMPLE_K docs; full corpus at the test SFs), and P/R/F1 are
    computed on the SAMPLE-INDUCED pair space — predicted_pairs is
    Σ C(s,2) over each component's SAMPLED member count (still derived
    from sizes, never enumerated), so precision compares like with
    like.  ``sampled_docs`` makes the denominator honest; full truth
    via ``truth_k=None``.  Clustering itself always runs on the full
    corpus — only the ground-truth side is sampled."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    from .operators.dedup import exact_dedup, minhash_lsh_dup_clusters

    docs = cut_lineage(
        exact_dedup(T(spark, sf_dir, "documents"), "text", "doc_id")
    )

    # The truth side (sample -> exact prefix-Jaccard pairs) and the
    # predicted side (LSH banding -> connected components) are
    # INDEPENDENT until the final pair joins, and both are chains of
    # small actions (lineage cuts, CC convergence checks) — the query's
    # profile is ~50 sequential SQL executions with no stage above
    # ~2 cpu-s, a pure job-latency floor.  Build them on two driver
    # threads so their job floors overlap (guide §2.6: the scheduler
    # runs concurrent jobs FIFO and back-fills idle cores; both
    # branches are deterministic, so results are unaffected).  `docs`
    # is cut EAGERLY above so the branches share materialized blocks
    # instead of racing to compute them.
    def _build_truth():
        samp = cut_lineage(_truth_sample(docs, truth_k))
        truth = cut_lineage(
            prefix_jaccard_pairs(
                samp, "text", "doc_id", n=3, t_num=1, t_den=2
            ).select("id_a", "id_b")
        )
        return samp, truth

    def _build_comp():
        return cut_lineage(
            minhash_lsh_dup_clusters(
                docs.select("doc_id", "text"), "text", "doc_id"
            )
        )

    with ThreadPoolExecutor(max_workers=2) as _pool:
        _truth_f = _pool.submit(inheritable_thread_target(spark)(_build_truth))
        comp = _build_comp()
        samp, truth = _truth_f.result()
    samp_ids = samp.select(F.col("doc_id").alias("node"))
    pred_row = (
        comp.join(samp_ids, "node")
        .groupBy("component")
        .agg(F.count(F.lit(1)).alias("s"))
        .agg(
            F.coalesce(F.sum(F.expr("s * (s - 1) div 2")), F.lit(0))
            .cast("bigint")
            .alias("predicted_pairs")
        )
    )
    s_row = samp.agg(
        F.count(F.lit(1)).cast("bigint").alias("sampled_docs")
    )
    ca = comp.select(
        F.col("node").alias("id_a"), F.col("component").alias("comp_a")
    )
    cb = comp.select(
        F.col("node").alias("id_b"), F.col("component").alias("comp_b")
    )
    tp_row = (
        truth.join(ca, "id_a")
        .join(cb, "id_b")
        .filter(F.col("comp_a") == F.col("comp_b"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("tp_pairs"))
    )
    t_row = truth.agg(
        F.count(F.lit(1)).cast("bigint").alias("true_pairs")
    )
    j = (
        t_row.join(F.broadcast(s_row))
        .join(F.broadcast(pred_row))
        .join(F.broadcast(tp_row))
    )
    prec = F.when(
        F.col("predicted_pairs") > 0,
        F.col("tp_pairs").cast("double")
        / F.col("predicted_pairs").cast("double"),
    )
    rec = F.when(
        F.col("true_pairs") > 0,
        F.col("tp_pairs").cast("double")
        / F.col("true_pairs").cast("double"),
    )
    f1 = F.when(
        F.col("predicted_pairs") + F.col("true_pairs") > 0,
        F.lit(2.0)
        * F.col("tp_pairs").cast("double")
        / (F.col("predicted_pairs") + F.col("true_pairs")).cast("double"),
    )
    return j.select(
        "sampled_docs",
        "true_pairs",
        "predicted_pairs",
        "tp_pairs",
        pround(prec, 6).alias("pair_precision"),
        pround(rec, 6).alias("pair_recall"),
        pround(f1, 6).alias("pair_f1"),
    )


@q("q_dedup_containment_lsh")
def q_dedup_containment_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2 at corpus scale: directed containment verified ONLY on LSH
    candidate pairs — the bucket-first shape q_dedup_containment's %10
    subset stands in for.  Exact duplicates collapse FIRST (the rule
    minhash_lsh_candidates' own docstring mandates: identical texts are
    dist-0 cliques, and pair enumeration is |bucket|² — collapsing them
    is what keeps dup-heavy buckets bounded); banding then prunes the
    distinct-text corpus to likely pairs, and the exact 2-gram
    containment costs |candidates|·shingles rows instead of the
    all-pairs shingle self-join.  Runs over the full table, no %
    sampling."""
    from .operators.dedup import (
        containment_for_pairs,
        exact_dedup,
        minhash_lsh_candidates,
    )

    docs = exact_dedup(
        T(spark, sf_dir, "documents"), "text", "doc_id"
    )
    cand = minhash_lsh_candidates(docs, "text", "doc_id")
    directed = cand.union(
        cand.select(F.col("id_b").alias("id_a"), F.col("id_a").alias("id_b"))
    )
    return containment_for_pairs(
        docs, directed, "text", "doc_id", n=2, min_pct=50
    )


@q("q_dedup_substrings")
def q_dedup_substrings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level dedup (the suffix-array-dedup OUTPUT shape: spans
    to cut, not documents to drop): maximal cross-document duplicated
    passages of >= 8 tokens, as merged [tok_start, tok_end] ranges per
    document.  Window explode -> groupBy(window) duplicate test ->
    equi-join back -> per-document gaps-and-islands merge; shuffle-on-key
    only, no all-pairs stage anywhere."""
    from .operators.dedup import duplicated_passages

    docs = T(spark, sf_dir, "documents")
    return duplicated_passages(docs, "text", "doc_id", k=8)


@q("q_dedup_cut")
def q_dedup_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The substring-dedup FIX applied: detect cross-document duplicated
    passages (q_dedup_substrings) and CUT them everywhere except each
    passage's minimum-doc-id document (the keep-a-copy improvement over
    ExactSubstr's remove-all-copies; the canonical doc keeps its own
    occurrences) — token counts before/after plus an md5 of the cleaned
    text, for all documents (untouched docs keep their token stream and
    pin the no-op path).
    The cut is pure array HOFs joined LEFT against the doc-grain span
    list; the only corpus-wide shuffles are the passage detector's own."""
    from .operators.dedup import cut_passages, duplicated_passages

    # ``spread``: the tokenize + k-token window posexplode otherwise runs
    # inside the single-split scan task (profiled: 0.6 cpu-s serialized
    # map side of the window-text shuffle); the explicit exchange also
    # pre-partitions the doc side of cut_passages' span join.
    docs = spread(T(spark, sf_dir, "documents"), "doc_id")
    spans = duplicated_passages(docs, "text", "doc_id", k=8, keep_canonical=True)
    cut = cut_passages(docs, spans, "text", "doc_id")
    return cut.select(
        "doc_id",
        "n_tokens_before",
        "n_tokens_after",
        F.md5("clean_text").alias("clean_md5"),
    )


@q("q_dedup_simhash")
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2: 64-bit SimHash fingerprints (md5-nibble hash family — portable,
    hash-checked against the equivalent DuckDB bit-vote SQL)."""
    docs = T(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 0)
    return simhash64(docs, "text", "doc_id")


@q("q_embed_neardup")
def q_embed_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2: embedding-cosine near-dup pairs (exact pairwise on a bounded
    subset; the corpus-scale path buckets first — see operators/dedup.py).
    Threshold 0.3 is fixture-tuned: the synthetic embeddings are near-
    orthogonal, so a production 0.9 would make the check vacuous."""
    em = T(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 300)
    return embedding_cosine_pairs(em, threshold=0.3)


@q("q_vector_topk_mmr")
def q_vector_topk_mmr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L3+: DIVERSIFIED retrieval — MMR rerank of the cosine top-20 down
    to 5 results (λ=0.7): each pick penalizes similarity to what's
    already selected, so near-duplicate passages don't crowd the result
    list (the standard RAG rerank).  Candidate pull and the N² pair sims
    are distributed; the inherently-sequential k-step greedy runs on the
    driver over the two collected pinned score tables (N=20 rows — the
    bounded-driver-sync class).  Hash-checked against a recursive-CTE
    oracle that replays the same greedy in SQL."""
    from .operators.similarity import mmr_topk

    em = T(spark, sf_dir, "embeddings")
    return mmr_topk(
        em, _query_vector(spark, sf_dir), n_candidates=20, k=5, lam=0.7
    )


@q("q_stream_stateful")
def q_stream_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5 (hash-checked): custom stateful operator via
    ``applyInPandasWithState`` — per-user profile (count, exact-cents
    value sum, last-seen) carried in the state store.  Integer-cents
    state makes the emission order-free, and a single-file availableNow
    backfill emits exactly one update row per key, so the custom
    operator checks against a plain grouped aggregate oracle."""
    from .streaming.stateful import streaming_user_profiles

    schema = (
        "event_id bigint, ts bigint, user_id bigint, event_type string, "
        "value double, props string"
    )
    return streaming_user_profiles(spark, f"{sf_dir}/events.parquet", schema)


def _query_vector(spark: SparkSession, sf_dir: str) -> list[float]:
    row = (
        T(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") == 0)
        .select(F.col("embedding").cast("array<double>").alias("e"))
        .first()
    )
    return list(row["e"])


@q("q_vector_topk")
def q_vector_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L3: exact brute-force cosine top-k vs the vec_id=0 embedding."""
    em = T(spark, sf_dir, "embeddings")
    return brute_force_topk(em, _query_vector(spark, sf_dir), k=10)


@q("q_vector_topk_ivf")
def q_vector_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L3: IVF-style probe of the nearest label-cells only — HASH-CHECKED
    since round 5 by moving the coarse quantizer to exact integers: cell
    centroids are floor-divided micro-unit means (posexplode → one
    |cells|×dim shuffle, ``div`` integer division), probe selection is
    exact integer L2 computed IN-FRAME (no driver collect — the
    centroid×query join is |cells|×dim rows), and the rerank inside the
    probed cells is the hash-proven cosine top-k.  Float-mean IVF stays
    available as operators/similarity.py ``ivf_topk``; this integer form
    is the reproducible twin.  At 100 TB: centroid build is one bounded
    shuffle, the probe list broadcasts, candidates prune by cell."""
    from .operators.kmeans import bigint_literal, quantize_micro

    em = T(spark, sf_dir, "embeddings")
    query = _query_vector(spark, sf_dir)
    q_micro = bigint_literal([math.floor(x * 1e6 + 0.5) for x in query])
    cents = (
        em.select(
            "label", F.posexplode(quantize_micro("embedding")).alias("pos", "xi")
        )
        .groupBy("label", "pos")
        .agg(F.sum("xi").alias("sx"), F.count(F.lit(1)).alias("n"))
        .select(
            "label",
            "pos",
            F.expr("(sx - ((sx % n) + n) % n) div n").alias("ci"),
        )
    )
    diff = F.col("ci") - F.element_at(q_micro, F.col("pos") + 1)
    probe = (
        cents.groupBy("label")
        .agg(F.sum(diff * diff).alias("d"))
        .orderBy("d", "label")
        .limit(2)
        .select("label")
    )
    cand = em.join(F.broadcast(probe), "label", "left_semi")
    return brute_force_topk(cand, query, k=10)


@q("q_kmeans_cells")
def q_kmeans_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L3: distributed Lloyd's k-means over the embedding corpus — the
    IVF coarse-quantizer trainer, HASH-CHECKED since round 5 via the
    integer-pinned form (operators/kmeans.py kmeans_fit_int): components
    quantize to micro-units, distances are exact bigint Σ(xi−ci)², means
    are floor-divided integer centroids — so three Lloyd rounds produce
    bit-identical models on Spark and on the DuckDB oracle (which unrolls
    the same three rounds in SQL).  Per iteration the model (k×dim int
    literals) rides the plan and only k×dim sufficient-statistic rows
    shuffle; assignment is a pure map.  Output: per-cell sizes + the
    EXACT within-cell squared-distance total in micro-units² (the
    quantity Lloyd's monotonically decreases) — DECIMAL(38,0)
    accumulation internally, BIGINT on the wire (all-integer columns so
    no cross-engine DECIMAL canonicalization enters the value hash)."""
    from .operators.kmeans import (
        kmeans_fit_int,
        nearest_cell_int,
        quantize_micro,
        sq_dist_int,
    )

    em = T(spark, sf_dir, "embeddings")
    model = kmeans_fit_int(em, k=8, iters=3)
    qv = em.select("vec_id", quantize_micro("embedding").alias("__q"))
    assigned = qv.withColumn("cell", nearest_cell_int(F.col("__q"), model))
    dist_cols = [
        F.when(F.col("cell") == i, sq_dist_int(F.col("__q"), c))
        for i, c in enumerate(model)
    ]
    return (
        assigned.withColumn("__d", F.coalesce(*dist_cols))
        .groupBy(F.col("cell").cast("bigint").alias("cell"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
            # Accumulate in DECIMAL(38,0) (overflow-proof), emit BIGINT:
            # sf0.01 totals are ~6e13 — eight orders of headroom under
            # 2^63 — and an all-integer output removes every DECIMAL/INT
            # canonicalization difference between engines from the hash.
            F.sum(F.col("__d").cast("decimal(38,0)"))
            .cast("bigint")
            .alias("sum_sq_dist"),
        )
    )


@q("q_vector_topk_ivf_trained")
def q_vector_topk_ivf_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L3: IVF probe over TRAINED cells — the full index lifecycle with no
    pre-existing labels, HASH-CHECKED since round 5: the coarse quantizer
    is the integer-pinned trainer (bit-identical cross-engine), the probe
    picks the nprobe cells nearest the quantized query by EXACT integer
    L2 (ties to the lower cell — the FAISS-standard L2 coarse quantizer),
    and the rerank inside the probed cells is the already-hash-proven
    cosine top-k.  Probe selection runs driver-side on the k×dim model
    (no job); candidates prune to the probed cells before any scoring —
    at 100 TB, with the index written cell-partitioned
    (``df.write.partitionBy(cell)``), that pruning happens in file
    metadata."""
    from .operators.kmeans import (
        kmeans_fit_int,
        nearest_cell_int,
        quantize_micro,
    )

    em = T(spark, sf_dir, "embeddings")
    model = kmeans_fit_int(em, k=8, iters=2)
    query = _query_vector(spark, sf_dir)
    q_micro = [int(math.floor(x * 1e6 + 0.5)) for x in query]
    scored = sorted(
        (sum((x - y) ** 2 for x, y in zip(q_micro, c)), i)
        for i, c in enumerate(model)
    )
    probed = [i for _, i in scored[:3]]
    cand = em.withColumn(
        "cell", nearest_cell_int(quantize_micro("embedding"), model)
    ).filter(F.col("cell").isin(probed))
    return brute_force_topk(cand, query, k=10)


@q("q_text_stats")
def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L4: token/punct/stopword counts — all integer, exactly comparable."""
    docs = T(spark, sf_dir, "documents").withColumn("__toks", tokens("text"))
    return docs.select(
        "doc_id",
        F.length("text").alias("n_chars_calc"),
        token_count_of(F.col("__toks")).alias("n_tokens"),
        bpe_ish_token_count("text").alias("n_bpe_tokens"),
        punct_count("text").alias("n_punct"),
        stopword_count_of(F.col("__toks")).alias("n_stopwords"),
    )


@q("q_arrow_doc_stats")
def q_arrow_doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.13 made first-class: per-document integer profile (token count,
    codepoint length, digit count) computed in PYTHON over Arrow-batched
    ``mapInPandas`` — the production template for custom row logic Spark
    expressions cannot express (real tokenizers, format decoders).  The
    batch function is purely per-row, so this is a narrow transformation:
    no shuffle, partitioning untouched, scales with input like any map.
    Integer-only outputs keep the Python path hash-checkable against the
    SQL oracle; ``re.ASCII`` pins ``\\s``/``[0-9]`` to the ASCII classes
    Java regex and RE2 use (Python's default is Unicode classes — the
    cross-engine trap)."""
    import re

    import pandas as pd

    docs = T(spark, sf_dir, "documents").select("doc_id", "text")
    ws = re.compile(r"\s+", re.ASCII)
    dg = re.compile(r"[0-9]", re.ASCII)

    def batch(batches):
        for pdf in batches:
            text = pdf["text"].fillna("")
            # strip(' ') == SQL trim(): SPACES only.  Python's bare
            # .strip() also eats \t\n — a leading newline would then
            # change the split-field count vs the oracle.
            stripped = text.str.strip(" ")
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "n_tokens": stripped.map(
                        lambda s: 0 if s == "" else len(ws.split(s))
                    ).astype("int64"),
                    "n_chars": text.str.len().astype("int64"),
                    "n_digits": text.map(
                        lambda s: len(dg.findall(s))
                    ).astype("int64"),
                }
            )

    return docs.mapInPandas(
        batch, "doc_id bigint, n_tokens bigint, n_chars bigint, n_digits bigint"
    )


@q("q_pandas_udaf")
def q_pandas_udaf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.13 UDAF shape: ``applyInPandas`` as a per-group custom
    aggregate — per nation, customer count and the account-balance
    spread in EXACT integer cents (max − min of floor(bal·100 + 0.5)),
    computed inside the pandas batch.  Integer arithmetic keeps the
    Arrow path hash-checkable against plain SQL — the template for
    group-level logic that genuinely needs numpy/pandas (the spread
    stands in for e.g. a scipy fit), while the grouping/shuffle stays
    Spark-side: one exchange on the key, each group one pandas frame.
    Groups here are nations (bounded, small); a data-grain group would
    need the same boundedness argument as any applyInPandas."""
    cu = T(spark, sf_dir, "customer").select("c_nationkey", "c_acctbal")

    def spread(pdf):
        import numpy as np
        import pandas as pd

        # vectorized: same IEEE ops as SQL floor(x*100 + 0.5), no
        # per-row Python frame inside the batch
        cents = np.floor(
            pdf["c_acctbal"].to_numpy() * 100 + 0.5
        ).astype("int64")
        return pd.DataFrame(
            {
                "c_nationkey": [int(pdf["c_nationkey"].iloc[0])],
                "n_customers": [len(pdf)],
                "spread_cents": [int(cents.max() - cents.min())],
            }
        )

    return cu.groupBy("c_nationkey").applyInPandas(
        spread,
        "c_nationkey int, n_customers bigint, spread_cents bigint",
    )


@q("q_udtf_sentences")
def q_udtf_sentences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.13 UDTF shape — the third escape hatch next to the Arrow UDF
    (q_arrow_doc_stats) and the applyInPandas UDAF (q_pandas_udaf): a
    Python user-defined TABLE function (Spark 4 ``@udtf``) that takes a
    document row and EMITS one row per '.'-terminated segment with
    per-segment stats — the one-to-many shape (parse trees, log-line
    extraction, sentence splitting) that scalar UDFs can't express and
    that lateral ``explode`` can only express when the split is a
    single builtin.  Logic inside is deterministic string arithmetic,
    so the output hash-checks against DuckDB's unnest-over-split twin —
    keeping even the UDTF surface oracle-certified.  Posture: UDTFs
    evaluate row-at-a-time in a Python worker — an ESCAPE HATCH for
    genuinely imperative segmentation, never the hot path (the
    docstring contract every UDF-family query here carries); the demo
    runs on the bounded doc_id % 50 == 0 subset for exactly that
    reason, and the segmentation itself (split on '.', trim, drop
    empties) is builtin-expressible — what the UDTF buys is the
    per-segment PYTHON computation slot."""
    from pyspark.sql.functions import udtf

    @udtf(returnType=(
        "doc_id bigint, seg_idx int, seg_chars int, seg_tokens int"
    ))
    class SentenceStats:
        def eval(self, row):  # TABLE argument: one Row per input row
            doc_id, text = row["doc_id"], row["text"]
            if text is None:
                return
            idx = 0
            for raw in text.split("."):
                seg = raw.strip()
                if not seg:
                    continue
                yield doc_id, idx, len(seg), len(seg.split())
                idx += 1

    docs = T(spark, sf_dir, "documents").filter(
        (F.col("doc_id") % 50 == 0) & (F.trim(F.col("text")) != "")
    )
    return SentenceStats(docs.select("doc_id", "text").asTable()).orderBy(
        "doc_id", "seg_idx"
    )


@q("q_text_quality")
def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L4: heuristic quality score (fixed-order IEEE expression, pinned)."""
    docs = T(spark, sf_dir, "documents").withColumn("__toks", tokens("text"))
    return docs.select(
        "doc_id",
        pround(quality_score("text", F.col("__toks")), 4).alias("quality"),
    )


@q("q_readability")
def q_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L4: FLESCH READING EASE [Flesch 1948] per document — the
    readability gate content pipelines run next to the Gopher rules
    (206.835 − 1.015·words/sentences − 84.6·syllables/words).  The
    classic heuristic counts: words = whitespace tokens, sentences =
    '.' occurrences floored at 1 (the salad fixture has no periods —
    the floor keeps the formula total), syllables = VOWEL GROUPS
    ([aeiouy]+ runs, the standard approximation; whitespace breaks
    groups, so the whole-text count equals the per-word sum).  All
    three counts are exact integers in pure codegen (length arithmetic
    + regexp), the score is ONE fixed-order IEEE expression, pinned.
    Scale shape: stateless per-row map, no shuffle."""
    docs = T(spark, sf_dir, "documents").filter(F.trim(F.col("text")) != "")
    words = token_count_of(tokens("text")).cast("bigint")
    sentences = F.greatest(
        (
            F.length("text")
            - F.length(F.regexp_replace(F.col("text"), r"\.", ""))
        ).cast("bigint"),
        F.lit(1).cast("bigint"),
    )
    syllables = F.size(
        F.regexp_extract_all(
            F.lower(F.col("text")), F.lit("[aeiouy]+"), F.lit(0)
        )
    ).cast("bigint")
    score = (
        F.lit(206.835)
        - F.lit(1.015) * (words.cast("double") / sentences.cast("double"))
        - F.lit(84.6) * (syllables.cast("double") / words.cast("double"))
    )
    return docs.select(
        "doc_id",
        words.alias("n_words"),
        sentences.alias("n_sentences"),
        syllables.alias("n_syllables"),
        pround(score, 4).alias("flesch_reading_ease"),
    )


@q("q_text_clean")
def q_text_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L4: scrubbing pass — mask URLs and emails, collapse whitespace
    (standard pretraining-corpus hygiene; pure regexp expressions)."""
    docs = T(spark, sf_dir, "documents")
    url = r"https?://\S+"
    email = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
    cleaned = F.regexp_replace(
        F.regexp_replace(F.col("text"), url, "<URL>"), email, "<EMAIL>"
    )
    cleaned = F.trim(F.regexp_replace(cleaned, r"\s+", " "))
    return docs.select(
        "doc_id", cleaned.alias("clean_text"), F.length(cleaned).alias("clean_len")
    )


@q("q_domain_mixing_weights")
def q_domain_mixing_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pretraining DATA-MIXING weights — the knob between curation and
    tokenization in every LLM data pipeline (The Pile / LLaMA-style
    fixed-ratio mixing): per source, the token mass, its natural share,
    and the up-to-uniform CAP weight w = min(1, target/actual) with
    target = total_tokens/n_sources — an over-represented source is
    downsampled to the uniform share, an under-represented one keeps
    weight 1 (capping, not upsampling: repeating data has its own
    cost).  tokens_after_cap = floor(actual·w) shows the post-mixing
    budget per source.  Every number derives from exact integer token
    counts (the shared whitespace tokenization, _N_TOKENS oracle twin);
    shares and weights are pinned fixed-order divisions.  Scale shape:
    one token-count map + one shuffle to the SOURCE grain (a handful of
    rows), then arithmetic on that tiny frame — corpus-size-invariant
    output."""
    from .functions.text import token_count

    docs = T(spark, sf_dir, "documents")
    per_src = docs.groupBy("source").agg(
        F.sum(token_count("text")).cast("bigint").alias("tokens"),
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
    )
    tot = per_src.agg(
        F.sum("tokens").cast("bigint").alias("total_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("n_sources"),
    )
    j = per_src.join(F.broadcast(tot))
    target = F.col("total_tokens").cast("double") / F.col(
        "n_sources"
    ).cast("double")
    share = F.col("tokens").cast("double") / F.col(
        "total_tokens"
    ).cast("double")
    w = F.when(
        F.col("tokens").cast("double") > target,
        target / F.col("tokens").cast("double"),
    ).otherwise(F.lit(1.0))
    return j.select(
        "source",
        "n_docs",
        "tokens",
        pround(share, 6).alias("natural_share"),
        pround(w, 6).alias("mix_weight"),
        F.floor(F.col("tokens").cast("double") * w)
        .cast("bigint")
        .alias("tokens_after_cap"),
    ).orderBy("source")


@q("q_token_budget")
def q_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRETRAINING TOKEN-BUDGET ALLOCATION — the step after
    q_domain_mixing_weights: given a training budget of B = 2× the
    corpus (the multi-epoch regime small corpora train in), allocate
    tokens per source under the two production constraints — aim at
    the UNIFORM share B/n_sources, but never repeat a source more
    than 4 epochs (Muennighoff et al. 2023 measure repeated-data
    value decaying past ~4 epochs) — and report the per-source epoch
    multiplier the sampler needs.  EXACT integer arithmetic end to
    end: target = B div n, allocated = least(target, 4·tokens),
    epochs_milli = allocated·1000 div tokens (a ×1000 integer, no
    float epochs), share pinned once.  Scale shape: one token-count
    scan to the source grain, then arithmetic on that handful of
    rows — corpus-size-invariant output."""
    from .functions.text import token_count

    docs = T(spark, sf_dir, "documents")
    per_src = docs.groupBy("source").agg(
        F.sum(token_count("text")).cast("bigint").alias("tokens"),
    )
    tot = per_src.agg(
        F.sum("tokens").cast("bigint").alias("total_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("n_sources"),
    ).select(
        "*",
        (F.lit(2) * F.col("total_tokens")).cast("bigint").alias("budget"),
    )
    j = per_src.join(F.broadcast(tot))
    target = F.expr("budget div n_sources")
    alloc = F.least(target, F.lit(4) * F.col("tokens"))
    return j.select(
        "source",
        "tokens",
        target.cast("bigint").alias("uniform_target"),
        alloc.cast("bigint").alias("tokens_allocated"),
        F.expr(
            "CAST(least(budget div n_sources, 4 * tokens) * 1000 "
            "div tokens AS BIGINT)"
        ).alias("epochs_milli"),
        pround(
            alloc.cast("double") / F.col("budget").cast("double"), 6
        ).alias("budget_share"),
    ).orderBy("source")


@q("q_language_temperature_sampling")
def q_language_temperature_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTILINGUAL TEMPERATURE SAMPLING [Conneau & Lample 2019, XLM
    §3.1] — the third mixing knob next to q_domain_mixing_weights'
    uniform cap and q_token_budget's epoch cap: sample language i with
    probability q_i ∝ p_i^α (α=0.7), flattening the head so
    low-resource languages are seen more without the hard cap.  Float
    discipline: each per-language ln(p_i) is pinned to the ×1e6 micro
    grid first; exp(0.7·l6/1e6) is one per-row IEEE expression on that
    identical pinned input (the churn-sigmoid precedent); the weight is
    RE-pinned to micro units before the k-row normalizing sum, so the
    denominator is order-free integer addition; shares/boosts are
    pinned divisions.  Scale shape: one token-count scan to the
    LANGUAGE grain (a handful of rows), then constant-size arithmetic
    — corpus-size-invariant output."""
    from .functions.text import token_count

    docs = T(spark, sf_dir, "documents")
    # cut at the language grain: the ~|langs|-row frame feeds FOUR
    # consumers (total, join, normalizer, output) — without the cut each
    # re-derivation rescans the whole corpus to rebuild 5 rows
    per_lang = cut_lineage(
        docs.groupBy("lang").agg(
            F.sum(token_count("text")).cast("bigint").alias("tokens"),
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        ),
        eager=False,
    )
    tot = per_lang.agg(F.sum("tokens").cast("bigint").alias("total_tokens"))
    j = per_lang.join(F.broadcast(tot))
    p = F.col("tokens").cast("double") / F.col("total_tokens").cast("double")
    l6 = F.floor(F.log(p) * F.lit(1e6) + F.lit(0.5)).cast("bigint")
    w6 = F.floor(
        F.exp(F.lit(0.7) * (l6.cast("double") / F.lit(1e6))) * F.lit(1e6)
        + F.lit(0.5)
    ).cast("bigint")
    scored = cut_lineage(
        j.select("lang", "n_docs", "tokens", "total_tokens", w6.alias("w6")),
        eager=False,
    )
    norm = scored.agg(F.sum("w6").cast("bigint").alias("sum_w6"))
    out = scored.join(F.broadcast(norm))
    nat = F.col("tokens").cast("double") / F.col("total_tokens").cast("double")
    temp = F.col("w6").cast("double") / F.col("sum_w6").cast("double")
    return out.select(
        "lang",
        "n_docs",
        "tokens",
        pround(nat, 6).alias("natural_share"),
        pround(temp, 6).alias("temperature_share"),
        pround(temp / nat, 4).alias("sampling_boost"),
    ).orderBy("lang")


@q("q_distinct_ngrams")
def q_distinct_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CORPUS DIVERSITY via distinct-n [Li et al. 2016, "A
    Diversity-Promoting Objective Function"] — the generation-diversity
    metric applied as a corpus-health gate: per language, the ratio of
    DISTINCT unigrams/bigrams to total unigrams/bigrams.  A corpus of
    templated boilerplate scores low on distinct-2 long before exact
    dedup fires (complements q_ngram_novelty, which measures
    train/heldout OVERLAP, not within-corpus variety).  Counts are
    exact integers from one explode per n; ratios are pinned
    divisions.  Scale shape: two token/shingle-grain shuffles with
    map-side combine (count + count_distinct share a pass per n),
    output at the language grain."""
    docs = T(spark, sf_dir, "documents").filter(F.trim(F.col("text")) != "")
    uni = (
        docs.select("lang", F.explode(tokens("text")).alias("g"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_uni"),
            F.count_distinct(F.col("g")).cast("bigint").alias("d_uni"),
        )
    )
    bi = (
        docs.withColumn("__toks", tokens("text"))
        .filter(F.size("__toks") >= 2)
        .select("lang", F.explode(word_shingles("text", 2)).alias("g"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bi"),
            F.count_distinct(F.col("g")).cast("bigint").alias("d_bi"),
        )
    )
    return (
        uni.join(bi, "lang")
        .select(
            "lang",
            "n_uni",
            "d_uni",
            "n_bi",
            "d_bi",
            pround(
                F.col("d_uni").cast("double") / F.col("n_uni").cast("double"),
                6,
            ).alias("distinct_1"),
            pround(
                F.col("d_bi").cast("double") / F.col("n_bi").cast("double"),
                6,
            ).alias("distinct_2"),
        )
        .orderBy("lang")
    )


@q("q_dsir_weights")
def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DATA SELECTION via IMPORTANCE RESAMPLING [Xie et al. 2023, DSIR]
    — Moore-Lewis's modern hashed twin: documents are scored by the
    log importance ratio Σ ln(p_target(b)/p_raw(b)) over HASHED n-gram
    feature buckets (B=1024 via the portable md5 _h32), not raw
    vocabulary — the point of DSIR at scale: the two feature models are
    FIXED-SIZE (≤B rows each, broadcastable) no matter how large the
    corpus vocabulary grows, where Moore-Lewis's LMs are
    vocabulary-sized.  Target = the 'src7' feed, raw = whole corpus;
    both bucket models add-one smoothed over B buckets; each bucket's
    ln ratio is pinned to ×1e6 micro-units on the ≤B-row model frame,
    so per-doc accumulation is order-free integer math and the float
    score is ONE pinned division.  ``selected`` = per-token log-weight
    above the CORPUS-AVERAGE log-weight (DSIR selects by rank, not by
    sign — with a small target and B=1024 the add-one smoothing drags
    every absolute ratio negative), tested by the exact bigint
    cross-multiplication __s6·T_tokens > S_total·n_tokens (no float
    threshold).  Scale shape: one scan+explode to the (doc, bucket)
    grain, two bounded B-row aggregates joined back by broadcast, one
    doc-grain collapse."""
    docs = T(spark, sf_dir, "documents").filter(F.trim(F.col("text")) != "")
    tb = docs.select(
        "doc_id", "source", F.explode(tokens("text")).alias("tok")
    ).select(
        "doc_id",
        "source",
        (_h32(F.col("tok")) % F.lit(1024)).alias("b"),
    )
    tb = cut_lineage(tb)  # model build + per-doc fold both consume it
    model = tb.groupBy("b").agg(
        F.sum(F.when(F.col("source") == "src7", 1).otherwise(0))
        .cast("bigint")
        .alias("c_tgt"),
        F.count(F.lit(1)).cast("bigint").alias("c_raw"),
    )
    scalars = tb.agg(
        F.sum(F.when(F.col("source") == "src7", 1).otherwise(0))
        .cast("bigint")
        .alias("t_tgt"),
        F.count(F.lit(1)).cast("bigint").alias("t_raw"),
    )
    lp = lambda c, t: F.floor(  # noqa: E731
        F.log(
            (c.cast("double") + F.lit(1.0))
            / (t.cast("double") + F.lit(1024.0))
        )
        * 1000000
        + F.lit(0.5)
    ).cast("bigint")
    scored_model = model.crossJoin(F.broadcast(scalars)).select(
        "b",
        (
            lp(F.col("c_tgt"), F.col("t_tgt"))
            - lp(F.col("c_raw"), F.col("t_raw"))
        ).alias("lr6"),
    )
    per_doc = (
        tb.join(F.broadcast(scored_model), "b")
        .groupBy("doc_id", "source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.sum("lr6").cast("bigint").alias("__s6"),
        )
    )
    corpus = per_doc.agg(
        F.sum("__s6").cast("bigint").alias("s_total"),
        F.sum("n_tokens").cast("bigint").alias("t_tokens"),
    )
    return per_doc.crossJoin(F.broadcast(corpus)).select(
        "doc_id",
        "source",
        "n_tokens",
        pround(
            F.col("__s6").cast("double")
            / F.lit(1e6)
            / F.col("n_tokens").cast("double"),
            4,
        ).alias("dsir_logw"),
        (
            F.col("__s6").cast("decimal(38,0)")
            * F.col("t_tokens").cast("decimal(38,0)")
            > F.col("s_total").cast("decimal(38,0)")
            * F.col("n_tokens").cast("decimal(38,0)")
        ).alias("selected"),
    )


@q("q_watermark_lateness_profile")
def q_watermark_lateness_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING OBSERVABILITY — the lateness distribution that tells
    you what watermark delay to set (T4's tuning input): per event, how
    far its event-time lags the maximum event-time already seen in
    ARRIVAL order, bucketed into the watermark-relevant bands (on-time
    / ≤1m / ≤5m / ≤15m / ≤1h / >1h).  withWatermark('10 minutes')
    drops exactly the tail this histogram exposes.  The fixture events
    are stored in event-time order, so arrival is SIMULATED as bounded
    network jitter: arrival_us = ts + (_h32(event_id) mod 10 minutes)
    — deterministic, hash-checkable, and the realistic shape (a sharded
    collector delays each record up to the jitter bound, which also
    bounds true lateness at 10 min, so the ≤15 m band catches the
    whole tail).  The running max is NOT a global single-partition
    window: events bucket into HOUR-of-arrival blocks (fixed time
    grain — block count grows with the calendar, not the data), each
    block computes its within-block running max in parallel, a tiny
    block-grain window takes the prefix max of earlier blocks, and
    greatest() stitches — the two-phase global_rank /
    encoding-advisor discipline.  All integer microseconds
    (unix_micros / epoch_us); shares pinned."""
    ev = T(spark, sf_dir, "events").select(
        "event_id",
        F.unix_micros("ts").alias("us"),
        (
            F.unix_micros("ts")
            + _h32(F.col("event_id").cast("string"))
            % F.lit(600_000_000).cast("bigint")
        ).alias("arr_us"),
    )
    ev = ev.withColumn("blk", F.expr("arr_us div 3600000000"))
    blk_pre = (
        ev.groupBy("blk")
        .agg(F.max("us").alias("bmax"))
        .withColumn(
            "pmax",
            F.max("bmax").over(
                Window.orderBy("blk").rowsBetween(
                    Window.unboundedPreceding, -1
                )  # block grain: one row per arrival hour
            ),
        )
        .select("blk", "pmax")
    )
    win = (
        Window.partitionBy("blk")
        .orderBy("arr_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    late_us = (
        F.greatest(
            F.max("us").over(win),
            F.coalesce(F.col("pmax"), F.lit(-(2**62)).cast("bigint")),
        )
        - F.col("us")
    )
    lanes = ev.join(F.broadcast(blk_pre), "blk", "left").select(
        late_us.alias("late_us")
    )
    m = F.lit(60_000_000).cast("bigint")
    bucket_ord = (
        F.when(F.col("late_us") <= 0, 0)
        .when(F.col("late_us") <= m, 1)
        .when(F.col("late_us") <= 5 * m, 2)
        .when(F.col("late_us") <= 15 * m, 3)
        .when(F.col("late_us") <= 60 * m, 4)
        .otherwise(5)
    )
    labels = F.array(
        *[
            F.lit(s)
            for s in ("on_time", "le_1m", "le_5m", "le_15m", "le_1h", "gt_1h")
        ]
    )
    per = lanes.select(bucket_ord.alias("bo"), "late_us")
    tot = per.agg(F.count(F.lit(1)).cast("bigint").alias("n_total"))
    return (
        per.groupBy("bo")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.max("late_us").cast("bigint").alias("max_late_us"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("bo").cast("int").alias("bucket_order"),
            F.element_at(labels, F.col("bo").cast("int") + 1).alias(
                "lateness_bucket"
            ),
            "n_events",
            "max_late_us",
            pround(
                F.col("n_events").cast("double")
                / F.col("n_total").cast("double"),
                6,
            ).alias("share"),
        )
        .orderBy("bucket_order")
    )


@q("q_corpus_filter")
def q_corpus_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L4: end-to-end quality filter — the keep-set a pretraining pipeline
    would emit (length band + quality floor), with the reasons columns."""
    docs = T(spark, sf_dir, "documents").withColumn("__toks", tokens("text"))
    n_tok = token_count_of(F.col("__toks"))
    qual = pround(quality_score("text", F.col("__toks")), 4)
    return (
        docs.select(
            "doc_id",
            "lang",
            n_tok.alias("n_tokens"),
            qual.alias("quality"),
        )
        .filter((F.col("n_tokens") >= 20) & (F.col("quality") >= 0.35))
    )


@q("q_vocab_topk")
def q_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L4: corpus vocabulary — top-30 tokens by document frequency.
    The classic skew case (stopwords dominate): partial aggregation
    absorbs the skew map-side before the shuffle."""
    docs = T(spark, sf_dir, "documents")
    return (
        docs.select(
            "doc_id",
            F.explode(F.array_distinct(tokens("text"))).alias("token"),
        )
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("doc_freq"))
        .orderBy(F.desc("doc_freq"), F.asc("token"))
        .limit(30)
    )


@q("q_exact_median_rank")
def q_exact_median_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact GLOBAL median of order prices via the distributed rank — the
    scale path for exact quantiles: Spark's builtin ``percentile`` buffers
    every group value in executor memory and a global ``ntile``/sort
    single-partitions, but median is just the row(s) at rank
    floor/ceil((N+1)/2).  ``global_rank`` (range-partitioned two-phase
    rank) finds them with bounded memory at any N; even N averages the two
    middle doubles — the same interpolation DuckDB's ``median`` applies.
    Generalizes to any quantile ladder (rank ∈ {q·N}) in one pass."""
    from .operators.rank import global_rank

    od = T(spark, sf_dir, "orders").select("o_totalprice", "o_orderkey")
    ranked = global_rank(
        od,
        [F.col("o_totalprice"), F.col("o_orderkey")],
        rank_col="__r",
        total_col="__n",
    )
    lo = F.floor((F.col("__n") + 1) / 2)
    hi = F.ceil((F.col("__n") + 1) / 2)
    return (
        ranked.filter((F.col("__r") == lo) | (F.col("__r") == hi))
        .agg(
            F.max("__n").alias("n_orders"),
            F.avg("o_totalprice").alias("median_price"),
        )
    )


@q("q_quantile_ladder")
def q_quantile_ladder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact multi-quantile ladder (p10/p25/p50/p75/p90 of order prices)
    in ONE distributed rank pass — the scale path for exact quantiles:
    builtin ``percentile`` buffers every value per group in executor
    memory and a global sort single-partitions, but the p-quantile is
    just an interpolation between the rows at ranks floor/ceil((N−1)p+1).
    ``global_rank`` range-partitions once; the 5-row p-table broadcasts
    onto it (each data row matches at most a few p's), and the
    interpolation x_lo + frac·(x_hi − x_lo) is the same IEEE expression
    the oracle evaluates — bit-identical cross-engine, no pinning
    needed.  Generalizes to any ladder width with zero extra passes."""
    from .operators.rank import global_rank

    od = T(spark, sf_dir, "orders").select("o_totalprice", "o_orderkey")
    ranked = global_rank(
        od,
        [F.col("o_totalprice"), F.col("o_orderkey")],
        rank_col="__r",
        total_col="__n",
    )
    ps = spark.range(1).select(
        F.explode(
            F.array(*[F.lit(p) for p in (0.1, 0.25, 0.5, 0.75, 0.9)])
        ).alias("p")
    )
    h = (F.col("__n") - 1) * F.col("p") + 1
    sel = ranked.join(
        F.broadcast(ps),
        (F.col("__r") == F.floor(h)) | (F.col("__r") == F.ceil(h)),
    )
    frac = h - F.floor(h)
    return (
        sel.groupBy("p")
        .agg(
            F.max(
                F.when(F.col("__r") == F.floor(h), F.col("o_totalprice"))
            ).alias("__xlo"),
            F.max(
                F.when(F.col("__r") == F.ceil(h), F.col("o_totalprice"))
            ).alias("__xhi"),
            F.max("__n").alias("n_orders"),
        )
        .select(
            "p",
            "n_orders",
            (
                F.col("__xlo")
                + ((F.col("n_orders") - 1) * F.col("p") + 1
                   - F.floor((F.col("n_orders") - 1) * F.col("p") + 1))
                * (F.col("__xhi") - F.col("__xlo"))
            ).alias("q_value"),
        )
    )


@q("q_winsorize")
def q_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust scaling: winsorized mean/stddev of order totals — values
    clipped to the exact [p01, p99] rank bounds before the moments, the
    outlier-insensitive summary feeding pricing models.  Completes the
    robust-stats set (q_mad: median deviation; q_iqr_outliers: fences;
    this: clipped moments).

    Exactness + scale: bounds are RANK SELECTIONS (rows at positions
    max(1, floor(n/100)) and its mirror) from one ``global_rank`` pass —
    never a percentile buffer or global sort; the two-value bound table
    broadcasts back onto a second column-pruned fact scan, the clip is
    per-row integer least/greatest on exact cents, and mean/std come
    from bigint/decimal power sums with the one float expression
    evaluated in the oracle's exact IEEE order, pround-pinned."""
    from .operators.rank import global_rank

    od = T(spark, sf_dir, "orders").select(
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("bigint")
        .alias("c"),
        "o_orderkey",
    )
    ranked = global_rank(
        od, [F.col("c"), F.col("o_orderkey")], rank_col="__r", total_col="__n"
    )
    klo = F.greatest(
        F.lit(1).cast("bigint"), F.floor(F.col("__n") / F.lit(100.0))
    )
    khi = F.col("__n") - klo + F.lit(1)
    bounds = ranked.filter(
        (F.col("__r") == klo) | (F.col("__r") == khi)
    ).agg(
        F.max(F.when(F.col("__r") == klo, F.col("c"))).alias("lo"),
        F.max(F.when(F.col("__r") == khi, F.col("c"))).alias("hi"),
    )
    d13 = lambda c: c.cast("decimal(13,0)")  # noqa: E731
    clipped = F.least(F.greatest(F.col("c"), F.col("lo")), F.col("hi"))
    g = (
        od.crossJoin(F.broadcast(bounds))
        .select(clipped.alias("cc"), "lo", "hi")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.max("lo").alias("lo"),
            F.max("hi").alias("hi"),
            F.sum("cc").alias("s"),
            F.sum(d13(F.col("cc")) * d13(F.col("cc"))).alias("ss"),
        )
    )
    nd = F.col("n").cast("double")
    sd = F.col("s").cast("double")
    var = (nd * F.col("ss").cast("double") - sd * sd) / (nd * (nd - F.lit(1.0)))
    return g.select(
        F.col("n").cast("bigint").alias("n_orders"),
        (F.col("lo").cast("double") / F.lit(100.0)).alias("lo"),
        (F.col("hi").cast("double") / F.lit(100.0)).alias("hi"),
        pround(sd / nd / F.lit(100.0), 6).alias("wins_mean"),
        pround(
            F.when(F.col("n") > 1, F.sqrt(var) / F.lit(100.0)), 6
        ).alias("wins_std"),
    )


@q("q_quantile_ladder_grouped")
def q_quantile_ladder_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group exact quantiles at scale: p25/p50/p75 of order price
    WITHIN each order priority, from ONE ``grouped_rank`` pass — the
    grouped twin of ``q_quantile_ladder``.  Builtin ``percentile`` over
    a window/group buffers every value of a group in one executor;
    ``grouped_rank`` range-partitions on (group, value) so a single
    group spans many partitions, and the interpolation rows are picked
    by rank.  The p-table (groups × 3) broadcasts; interpolation is the
    same IEEE expression as the oracle — bit-identical, unpinned."""
    from .operators.rank import grouped_rank

    od = T(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_totalprice", "o_orderkey"
    )
    ranked = grouped_rank(
        od,
        ["o_orderpriority"],
        [F.col("o_totalprice"), F.col("o_orderkey")],
        rank_col="__r",
        total_col="__n",
    )
    ps = spark.range(1).select(
        F.explode(F.array(*[F.lit(p) for p in (0.25, 0.5, 0.75)])).alias("p")
    )
    h = (F.col("__n") - 1) * F.col("p") + 1
    sel = ranked.join(
        F.broadcast(ps),
        (F.col("__r") == F.floor(h)) | (F.col("__r") == F.ceil(h)),
    )
    return (
        sel.groupBy("o_orderpriority", "p")
        .agg(
            F.max(
                F.when(F.col("__r") == F.floor(h), F.col("o_totalprice"))
            ).alias("__xlo"),
            F.max(
                F.when(F.col("__r") == F.ceil(h), F.col("o_totalprice"))
            ).alias("__xhi"),
            F.max("__n").alias("n_orders"),
        )
        .select(
            "o_orderpriority",
            "p",
            "n_orders",
            (
                F.col("__xlo")
                + ((F.col("n_orders") - 1) * F.col("p") + 1
                   - F.floor((F.col("n_orders") - 1) * F.col("p") + 1))
                * (F.col("__xhi") - F.col("__xlo"))
            ).alias("q_value"),
        )
    )


@q("q_event_pattern")
def q_event_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CEP-lite sequence matching (MATCH_RECOGNIZE-shaped): each user's
    event-initial journey string in strict (ts, event_id) order, then
    regex predicates over it — did a view lead to a purchase with no
    intervening purchase, and how many purchases total.  The journey is
    NEVER materialized whole (VERDICT r8 item 2 — the first form
    collected every user's FULL event list into one task before
    pattern-matching, so a degenerate bot user funneled one task's
    memory): the regex predicates are algebraized into WINDOWED FLAGS
    — ``v[^p]*p`` matches iff some purchase has a view after the
    previous purchase, i.e. ``last_v_pos > last_p_pos`` at a p-row
    (running max positions over the strict-past frame), and the
    purchase count is a plain conditional sum — while the only
    collect left is the 40-event journey prefix, pre-truncated by
    ``row_number() <= 40`` INSIDE the aggregate, so per-user state is
    bounded by the constant 40, not the user's lifetime.  Output is
    value-identical to the regex form (the DuckDB oracle still runs
    the actual regex — the two engines verify each other through
    different algorithms).  One shuffle on user_id, shared by the
    window pass and the aggregation."""
    ev = T(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id",
        F.substring("event_type", 1, 1).alias("c"),
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    past = w.rowsBetween(Window.unboundedPreceding, -1)
    pos = F.row_number().over(w)
    last_v = F.max(F.when(F.col("c") == "v", pos)).over(past)
    last_p = F.max(F.when(F.col("c") == "p", pos)).over(past)
    flagged = ev.select(
        "user_id",
        "c",
        pos.alias("__pos"),
        (
            (F.col("c") == "p")
            & (F.coalesce(last_v, F.lit(0)) > F.coalesce(last_p, F.lit(0)))
        ).alias("__vp"),
    )
    j = flagged.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("__pos") <= 40,
                            F.struct("__pos", "c"),
                        )
                    )
                ),
                lambda s: s["c"],
            ),
            "",
        ).alias("journey_prefix"),
        F.sum((F.col("c") == "p").cast("bigint")).alias("n_purchases"),
        F.max(F.col("__vp")).cast("int").alias("view_to_purchase"),
    )
    return j.select(
        "user_id",
        "n_events",
        "journey_prefix",
        "n_purchases",
        "view_to_purchase",
    )


@q("q_inverted_index")
def q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IR index build: token -> sorted posting list of documents containing
    it, with document frequency — the retrieval-side structure a corpus
    search / RAG pipeline materializes.  One explode + distinct + grouped
    collect (all shuffles on the token key, partial-agg absorbing stopword
    skew map-side); posting lists are emitted as a bounded 20-doc prefix —
    at 100 TB a full stopword posting list is itself big data, so the
    stored index shards long lists (doc-range segments) and this query
    materializes the first segment, plus the true df for ranking."""
    docs = T(spark, sf_dir, "documents").filter(F.trim(F.col("text")) != "")
    posting = docs.select(
        F.explode(F.array_distinct(tokens("text"))).alias("token"), "doc_id"
    )
    return (
        posting.groupBy("token")
        .agg(
            F.count(F.lit(1)).alias("df"),
            F.slice(F.sort_array(F.collect_list("doc_id")), 1, 20).alias(
                "postings"
            ),
        )
    )


@q("q_dedup_clusters")
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2: near-dup candidate pairs -> connected components -> cluster
    assignment (iterative min-label propagation; hash-checked against a
    DuckDB recursive-CTE oracle)."""
    from .operators.graph import connected_components

    docs = T(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 0)
    pairs = ngram_jaccard_pairs(docs, "text", "doc_id", n=2, threshold=0.05)
    return connected_components(pairs)


@q("q_dedup_near_clusters")
def q_dedup_near_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2 (hash-checked): LSH near-dup CLUSTERS at linear cost — the
    scale-safe companion to q_dedup_near.  Buckets emit star edges
    (bucket-min -> member) instead of |bucket|² pairs, then iterative
    min-label connected components; components are provably identical to
    clustering the full candidate-pair graph (a star spans the clique's
    node set).  Probe-measured: at 500k docs with heavy boilerplate the
    pairwise join costs ~90 s while this path stays linear (SCALING.md
    round-4 table)."""
    from .operators.dedup import minhash_lsh_dup_clusters

    docs = T(spark, sf_dir, "documents")
    return minhash_lsh_dup_clusters(docs, "text", "doc_id")


@q("q_doc_fingerprint")
def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L4: winnowing document fingerprints (rolling shingle hashes, sliding
    window-min selection — Schleimer et al. SIGMOD 2003).  All array HOFs
    on one row per doc; the (doc_id, fingerprint) output is the inverted
    index a plagiarism/overlap join buckets on."""
    docs = T(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 0)
    return winnow_fingerprints(docs, "text", "doc_id", shingle_n=2, window=4)


@q("q_cdc_chunking")
def q_cdc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONTENT-DEFINED CHUNKING — the rsync/LBFS/backup-dedup boundary
    rule [Muthitacharoen et al. SOSP 2001] at the token grain: a chunk
    boundary falls AFTER any token whose portable hash ≡ 0 (mod 16), so
    boundaries move WITH the content — insert a word and only the
    surrounding chunk's identity changes, where fixed-size blocks would
    shift every downstream block (the whole point of CDC, and why
    storage dedup and incremental-crawl pipelines use it instead of
    q_chunk_documents' fixed windows).  Expected chunk length = the
    modulus (16 tokens).  Each chunk's identity is the md5 of its token
    span; the output is the 1-row corpus dedup-storage summary — chunk
    counts, distinct chunks, duplicate copies and the duplicate TOKEN
    MASS (what a chunk store would not re-store), mean chunk length —
    honest zeros when the corpus has no repeated chunks.  All chunking
    is per-row array HOFs (hash array hoisted once, boundaries via
    filter, spans via zip_with over the shifted boundary list — the
    word_shingles discipline); one explode to chunk grain, one
    chunk-hash aggregate.  Scale shape: linear maps + one shuffle on
    chunk_hash — the classic dedup-store ingest plan."""
    # ``spread``: the documents scan is ONE parquet split at bench
    # scale, and everything below (an md5 PER TOKEN plus an md5 per
    # chunk) otherwise runs serially inside the scan task — profiled at
    # 26.7 s warm min-of-3, the slowest query of the full-registry
    # sweep, dropping to ~1.4 s with the pinned-width exchange.
    docs = (
        spread(
            T(spark, sf_dir, "documents").filter(F.trim(F.col("text")) != ""),
            "doc_id",
        )
        .select("doc_id", tokens("text").alias("__toks"))
        .withColumn("__n", F.size("__toks"))
    )
    # per-token boundary flag array, hoisted ONCE (md5 per element is
    # inherent — each token needs its own hash; everything else binds)
    hashed = docs.withColumn(
        "__hb",
        F.expr(
            "transform(__toks, t -> "
            "CAST(conv(substring(md5(t), 1, 8), 16, 10) AS BIGINT) % 16)"
        ),
    )
    bounded = hashed.withColumn(
        "__bounds",
        F.expr("filter(sequence(1, __n), i -> element_at(__hb, i) = 0)"),
    )
    spans = bounded.withColumn(
        "__spans",
        F.expr(
            """filter(
                 zip_with(
                   concat(array(1), transform(__bounds, b -> b + 1)),
                   concat(__bounds, array(__n)),
                   (s, e) -> struct(s AS s, e AS e)),
                 sp -> sp.s IS NOT NULL AND sp.e IS NOT NULL
                       AND sp.e >= sp.s)"""
        ),
    )
    # explode_OUTER, deliberately: for a plain explode the optimizer
    # infers `size(__spans) > 0` (InferFiltersFromGenerate) and pushes
    # it below the exchange — and because __spans is a projection, the
    # pushed predicate re-expands to the ENTIRE per-token md5 chain,
    # re-running the whole chunking serially inside the single-split
    # scan task (profiled: a 27.5 cpu-s one-task stage, the query's
    # 26.7 s wall).  Inference skips outer generators, and __spans is
    # provably never empty or null (non-empty text ⇒ ≥1 token ⇒ the
    # zip_with always emits the (1, __n) span) — identical rows.
    chunks = spans.select(
        "doc_id",
        F.explode_outer("__spans").alias("sp"),
        F.col("__toks").alias("__toks"),
    ).select(
        "doc_id",
        (F.col("sp.e") - F.col("sp.s") + 1).cast("bigint").alias("n_tok"),
        F.md5(
            F.array_join(
                F.expr("slice(__toks, sp.s, sp.e - sp.s + 1)"), " "
            )
        ).alias("chunk_hash"),
    )
    groups = chunks.groupBy("chunk_hash").agg(
        F.count(F.lit(1)).cast("bigint").alias("c"),
        F.max("n_tok").cast("bigint").alias("tok"),
    )
    g = groups.agg(
        F.sum("c").cast("bigint").alias("n_chunks"),
        F.count(F.lit(1)).cast("bigint").alias("n_distinct_chunks"),
        F.sum(F.when(F.col("c") > 1, F.col("c") - 1).otherwise(0))
        .cast("bigint")
        .alias("dup_chunk_copies"),
        F.sum(
            F.when(
                F.col("c") > 1, (F.col("c") - 1) * F.col("tok")
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("dup_token_mass"),
        F.sum(F.col("c") * F.col("tok")).cast("bigint").alias("__tok_tot"),
    )
    nd = docs.agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    return (
        g.join(F.broadcast(nd))
        .select(
            "n_docs",
            "n_chunks",
            "n_distinct_chunks",
            "dup_chunk_copies",
            "dup_token_mass",
            pround(
                F.col("__tok_tot").cast("double")
                / F.col("n_chunks").cast("double"),
                6,
            ).alias("mean_chunk_tokens"),
        )
    )


@q("q_overlap_candidates")
def q_overlap_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2: document-overlap candidates from winnowing fingerprints — pairs
    sharing >= 3 selected hashes (the winnowing guarantee makes this a
    superset of pairs with long verbatim overlap).  Equi-join on the
    fingerprint, never pairwise over the corpus; the fingerprint table is
    persisted across the self-join (same rationale as the LSH bucket
    table)."""
    docs = T(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 0)
    fps = winnow_fingerprints(docs, "text", "doc_id", shingle_n=2, window=4)
    fps = fps.persist()
    a = fps.select(F.col("doc_id").alias("id_a"), "fingerprint")
    b = fps.select(F.col("doc_id").alias("id_b"), "fingerprint")
    return (
        a.join(b, ["fingerprint"])
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("shared_fps"))
        .filter(F.col("shared_fps") >= 3)
    )


@q("q_heavy_hitters")
def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L4: corpus heavy hitters — tokens with frequency > total/1000.
    Exact two-phase plan: partial map-side counts absorb token skew before
    the shuffle; the corpus total is a broadcast scalar.  (At 100 TB the
    same shape runs on a Count-Min-Sketch/Misra-Gries per-partition
    pre-filter; the exact pass stays as the verifier.)  Integer-only
    arithmetic — no float pinning needed."""
    docs = T(spark, sf_dir, "documents").filter(F.trim(F.col("text")) != "")
    tok = docs.select(F.explode(tokens("text")).alias("token"))
    # The vocab table is checkpointed once (one corpus scan+explode —
    # DataFrame lineage is not a CTE, a second branch would re-run it)
    # and the corpus total arrives as a broadcast 1-row aggregate, NOT an
    # empty-partition window over the vocab: at web scale the distinct-
    # token table is itself billions of rows.  Integer sum — exact in
    # any order.
    counts = cut_lineage(
        tok.groupBy("token").agg(F.count(F.lit(1)).alias("freq"))
    )
    total = counts.agg(F.sum("freq").alias("total"))
    return (
        counts.crossJoin(F.broadcast(total))
        .filter(F.col("freq") * 1000 > F.col("total"))
        .select("token", "freq")
    )


@q("q_moore_lewis")
def q_moore_lewis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DOMAIN DATA SELECTION by cross-entropy difference [Moore & Lewis
    2010, "Intelligent Selection of Language Model Training Data"] —
    the classic recipe for harvesting target-domain-like documents out
    of a general crawl: score every document by
    avg_logP_target − avg_logP_general under two unigram LMs (target =
    the 'src7' feed, general = the whole corpus), add-one smoothed
    over the SHARED corpus vocabulary so unseen-in-target tokens are
    defined; positive scores read "more target-like than general" and
    are the selection set.  Float discipline: each per-token ln is
    pinned to ×1e6 micro-units BEFORE the per-doc sum (the
    q_unigram_logprob discipline), so the accumulation is
    order-independent integer arithmetic and the score hash-checks.
    Scale shape: one scan+explode to the (doc, token) tf table, token
    counts for the general model from a window over it, target counts
    from a token-grain join (the target model is vocabulary-sized, not
    corpus-sized), scalars broadcast."""
    docs = T(spark, sf_dir, "documents").filter(F.trim(F.col("text")) != "")
    tf = (
        docs.select(
            "doc_id", "source", F.explode(tokens("text")).alias("token")
        )
        .groupBy("doc_id", "source", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    tf = cut_lineage(tf)  # three consumers below
    c_gen = F.sum("tf").over(Window.partitionBy("token"))
    tgt_counts = (
        tf.filter(F.col("source") == "src7")
        .groupBy("token")
        .agg(F.sum("tf").cast("bigint").alias("c_tgt"))
    )
    scalars = tf.agg(
        F.sum("tf").cast("bigint").alias("t_gen"),
        F.countDistinct("token").cast("bigint").alias("v"),
        F.sum(F.when(F.col("source") == "src7", F.col("tf")).otherwise(0))
        .cast("bigint")
        .alias("t_tgt"),
    )
    j = (
        tf.withColumn("c_gen", c_gen)
        .join(tgt_counts, "token", "left")
        .crossJoin(F.broadcast(scalars))
        .withColumn("c_tgt", F.coalesce("c_tgt", F.lit(0)))
    )
    lp = lambda c, t: F.floor(  # noqa: E731
        F.log(
            (c.cast("double") + F.lit(1.0))
            / (t.cast("double") + F.col("v").cast("double"))
        )
        * 1000000
        + F.lit(0.5)
    ).cast("bigint")
    diff = lp(F.col("c_tgt"), F.col("t_tgt")) - lp(
        F.col("c_gen"), F.col("t_gen")
    )
    return (
        j.groupBy("doc_id", "source")
        .agg(
            F.sum("tf").cast("bigint").alias("n_tokens"),
            F.sum(F.col("tf") * diff).cast("bigint").alias("__d6"),
        )
        .select(
            "doc_id",
            "source",
            "n_tokens",
            pround(
                F.col("__d6").cast("double")
                / F.lit(1e6)
                / F.col("n_tokens").cast("double"),
                4,
            ).alias("ml_score"),
            (F.col("__d6") > 0).alias("selected"),
        )
    )


@q("q_unigram_logprob")
def q_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L4: corpus-model document scoring — the unigram analog of the
    LM-perplexity quality filter every pretraining pipeline runs (score
    each doc by the average log-probability of its tokens under a model
    fit on the corpus itself; word-salad and boilerplate scores low).

    Plan: ONE scan+explode builds the (doc, token) tf table — its only
    consumer; corpus token frequencies come from a window over it (vocab
    re-aggregation of the same subtree, not a second scan) and the
    corpus TOTAL arrives as a broadcast scalar from a scan-only branch
    (``sum(size(tokens))`` — no explode, no shuffle, the q_tfidf n_docs
    trick), so nothing needs a checkpoint.  Per-doc score =
    Σ tf·ln(c/T) / Σ tf, with each per-row ln pinned to integer
    MICRO-UNITS before the sum (floor(ln·1e6+0.5)): per-row ln agrees
    across engines, and the integer sum is order-independent — so the
    hash survives any partitioning, where a raw double sum would drift
    in the last ulp."""
    docs = T(spark, sf_dir, "documents").filter(F.trim(F.col("text")) != "")
    tf = (
        docs.select("doc_id", F.explode(tokens("text")).alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    c_tok = F.sum("tf").over(Window.partitionBy("token"))
    total = docs.agg(
        F.sum(F.size(tokens("text"))).alias("t_total")
    )
    lp_micro = F.floor(
        F.log(F.col("c_tok").cast("double") / F.col("t_total")) * 1000000
        + F.lit(0.5)
    ).cast("bigint")
    scored = tf.withColumn("c_tok", c_tok).crossJoin(F.broadcast(total))
    return (
        scored.groupBy("doc_id")
        .agg(
            F.sum("tf").alias("n_tokens"),
            pround(
                F.sum(F.col("tf") * lp_micro)
                / F.lit(1000000.0)
                / F.sum("tf"),
                4,
            ).alias("avg_logprob"),
        )
    )


@q("q_bigram_logprob")
def q_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L4: bigram language-model document scoring with add-one smoothing
    — the CCNet/KenLM-style perplexity quality filter, one order up from
    q_unigram_logprob (conditional P(w2|w1), so scrambled token order
    scores low even when the unigram mix looks fine).

    Model and scoring in one pass over the shared pinned tokenized
    frame: in-row bigram construction (``transform`` over the token
    array — no positional self-join), corpus bigram counts c(w1,w2) and
    LHS counts c(w1) as windows over the same bigram tf table, vocab
    size V as a broadcast scalar.  P = (c+1)/(c_w1+V); each per-row ln
    is pinned to integer micro-units so the per-doc sum is order-free —
    the same cross-engine determinism recipe as the unigram scorer."""
    base = _tokenized_docs(spark, sf_dir)
    big = base.filter(F.size("__toks") >= 2).select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(slice(__toks, 1, size(__toks) - 1), "
                "(t, i) -> struct(t AS w1, element_at(__toks, i + 2) AS w2))"
            )
        ).alias("b"),
    ).select("doc_id", "b.w1", "b.w2")
    tf = big.groupBy("doc_id", "w1", "w2").agg(
        F.count(F.lit(1)).alias("tf")
    )
    c_big = F.sum("tf").over(Window.partitionBy("w1", "w2"))
    c_w1 = F.sum("tf").over(Window.partitionBy("w1"))
    vocab = base.select(F.explode("__toks").alias("t")).agg(
        F.count_distinct("t").alias("V")
    )
    lp_micro = F.floor(
        F.log(
            (F.col("c_big") + F.lit(1.0))
            / (F.col("c_w1") + F.col("V"))
        )
        * 1000000
        + F.lit(0.5)
    ).cast("bigint")
    scored = (
        tf.withColumn("c_big", c_big)
        .withColumn("c_w1", c_w1)
        .crossJoin(F.broadcast(vocab))
    )
    return scored.groupBy("doc_id").agg(
        F.sum("tf").alias("n_bigrams"),
        pround(
            F.sum(F.col("tf") * lp_micro)
            / F.lit(1000000.0)
            / F.sum("tf"),
            4,
        ).alias("avg_logprob"),
    )


@q("q_perplexity_buckets")
def q_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L4: CCNet-style perplexity bucketing [Wenzek et al. 2020] — rank
    every document by its bigram-LM score (q_bigram_logprob: the
    KenLM-style quality signal; higher avg logprob = more natural text)
    and split the corpus into the head / middle / tail THIRDS CCNet
    feeds to pretraining with different sampling weights.  Ranking uses
    the distributed two-phase ``global_rank`` (operators/rank.py) —
    never a single-partition window — on (avg_logprob DESC, doc_id):
    the score is a pinned double (per-row micro-unit ln, pround), so
    the order and hence the buckets are engine-identical.  Bucket b of
    rank r among n docs = floor(3·(r−1)/n) → 'head'/'middle'/'tail'.
    Output per doc: score, rank, bucket.  Scale: one LM scoring pass
    (q_bigram_logprob's shape) + one range-partitioned rank."""
    from .operators.rank import global_rank

    scored = q_bigram_logprob(spark, sf_dir)
    ranked = global_rank(
        scored,
        [F.col("avg_logprob").desc(), F.col("doc_id").asc()],
        rank_col="rank",
        total_col="n_docs",
    )
    # exact integer thirds (div, not double /): 0=head, 1=middle, 2=tail
    bucket_ix = F.expr("CAST(((rank - 1) * 3) div n_docs AS INT)")
    return ranked.select(
        "doc_id",
        "avg_logprob",
        F.col("rank").cast("bigint").alias("rank"),
        F.element_at(
            F.array(F.lit("head"), F.lit("middle"), F.lit("tail")),
            bucket_ix + 1,
        ).alias("ppl_bucket"),
    )


@q("q_kneser_ney_bigram")
def q_kneser_ney_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L4: interpolated Kneser-Ney bigram probabilities [Kneser & Ney
    1995; Chen & Goodman 1998] — the smoother real LM pipelines use
    where q_bigram_logprob demonstrates add-one: absolute discount
    d=0.75 off every seen bigram, mass redistributed through the
    CONTINUATION probability (how many distinct left-contexts a word
    follows — 'Francisco' is frequent but only ever follows 'San', so
    its continuation mass is tiny).  P_KN(w2|w1) = (c−d)/c(w1) +
    d·N1+(w1·)/c(w1) · N1+(·w2)/N1+(··).  Every count is an exact
    integer at the corpus bigram-TYPE grain (one fact shuffle to
    (w1,w2); context totals / fanouts / continuation counts are windows
    over that bounded vocab-grain table; the type total is a broadcast
    scalar), and the probability is one pinned per-row IEEE expression
    written identically in the oracle.  Output: top-200 bigrams by
    (count desc, w1, w2) with their KN probabilities."""
    base = _tokenized_docs(spark, sf_dir)
    big = base.filter(F.size("__toks") >= 2).select(
        F.explode(
            F.expr(
                "transform(slice(__toks, 1, size(__toks) - 1), "
                "(t, i) -> struct(t AS w1, element_at(__toks, i + 2) AS w2))"
            )
        ).alias("b")
    ).select("b.w1", "b.w2")
    tf = big.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    w1w = Window.partitionBy("w1")
    w2w = Window.partitionBy("w2")
    typed = tf.select(
        "w1",
        "w2",
        "c",
        F.sum("c").over(w1w).alias("c1"),          # c(w1 ·)
        F.count(F.lit(1)).over(w1w).alias("n1l"),  # N1+(w1 ·)
        F.count(F.lit(1)).over(w2w).alias("nl"),   # N1+(· w2)
    )
    total_types = tf.agg(
        F.count(F.lit(1)).cast("bigint").alias("T")
    )
    scored = typed.crossJoin(F.broadcast(total_types)).select(
        "w1",
        "w2",
        "c",
        pround(
            F.expr(
                "(CAST(c AS DOUBLE) - 0.75) / CAST(c1 AS DOUBLE)"
                " + ((0.75 * CAST(n1l AS DOUBLE)) / CAST(c1 AS DOUBLE))"
                " * (CAST(nl AS DOUBLE) / CAST(T AS DOUBLE))"
            ),
            6,
        ).alias("p_kn"),
    )
    return scored.orderBy(
        F.col("c").desc(), F.col("w1").asc(), F.col("w2").asc()
    ).limit(200)


@q("q_fuzzy_match")
def q_fuzzy_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution: fuzzy part-name matching via a *blocked*
    edit-distance join — equi-join on the blocking key (p_brand) first, so
    the quadratic levenshtein work runs only within blocks; the classic
    record-linkage layout (pairwise-over-everything is not).

    Scale bound: pair work is Σ|block|², so the BLOCKING KEY must grow
    with the table — a fixed 25-brand key means blocks (and the
    quadratic term) grow linearly with |part|.  Past ~10x the fixture,
    compose the key (brand × name-prefix or length-bucket; levenshtein
    ≤ d implies |Δlen| ≤ d, so a width-(d+1) length bucket probed at
    {b, b+1} is output-identical) or switch to the n-gram-Jaccard /
    MinHash candidates whose buckets grow in NUMBER, not size.  The
    round-4 volume sweep measured exactly this: degenerate near-identical
    names at 10x made the within-block join all-pairs."""
    pt = T(spark, sf_dir, "part")
    # ``spread`` the probe side: the part scan is one parquet split at
    # bench scale, so the within-block levenshtein expansion ran in the
    # scan task (see q_linkage_weights — same blocked-pair shape).
    a = spread(
        pt.select(
            F.col("p_partkey").alias("id_a"),
            F.col("p_name").alias("name_a"),
            "p_brand",
        ),
        "id_a",
    )
    b = pt.select(
        F.col("p_partkey").alias("id_b"),
        F.col("p_name").alias("name_b"),
        F.col("p_brand").alias("brand_b"),
    )
    return (
        a.join(
            b,
            (F.col("p_brand") == F.col("brand_b"))
            & (F.col("id_a") < F.col("id_b")),
        )
        .withColumn("dist", F.levenshtein("name_a", "name_b", 5))
        .filter(F.col("dist") >= 0)  # banded: -1 means distance > 5
        .select("id_a", "id_b", "dist")
    )


@q("q_linkage_weights")
def q_linkage_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probabilistic record linkage (Fellegi-Sunter): every within-block
    candidate part pair gets a match WEIGHT — Σ over fields of
    log2(m/u) on agreement, log2((1−m)/(1−u)) on disagreement — and the
    output is the weight-band histogram (floor(weight), pair count) a
    linkage pipeline thresholds into match / review / non-match.  The
    m/u log-odds are PINNED literals imported from functions/linkage.py
    by BOTH engines, each pair's weight is a fixed-order 4-term chain of
    those literals (no data-dependent float accumulation anywhere), and
    banding happens at pair grain — so the histogram hash-checks.
    Blocking on p_brand bounds the pair join exactly as q_fuzzy_match
    (same composed-key scale note applies); bands aggregate with one
    shuffle."""
    from .functions.linkage import fs_weights

    pt = T(spark, sf_dir, "part").select(
        "p_partkey",
        "p_brand",
        "p_size",
        F.split(F.col("p_name"), " ")[0].alias("name_adj"),
        F.split(F.col("p_name"), " ")[1].alias("name_noun"),
        F.col("p_type").alias("ptype"),
    )
    cols = ["p_size", "name_adj", "name_noun", "ptype"]
    # ``spread`` the probe side: the part scan is ONE parquet split at
    # bench scale, so the broadcast pair join ran the whole Σ|block|²
    # expansion + weight codegen serially in the scan task (profiled:
    # the query's dominant stage).  An explicit-width exchange of the
    # 20k-row probe frame is noise next to the pair work it spreads.
    a = spread(
        pt.select(
            F.col("p_partkey").alias("id_a"),
            "p_brand",
            *[F.col(c).alias(f"a_{i}") for i, c in enumerate(cols)],
        ),
        "id_a",
    )
    b = pt.select(
        F.col("p_partkey").alias("id_b"),
        F.col("p_brand").alias("brand_b"),
        *[F.col(c).alias(f"b_{i}") for i, c in enumerate(cols)],
    )
    pairs = a.join(
        b,
        (F.col("p_brand") == F.col("brand_b"))
        & (F.col("id_a") < F.col("id_b")),
    )
    weight = None
    for i, (_, wa, wd) in enumerate(fs_weights()):
        term = F.when(
            F.col(f"a_{i}") == F.col(f"b_{i}"), F.lit(wa)
        ).otherwise(F.lit(wd))
        weight = term if weight is None else weight + term
    return (
        pairs.select(F.floor(weight).cast("bigint").alias("weight_band"))
        .groupBy("weight_band")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


@q("q_linkage_em")
def q_linkage_em(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FELLEGI-SUNTER PARAMETER ESTIMATION via EM [Winkler 1988, "Using
    the EM algorithm for weight computation in the Fellegi-Sunter model
    of record linkage"] — where q_linkage_weights SCORES pairs with
    pinned m/u literals, this ESTIMATES m/u/λ from the data, the step a
    real linkage deployment runs first.  The blocked pair frame
    collapses to the 16-row agreement-PATTERN contingency (2⁴ patterns
    over 4 fields — the EM state is pattern-grain, never pair-grain,
    so three rounds cost three 16-row aggregates no matter the corpus).
    Cross-engine exactness: dyadic inits (λ=0.125, m=0.75, u=0.25 —
    exact doubles), each round's per-pattern posterior w is one
    fixed-order IEEE chain on identical inputs, w pins to the ×1e9
    grid BEFORE the weighted sums (order-free DECIMAL integer
    accumulation), and every M-step parameter is ONE division of exact
    integers — so three full EM rounds are bit-identical to the
    DuckDB oracle's unrolled CTE replay.  Honest caveat: the fixture
    plants no true duplicates, so the two latent classes EM separates
    are unlabeled (m>u orientation is only guaranteed when a real
    matched class exists) — the certified contract is the EM
    trajectory itself.  Scale shape: one blocked pair join (the
    q_fuzzy_match blocking note applies), one shuffle to the
    16-pattern grain, then constant-size arithmetic."""
    pt = T(spark, sf_dir, "part").select(
        "p_partkey",
        "p_brand",
        "p_size",
        F.split(F.col("p_name"), " ")[0].alias("name_adj"),
        F.split(F.col("p_name"), " ")[1].alias("name_noun"),
        F.col("p_type").alias("ptype"),
    )
    cols = ["p_size", "name_adj", "name_noun", "ptype"]
    # ``spread`` the probe side — same blocked-pair shape and fix as
    # q_linkage_weights (single-split scan serialized the expansion).
    a = spread(
        pt.select(
            F.col("p_partkey").alias("id_a"),
            "p_brand",
            *[F.col(c).alias(f"a_{i}") for i, c in enumerate(cols)],
        ),
        "id_a",
    )
    b = pt.select(
        F.col("p_partkey").alias("id_b"),
        F.col("p_brand").alias("brand_b"),
        *[F.col(c).alias(f"b_{i}") for i, c in enumerate(cols)],
    )
    pairs = a.join(
        b,
        (F.col("p_brand") == F.col("brand_b"))
        & (F.col("id_a") < F.col("id_b")),
    )
    pat = cut_lineage(
        pairs.select(
            *[
                (F.col(f"a_{i}") == F.col(f"b_{i}"))
                .cast("int")
                .alias(f"g{i}")
                for i in range(4)
            ]
        )
        .groupBy("g0", "g1", "g2", "g3")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c")),
        eager=False,
    )
    dd = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    # dyadic init — exact doubles on both engines
    state = spark.range(1).select(
        F.lit(0.125).alias("lam"),
        *[F.lit(0.75).alias(f"m{i}") for i in range(4)],
        *[F.lit(0.25).alias(f"u{i}") for i in range(4)],
    )
    for _ in range(3):
        pw = pat.crossJoin(F.broadcast(state))
        num = F.col("lam")
        den0 = F.lit(1.0) - F.col("lam")
        for i in range(4):
            gi = F.col(f"g{i}") == 1
            num = num * F.when(
                gi, F.col(f"m{i}")
            ).otherwise(F.lit(1.0) - F.col(f"m{i}"))
            den0 = den0 * F.when(
                gi, F.col(f"u{i}")
            ).otherwise(F.lit(1.0) - F.col(f"u{i}"))
        w9 = F.floor(num / (num + den0) * F.lit(1e9) + F.lit(0.5)).cast(
            "bigint"
        )
        rowed = pw.select("c", *[f"g{i}" for i in range(4)], w9.alias("w9"))
        agg = rowed.agg(
            F.sum(dd(F.col("c"))).cast("decimal(38,0)").alias("n"),
            F.sum(dd(F.col("c")) * F.col("w9"))
            .cast("decimal(38,0)")
            .alias("sw"),
            *[
                F.sum(dd(F.col("c")) * F.col("w9") * F.col(f"g{i}"))
                .cast("decimal(38,0)")
                .alias(f"swg{i}")
                for i in range(4)
            ],
            *[
                F.sum(
                    dd(F.col("c"))
                    * (F.lit(10**9) - F.col("w9"))
                    * F.col(f"g{i}")
                )
                .cast("decimal(38,0)")
                .alias(f"sug{i}")
                for i in range(4)
            ],
        )
        state = agg.select(
            (
                F.col("sw").cast("double")
                / (F.col("n").cast("double") * F.lit(1e9))
            ).alias("lam"),
            *[
                (
                    F.col(f"swg{i}").cast("double")
                    / F.col("sw").cast("double")
                ).alias(f"m{i}")
                for i in range(4)
            ],
            *[
                (
                    F.col(f"sug{i}").cast("double")
                    / (
                        F.col("n").cast("double") * F.lit(1e9)
                        - F.col("sw").cast("double")
                    )
                ).alias(f"u{i}")
                for i in range(4)
            ],
        )
    names = ["size", "name_adj", "name_noun", "ptype"]
    return state.select(
        pround(F.col("lam"), 6).alias("lambda_match"),
        *[
            pround(F.col(f"m{i}"), 6).alias(f"m_{names[i]}")
            for i in range(4)
        ],
        *[
            pround(F.col(f"u{i}"), 6).alias(f"u_{names[i]}")
            for i in range(4)
        ],
    )


@q("q_fuzzy_ids_fastss")
def q_fuzzy_ids_fastss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality audit: edit-distance-1 neighbor detection over the
    customer-name identifier space via DELETION NEIGHBORHOODS (FastSS,
    Bocek et al. 2007 — public algorithm): each name emits itself plus
    its |name| single-character deletions as join keys; any ed≤1 pair
    shares a key (deletion/insertion: one side's variant IS the other;
    substitution: both delete the differing position), and exact
    levenshtein verifies the candidates (a shared key admits some ed=2
    pairs, e.g. adjacent transposes).  This is q_fuzzy_match's
    documented scale escape: buckets grow in NUMBER (one per variant),
    not in size — no blocking key to outgrow, candidate volume ≈
    |vocab|·len, and the verify is per-candidate.  Fat-fingered IDs
    (one digit off) are exactly what it catches.  Output: per name, how
    many ed≤1 neighbors exist and the smallest one — compact, symmetric
    (pairs counted from both sides), deterministic."""
    cu = T(spark, sf_dir, "customer").select(
        F.col("c_name").alias("tok")
    ).distinct()
    variants = F.concat(
        F.transform(
            F.sequence(F.lit(1), F.length("tok")),
            lambda i: F.concat(
                F.substr(F.col("tok"), F.lit(1), i - F.lit(1)),
                F.substr(F.col("tok"), i + F.lit(1), F.length("tok")),
            ),
        ),
        F.array(F.col("tok")),
    )
    # ``spread`` on the variant key: the self-join's verify stage (every
    # shared-key candidate through levenshtein) is compute-dense per
    # byte — AQE byte-coalescing ran its 15.1 cpu-s on 2 tasks
    # (profiled; the query's wall).  The explicit-width exchange is
    # reused by BOTH sides of the self-join (co-partitioned on v).
    var = spread(cu.select("tok", F.explode(variants).alias("v")), "v")
    # verify BEFORE the distinct, and join only the a<b half: the raw
    # variant join emits ~|vocab|·len·alphabet rows, most of them ed=2
    # rejects and duplicate orderings — shuffling only the verified
    # half-pairs through the dedup measured ~5x less exchange volume at
    # the 10x sweep.  The symmetric per-name rollup re-mirrors at the
    # end (a distinct pair set, so the union doubles exactly).
    half = (
        var.select(F.col("tok").alias("tok_a"), "v")
        .join(var.select(F.col("tok").alias("tok_b"), "v"), "v")
        .filter(F.col("tok_a") < F.col("tok_b"))
        .filter(F.levenshtein("tok_a", "tok_b") <= 1)
        .select("tok_a", "tok_b")
        .distinct()
    )
    sym = half.unionByName(
        half.select(
            F.col("tok_b").alias("tok_a"), F.col("tok_a").alias("tok_b")
        )
    )
    return sym.groupBy(F.col("tok_a").alias("c_name")).agg(
        F.count(F.lit(1)).alias("n_near"),
        F.min("tok_b").alias("nearest"),
    )


@q("q_grouping_sets")
def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5: GROUPING SETS — the per-flag, per-status, and grand-total
    aggregates in one pass (Expand + single shuffle, same physical shape
    as rollup/cube)."""
    T(spark, sf_dir, "lineitem").createOrReplaceTempView("__gs_lineitem")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
               count(*) AS n_rows
        FROM __gs_lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """
    )


@q("q_corpus_sample")
def q_corpus_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L4: reproducible 10% corpus sample — md5-derived bucket in [0,100)
    per doc id, keep bucket < 10.  Unlike ``df.sample`` (seed + partition
    dependent), the hash bucket is a pure function of the row key:
    stable across engines, re-runs, repartitions, and appends — the
    property a training-data pipeline needs for auditable subsets."""
    docs = T(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("bigint") % 100
    )
    return (
        docs.withColumn("bucket", bucket)
        .filter(F.col("bucket") < 10)
        .select("doc_id", "bucket")
    )


@q("q_tokenizer_fertility")
def q_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L4: per-language tokenizer fertility — BPE-ish pre-tokens per
    whitespace word and characters per pre-token, the measure that tells
    a multilingual pipeline which languages a tokenizer fragments (high
    fertility = more compute per word of signal; feeds q_domain_mixture's
    allocation decisions).  All aggregates are exact integer sums from
    one scan; the ratios are per-row IEEE on identical bigints, pinned."""
    docs = T(spark, sf_dir, "documents").withColumn("__toks", tokens("text"))
    per = docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(token_count_of(F.col("__toks"))).cast("bigint").alias("n_words"),
        F.sum(bpe_ish_token_count("text")).cast("bigint").alias("n_subwords"),
        F.sum(F.length("text")).cast("bigint").alias("n_chars"),
    )
    return per.select(
        "lang",
        "n_docs",
        "n_words",
        "n_subwords",
        pround(
            F.col("n_subwords").cast("double") / F.col("n_words").cast("double"),
            6,
        ).alias("fertility"),
        pround(
            F.col("n_chars").cast("double")
            / F.col("n_subwords").cast("double"),
            6,
        ).alias("chars_per_subword"),
    )


@q("q_domain_mixture")
def q_domain_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L4: temperature-scaled language/domain mixture reweighting — the
    mC4/XLM-R α-sampling step that decides how much of each language a
    multilingual training run sees.  Per language: token mass m, natural
    share p = m/Σm, temperature weight w ∝ p^α with α=1/2, the
    up/down-sampling factor w/p, and the token allocation from a fixed
    budget.

    Engine-exact without any cross-row float sum: the only aggregates are
    INTEGER sums.  √p's denominator cancels, so w = √m/Σ√m — and √m is
    made integer per row FIRST: r = floor(sqrt(m·1e8)) (sqrt is IEEE
    correctly-rounded in both engines and m·1e8 < 2^53 here, so r is the
    same bigint everywhere; the docstring bound matters — at token masses
    beyond ~9e7 per group, scale the factor down).  Σr is then an exact
    bigint sum, and every emitted double is a pure per-row expression on
    identical integers.  Language-grain output is bounded, so the totals
    ride a broadcast crossJoin, not a global window."""
    budget = 1_000_000  # tokens to draw for the training mix
    docs = T(spark, sf_dir, "documents")
    per = docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(token_count_of(tokens("text"))).cast("bigint").alias("n_tokens"),
    )
    per = per.withColumn(
        "__r",
        F.floor(F.sqrt(F.col("n_tokens").cast("double") * F.lit(1e8))).cast(
            "bigint"
        ),
    )
    tot = per.agg(
        F.sum("n_tokens").alias("__tot_m"), F.sum("__r").alias("__tot_r")
    )
    share = F.col("n_tokens").cast("double") / F.col("__tot_m").cast("double")
    weight = F.col("__r").cast("double") / F.col("__tot_r").cast("double")
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "lang",
            "n_docs",
            "n_tokens",
            pround(share, 6).alias("share"),
            pround(weight, 6).alias("weight"),
            pround(weight / share, 6).alias("sample_factor"),
            F.floor(weight * F.lit(float(budget))).cast("bigint").alias(
                "alloc_tokens"
            ),
        )
    )


@q("q_sample_weighted")
def q_sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L4: weighted sampling WITHOUT replacement, deterministically — the
    Efraimidis-Spirakis A-Res scheme with the randomness replaced by a
    per-row md5 draw: u = (h32 + 0.5)/2^32 (exact rational in (0,1)),
    sort key ln(u)/w, and the top-k under that key is a without-
    replacement sample where P(selected) tracks weight w (here: document
    length — the 'sample long docs more' curriculum shape).  Stable
    across engines, re-runs and repartitions like q_corpus_sample, but
    WEIGHTED.  orderBy+limit plans as TakeOrderedAndProject: per-partition
    top-k then a k-row driver merge, never a global sort."""
    from .functions.sampling import ares_key

    docs = T(spark, sf_dir, "documents")
    key = ares_key(F.col("doc_id"), F.col("n_chars"))
    return (
        docs.select(
            "doc_id",
            F.col("n_chars").cast("int").alias("weight"),
            key.alias("__key"),
        )
        .orderBy(F.col("__key").desc(), "doc_id")
        .limit(20)
        .select("doc_id", "weight", pround(F.col("__key"), 6).alias("sample_key"))
    )


@q("q_sample_weighted_grouped")
def q_sample_weighted_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L4: per-GROUP weighted sampling — the top-3 A-Res draws per
    language (the per-domain quota form of q_sample_weighted: combine
    with q_domain_mixture's allocations to materialize a temperature-
    mixed corpus).  Ranks via ``operators.rank.grouped_topk``: per-
    partition heaps first, final rank over <= k·P survivors — never a
    full-group window over data-grain rows."""
    from .functions.sampling import ares_key
    from .operators.rank import grouped_topk

    docs = T(spark, sf_dir, "documents")
    key = ares_key(F.col("doc_id"), F.col("n_chars"))
    base = docs.select(
        "lang",
        "doc_id",
        F.col("n_chars").cast("int").alias("weight"),
        key.alias("__key"),
    )
    top = grouped_topk(
        base, ["lang"], [F.col("__key").desc(), F.col("doc_id")], 3
    )
    return top.select(
        "lang",
        F.col("rn").cast("int").alias("rn"),
        "doc_id",
        "weight",
        pround(F.col("__key"), 6).alias("sample_key"),
    )


@q("q_mlm_masking")
def q_mlm_masking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L4: masked-LM training prep — deterministically mask ~15% of each
    document's tokens (position i masked iff the md5 of "doc_id:i" lands
    in the first 15 of 100 buckets; the same hash-bucket trick as
    q_corpus_sample, per TOKEN).  Reproducible across engines, re-runs
    and repartitions — an auditable alternative to RNG masking.  Pure
    array HOFs (indexed transform + filter), no explode of the corpus,
    no UDF; emits token counts and the md5 of the masked text."""
    docs = T(spark, sf_dir, "documents")
    t = tokens("text")

    def masked_at(pos: F.Column) -> F.Column:  # pos is 1-based
        key = F.concat_ws(
            ":", F.col("doc_id").cast("string"), pos.cast("string")
        )
        return (
            F.conv(F.substring(F.md5(key), 1, 4), 16, 10).cast("bigint") % 100
            < 15
        )

    base = docs.select("doc_id", t.alias("__toks"))
    masked = F.transform(
        F.col("__toks"),
        lambda x, i: F.when(masked_at(i + 1), F.lit("[MASK]")).otherwise(x),
    )
    n_masked = F.size(
        F.filter(
            F.sequence(F.lit(1), F.size("__toks")), lambda p: masked_at(p)
        )
    )
    return base.select(
        "doc_id",
        F.size("__toks").cast("bigint").alias("n_tokens"),
        n_masked.cast("bigint").alias("n_masked"),
        F.md5(F.array_join(masked, " ")).alias("masked_md5"),
    )


@q("q_temporal_split")
def q_temporal_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME-based train/val/test split with a LEAKAGE AUDIT — the
    companion to q_split_assign's hash split that forecasting /
    churn / recommendation training must use instead (a hash split on
    time-series data lets the model see the future): boundaries at 70%
    and 85% of the observed time span (derived from min/max epoch
    seconds — one 1-row aggregate, broadcast as a scalar; integer
    arithmetic throughout), events assigned by strict epoch-second
    comparison.  The audit column is what ML-ops dashboards actually
    page on: per split, how many of its users ALSO appear in train —
    for val/test that's the user-overlap that makes user-level metrics
    optimistic (temporal splits prevent FUTURE leakage, not
    entity-memorization leakage; surfacing the overlap is the honest
    statement of what remains).  Scale shape: one min/max scan, one
    (split, user) distinct shuffle, one broadcast semi-join against
    train's user set — event-volume-invariant output of 3 rows."""
    ev = T(spark, sf_dir, "events").select(
        "user_id", F.col("ts").cast("long").alias("s")
    )
    bounds = ev.agg(
        F.min("s").alias("mn"), F.max("s").alias("mx")
    ).select(
        F.expr("mn + ((mx - mn) * 7) div 10").alias("b1"),
        F.expr("mn + ((mx - mn) * 17) div 20").alias("b2"),
    )
    tagged = ev.join(F.broadcast(bounds)).withColumn(
        "split",
        F.when(F.col("s") < F.col("b1"), "train")
        .when(F.col("s") < F.col("b2"), "val")
        .otherwise("test"),
    )
    per_split = tagged.groupBy("split").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.countDistinct("user_id").cast("bigint").alias("n_users"),
    )
    su = tagged.select("split", "user_id").distinct()
    train_users = su.filter(F.col("split") == "train").select("user_id")
    overlap = (
        su.join(F.broadcast(train_users), "user_id")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_users_seen_in_train")
        )
    )
    return (
        per_split.join(overlap, "split", "left")
        .select(
            "split",
            "n_events",
            "n_users",
            F.coalesce("n_users_seen_in_train", F.lit(0))
            .cast("bigint")
            .alias("n_users_seen_in_train"),
        )
        .orderBy("split")
    )


@q("q_split_assign")
def q_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L4: deterministic train/val/test split (80/10/10) by hash bucket of
    the doc id — same portable-bucket construction as q_corpus_sample, so
    membership is stable under reshuffling and incremental appends."""
    docs = T(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("bigint") % 100
    )
    return docs.select(
        "doc_id",
        F.when(bucket < 80, "train")
        .when(bucket < 90, "val")
        .otherwise("test")
        .alias("split"),
    )


@q("q_lang_id")
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L4: stopword-hit language heuristic with deterministic tie-break."""
    docs = T(spark, sf_dir, "documents").withColumn("__toks", tokens("text"))
    toks = F.col("__toks")
    en = stopword_count_of(toks, STOPWORDS_EN)
    pt = stopword_count_of(toks, ("de", "a", "o", "que", "e", "do", "da", "em", "um", "para"))
    es = stopword_count_of(toks, ("de", "la", "que", "el", "en", "y", "a", "los", "se", "del"))
    return docs.select(
        "doc_id",
        en.alias("en_hits"),
        pt.alias("pt_hits"),
        es.alias("es_hits"),
        F.when((en >= pt) & (en >= es), "en")
        .when(pt >= es, "pt")
        .otherwise("es")
        .alias("lang_pred"),
    )


# ---------------------------------------------------------------------------
# Event analytics / BI extensions (BASELINE.json north_star)
# ---------------------------------------------------------------------------

@q("q_sessionize")
def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event session assignment: a new session starts when a user's gap
    since their previous event exceeds 30 minutes (gaps-and-islands).  One
    shuffle on user_id serves both window passes; integer ms arithmetic
    (``unix_millis`` vs DuckDB ``epoch_ms`` — both floor micros) keeps the
    hash engine-stable.  At 100 TB this is the standard sessionization
    layout: partition by user, sort within partition, no driver state."""
    ev = T(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ms = F.unix_millis(F.col("ts"))
    prev_ms = F.lag(ms).over(w)
    is_new = F.when(
        prev_ms.isNull() | ((ms - prev_ms) > 1800000), F.lit(1)
    ).otherwise(F.lit(0))
    return (
        ev.withColumn("__is_new", is_new)
        .select(
            "event_id",
            "user_id",
            F.sum("__is_new")
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .alias("session_seq"),
        )
    )


@q("q_string_agg")
def q_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (LISTAGG): per nation key, the ``|``-joined
    sorted customer names.  ``array_sort(collect_list(...))`` pins the
    concatenation order — a bare collect_list order is partition-dependent
    and would never hash-match (or reproduce) on a real cluster."""
    return (
        T(spark, sf_dir, "customer")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.array_join(F.array_sort(F.collect_list("c_name")), "|").alias(
                "names"
            ),
        )
    )


@q("q_mode_per_group")
def q_mode_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Modal value per group (most frequent o_orderpriority per order
    status), deterministic tie-break by priority text.  Two-level agg: the
    count collapses before the window rank, so the ranked input is
    |statuses×priorities|, not |orders|."""
    counts = (
        T(spark, sf_dir, "orders")
        .groupBy("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.partitionBy("o_orderstatus").orderBy(
        F.col("cnt").desc(), F.col("o_orderpriority").asc()
    )
    return (
        counts.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            "o_orderstatus",
            F.col("o_orderpriority").alias("mode_priority"),
            "cnt",
        )
    )


@q("q_histogram")
def q_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width numeric histogram over o_totalprice (25k-wide bins, 20
    bins total, clamped to bin 19) — single hash aggregation, bin id from
    pure IEEE floor/divide so
    both engines bucket identically.  The fixed-bound form needs no prior
    min/max pass — the shape to prefer at scale when bounds are known."""
    od = T(spark, sf_dir, "orders")
    bin_id = F.least(
        F.floor(F.col("o_totalprice") / F.lit(25000.0)), F.lit(19)
    ).cast("int")
    return (
        od.groupBy(bin_id.alias("bin_id"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum(F.col("o_totalprice")).alias("sum_price"),
        )
    )


@q("q_join_null_aware_anti")
def q_join_null_aware_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-aware anti join (``NOT IN`` with a nullable probe key): rows
    whose key is NULL must NOT qualify (three-valued logic), unlike
    ``left_anti``.  Spark plans this as a null-aware broadcast hash join
    (single-column NOT IN); the probe key is nullified for every 100th
    customer to exercise the NULL path."""
    probe = T(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.when(F.col("o_custkey") % 100 == 0, F.lit(None))
        .otherwise(F.col("o_custkey"))
        .alias("probe_key"),
    )
    probe.createOrReplaceTempView("__naaj_probe")
    T(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 9000).select(
        "c_custkey"
    ).createOrReplaceTempView("__naaj_build")
    return spark.sql(
        """
        SELECT o_orderkey FROM __naaj_probe
        WHERE probe_key NOT IN (SELECT c_custkey FROM __naaj_build)
        """
    )


@q("q_tfidf")
def q_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L4: top-5 distinctive terms per document by tf-idf.  The doc-term
    table shuffles once on (doc_id, token); document frequency re-aggregates
    the same table (vocab-sized); N arrives as a broadcast scalar.  Ranking
    uses the integer key ``tf*1e6 div df`` — monotone in tf/df, immune to
    the cross-engine last-ulp drift of ``ln`` — while the emitted score is
    the standard ``tf*ln(N/df)`` pinned to 4dp.

    Document frequency is a ``count over (partition by token)`` window on
    the tf table, NOT a separate groupBy branch: DataFrame lineage is not a
    CTE, and a second branch re-runs the scan+explode of the whole corpus
    (verified via explain — test_plans asserts one Generate).  N stays a
    broadcast scalar from a count-only scan (no explode)."""
    docs = T(spark, sf_dir, "documents").filter(F.trim(F.col("text")) != "")
    tf = (
        docs.select("doc_id", F.explode(tokens("text")).alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.withColumn(
            "df_cnt", F.count(F.lit(1)).over(Window.partitionBy("token"))
        )
        .crossJoin(F.broadcast(n_docs))
        .withColumn("__key", F.expr("tf * 1000000 DIV df_cnt"))
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("__key").desc(), F.col("token").asc()
    )
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= 5)
        .select(
            "doc_id",
            "token",
            "tf",
            pround(
                F.col("tf") * F.log(F.col("n_docs") / F.col("df_cnt")), 4
            ).alias("tfidf"),
        )
    )


@q("q_pmi_bigrams")
def q_pmi_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L4: pointwise mutual information of adjacent token pairs (collocation
    mining) over docs with ≥2 tokens.  Unigram and bigram counts are two
    aggregations of one tokenized scan, each checkpointed once; the corpus
    totals arrive as broadcast 1-row aggregates of the checkpointed count
    tables — not empty-partition windows over them (at web scale the
    distinct-unigram/bigram tables are themselves billions of rows).
    PMI = ln((c_xy/N_bi) / ((c_x/N_uni)(c_y/N_uni))), pinned to 4dp."""
    docs = (
        T(spark, sf_dir, "documents")
        .filter(F.trim(F.col("text")) != "")
        .withColumn("__toks", tokens("text"))
        .filter(F.size("__toks") >= 2)
    )
    uni_counts = cut_lineage(
        docs.select(F.explode("__toks").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c_w"))
    )
    uni = uni_counts.crossJoin(
        F.broadcast(uni_counts.agg(F.sum("c_w").alias("n_uni")))
    )
    bi_counts = cut_lineage(
        docs.select(F.explode(word_shingles("text", 2)).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("c_xy"))
    )
    bi = (
        bi_counts.crossJoin(
            F.broadcast(bi_counts.agg(F.sum("c_xy").alias("n_bi")))
        )
        .filter(F.col("c_xy") >= 5)
        .withColumn("w1", F.split(F.col("bigram"), " ").getItem(0))
        .withColumn("w2", F.split(F.col("bigram"), " ").getItem(1))
    )
    # Unpivot each bigram into (pos, word) rows so the unigram table joins
    # ONCE — two join branches against `uni` would re-run its scan+explode
    # subtree (DataFrame lineage is not a CTE), tripling corpus scans.
    pairs = bi.select(
        "bigram",
        "c_xy",
        "n_bi",
        F.explode(
            F.array(
                F.struct(F.lit(1).alias("pos"), F.col("w1").alias("w")),
                F.struct(F.lit(2).alias("pos"), F.col("w2").alias("w")),
            )
        ).alias("pw"),
    ).select("bigram", "c_xy", "n_bi", F.col("pw.pos").alias("pos"), F.col("pw.w").alias("w"))
    joined = pairs.join(uni, "w")
    both = joined.groupBy("bigram", "c_xy", "n_bi").agg(
        F.max(F.when(F.col("pos") == 1, F.col("c_w"))).alias("c_x"),
        F.max(F.when(F.col("pos") == 2, F.col("c_w"))).alias("c_y"),
        F.max("n_uni").alias("n_uni"),
    )
    pmi = F.log(
        (F.col("c_xy") / F.col("n_bi"))
        / ((F.col("c_x") / F.col("n_uni")) * (F.col("c_y") / F.col("n_uni")))
    )
    return both.select("bigram", "c_xy", pround(pmi, 4).alias("pmi"))


@q("q_time_bucket_rollup")
def q_time_bucket_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style hierarchical downsampling: hourly partials roll up
    into daily aggregates — the daily pass reads |hours×types| rows, not
    |events|, which is the continuous-aggregate maintenance pattern at
    scale (store the hourly table; derive coarser grains from it).  Bucket
    ids are integer epoch math; the value sum stays DECIMAL through both
    levels so re-aggregation is order-exact."""
    ev = T(spark, sf_dir, "events")
    hour = (F.unix_timestamp("ts") / 3600).cast("bigint") * 3600
    hourly = ev.groupBy(
        hour.alias("hour_start"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(18,2)")).alias("sv"),
    )
    return (
        hourly.groupBy(
            ((F.col("hour_start") / 86400).cast("bigint") * 86400).alias(
                "day_start"
            ),
            "event_type",
        )
        .agg(
            F.sum("n").alias("n_events"),
            F.sum("sv").cast("double").alias("sum_value"),
        )
    )


@q("q_salted_groupby")
def q_salted_groupby(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-mitigated aggregation: the events table has only a handful of
    event_type values (extreme key skew at scale), so the aggregate runs in
    two phases — partial per (event_type, salt16) spreads the hot keys over
    16 reducers, then a tiny final pass merges partials.  Output is
    provably identical to the direct GROUP BY (the oracle IS the direct
    form).  Salt from a deterministic hash; value sums stay DECIMAL across
    phases so merge order cannot perturb the result."""
    ev = T(spark, sf_dir, "events")
    salt = F.pmod(F.hash("event_id"), F.lit(16))
    partial = ev.groupBy("event_type", salt.alias("__salt")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(18,2)")).alias("sv"),
    )
    return partial.groupBy("event_type").agg(
        F.sum("n").alias("n_events"),
        F.sum("sv").cast("double").alias("sum_value"),
    )


@q("q_rfm")
def q_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BI segmentation: RFM (recency/frequency/monetary) quartile scores per
    customer from the orders table — one aggregation, then three DISTRIBUTED
    quartile assignments.  A naive ``ntile(4).over(Window.orderBy(...))``
    pulls every customer into ONE partition (WindowExec "No Partition
    Defined").  Here all three orderings rank in ONE two-phase pass:
    each metric becomes a slim (custkey, metric_id, bigint sortkey) row —
    recency as negated epoch-days, frequency negated, monetary as negated
    exact cents — and ``operators.rank.grouped_rank`` range-partitions the
    3N-row union on (metric, sortkey), ranks within metric at full
    parallelism, and NTILE's closed form on (rank, N) yields the scores,
    pivoted back to one row per customer.  Value-identical to the
    single-partition plan (each bigint encoding is order-isomorphic to the
    original column and custkey breaks ties) at any customer count."""
    from .operators.rank import grouped_rank, ntile_from_rank

    # monetary is kept as EXACT scaled cents (the same per-row rounding
    # dsum uses) all the way through the ranking: the sort key is the
    # bigint cents sum itself, not a double->bigint roundtrip of it —
    # (S/100)*100 lands just below S for about half of all cent values,
    # which would collide adjacent cents and scramble tie-breaks.
    base = (
        T(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.max(F.to_date("o_orderdate")).alias("last_order"),
            F.count(F.lit(1)).alias("frequency"),
            F.sum(
                F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5))
            ).alias("__cents"),
        )
    )
    stacked = base.select(
        "o_custkey",
        F.explode(
            F.array(
                F.struct(
                    F.lit("r").alias("metric"),
                    (-F.unix_date(F.col("last_order"))).cast("bigint").alias("sk"),
                ),
                F.struct(
                    F.lit("f").alias("metric"),
                    (-F.col("frequency")).cast("bigint").alias("sk"),
                ),
                F.struct(
                    F.lit("m").alias("metric"),
                    (-F.col("__cents")).cast("bigint").alias("sk"),
                ),
            )
        ).alias("mx"),
    ).select("o_custkey", "mx.metric", "mx.sk")
    ranked = grouped_rank(
        stacked,
        ["metric"],
        [F.col("sk"), F.col("o_custkey")],
        rank_col="__rank",
        total_col="__n",
    )
    tiles = ranked.select(
        "o_custkey",
        "metric",
        "sk",
        ntile_from_rank(F.col("__rank"), F.col("__n"), 4).alias("tile"),
    )
    # Every metric is recoverable from its own sort key, so the final
    # per-customer pivot needs NO join back to base (which would re-run
    # the orders aggregate — DataFrame lineage is not a CTE) and no
    # payload columns through the rank shuffle.
    return tiles.groupBy("o_custkey").agg(
        F.date_from_unix_date(
            (-F.max(F.when(F.col("metric") == "r", F.col("sk")))).cast("int")
        ).alias("last_order"),
        (-F.max(F.when(F.col("metric") == "f", F.col("sk")))).alias("frequency"),
        (
            -F.max(F.when(F.col("metric") == "m", F.col("sk"))) / F.lit(100.0)
        ).alias("monetary"),
        F.max(F.when(F.col("metric") == "r", F.col("tile"))).alias("r_score"),
        F.max(F.when(F.col("metric") == "f", F.col("tile"))).alias("f_score"),
        F.max(F.when(F.col("metric") == "m", F.col("tile"))).alias("m_score"),
    ).select(
        "o_custkey", "last_order", "frequency", "monetary",
        "r_score", "f_score", "m_score",
    )


@q("q_shapley_attribution")
def q_shapley_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Shapley-value channel attribution [Shapley 1953; the
    data-driven attribution model GA4 ships] — the game-theoretic
    answer to q_attribution_last_touch / _positional's heuristics: the
    players are the 4 non-purchase channels, a user's coalition is the
    SET of channels they touched, the characteristic function
    v(S) = converted users whose coalition ⊆ S, and channel i's credit
    is φ(i) = Σ_{S∌i} |S|!·(k−|S|−1)!/k! · [v(S∪{i}) − v(S)].  With
    k=4 every Shapley weight is a rational with denominator 4! = 24, so
    the whole computation is EXACT INTEGER arithmetic in 1/24 units
    (φ_x24), the fraction emitted as a pinned division only at the end
    — and efficiency (Σφ = v(full)) is assertable in integers.  Scale
    shape: one shuffle to the user grain (coalition bitmask + converted
    flag), one 16-row coalition census, then the 2^k×k Shapley sum as
    driver-free LITERAL arithmetic on the ≤16-row frame via a tiny
    cross join — user volume only ever touches the first aggregate;
    the exponential term is in k (channels, fixed small), never N."""
    from itertools import combinations
    from math import factorial

    CH = ["click", "error", "signup", "view"]  # bit i = CH[i]
    k = len(CH)
    ev = T(spark, sf_dir, "events")
    mask = None
    for i, c in enumerate(CH):
        b = F.max(
            F.when(F.col("event_type") == c, F.lit(1 << i)).otherwise(0)
        )
        mask = b if mask is None else (mask + b)
    users = ev.groupBy("user_id").agg(
        mask.alias("mask"),
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("conv"),
    )
    census = cut_lineage(
        users.filter(F.col("conv") == 1)
        .groupBy("mask")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    # v(S) = Σ_{mask ⊆ S} n(mask): 16 subsets as literal rows, one
    # bounded join — v computed by the subset-bitmask condition.
    subsets = spark.range(1 << k).select(F.col("id").cast("int").alias("s"))
    v = (
        subsets.join(
            census,
            F.expr("CAST(mask AS INT) & s") == F.col("mask").cast("int"),
            "left",
        )
        .groupBy("s")
        .agg(F.coalesce(F.sum("n"), F.lit(0)).cast("bigint").alias("v"))
    )
    # Shapley in 1/24 units: for each channel i and each S not
    # containing i, weight_x24 = |S|!(k-|S|-1)!  (k!=24 divided out).
    rows = []
    for i, c in enumerate(CH):
        for r in range(k):
            for S in combinations([j for j in range(k) if j != i], r):
                s_mask = sum(1 << j for j in S)
                w = factorial(r) * factorial(k - r - 1)
                rows.append((c, s_mask, s_mask | (1 << i), w))
    terms = spark.createDataFrame(
        rows, "channel string, s int, s_with int, w_x24 bigint"
    )
    vb = F.broadcast(v)
    phi = (
        terms.join(vb.withColumnRenamed("s", "js"), F.col("s") == F.col("js"))
        .withColumnRenamed("v", "v_s")
        .drop("js")
        .join(vb.withColumnRenamed("s", "jw"), F.col("s_with") == F.col("jw"))
        .withColumnRenamed("v", "v_sw")
        .drop("jw")
        .groupBy("channel")
        .agg(
            F.sum(F.col("w_x24") * (F.col("v_sw") - F.col("v_s")))
            .cast("bigint")
            .alias("phi_x24")
        )
    )
    return phi.select(
        "channel",
        "phi_x24",
        pround(F.col("phi_x24").cast("double") / 24.0, 6).alias(
            "shapley_conversions"
        ),
    ).orderBy("channel")


@q("q_attribution_positional")
def q_attribution_positional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-touch U-shaped (40/20/40) attribution with EXACT credits:
    each user's FIRST purchase distributes 1.0 of credit over their last
    ≤8 prior touches within 7 days — first and last touch get 0.4 each,
    the middle splits 0.2 evenly (n=1 → 1.0, n=2 → 0.5/0.5).  Credit
    sums are float-summation traps (0.2/(n−2) denominators vary per
    user), so credits are scaled by 600 = 10·lcm(1..6): every per-touch
    credit becomes an exact INTEGER (240 / 120/(n−2) / 300 / 600), the
    per-channel total is one order-free bigint sum, and the single
    division by 600.0 restores units.  The ≤8-touch cap is what makes
    the scaling exact — and is itself the standard positional-window
    contract.  Shape: two user-partition windows (first-purchase min,
    touch rank) + one aggregation; no self-joins."""
    ev = T(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id"
    )
    w_all = Window.partitionBy("user_id")
    t_purchase = F.min(
        F.when(
            F.col("event_type") == "purchase",
            F.struct(F.col("ts").alias("ts"), F.col("event_id").alias("eid")),
        )
    ).over(w_all)
    touches = (
        ev.withColumn("__p", t_purchase)
        .filter(
            F.col("__p").isNotNull()
            & (F.col("event_type") != "purchase")
            & (F.col("ts") < F.col("__p.ts"))
            & (
                F.col("ts")
                >= F.col("__p.ts") - F.expr("INTERVAL 7 DAYS")
            )
        )
    )
    w_rank = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    ranked = (
        touches.withColumn("rn", F.row_number().over(w_rank))
        .filter(F.col("rn") <= 8)
        .withColumn("n", F.count(F.lit(1)).over(w_all))
    )
    credit600 = (
        F.when(F.col("n") == 1, 600)
        .when(F.col("n") == 2, 300)
        .when(
            (F.col("rn") == 1) | (F.col("rn") == F.col("n")), 240
        )
        .otherwise(
            (F.lit(120) / (F.col("n") - 2)).cast("bigint")
        )
    )
    return (
        ranked.select("event_type", credit600.alias("c600"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_touches"),
            (F.sum("c600") / F.lit(600.0)).alias("credit"),
        )
    )


@q("q_attribution_last_touch")
def q_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marketing attribution: each purchase credits the user's most recent
    prior non-purchase event within 7 days.  One conditional window max per
    user ordered by time — the arg-max key is a (ms, event_id) STRUCT, whose
    lexicographic ordering is identical in Spark and DuckDB and valid at any
    event_id magnitude (the earlier ms*1e6+event_id bigint packing silently
    corrupted once event_id ≥ 1e6).  Single shuffle on user_id, no
    self-join."""
    ev = T(spark, sf_dir, "events")
    ms = F.unix_millis(F.col("ts"))
    touch = F.when(
        F.col("event_type") != "purchase",
        F.struct(ms.alias("ms"), F.col("event_id").alias("eid")),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        ev.withColumn("__last", F.max(touch).over(w))
        .filter(
            (F.col("event_type") == "purchase")
            & F.col("__last").isNotNull()
            & ((ms - F.col("__last.ms")) <= 604800000)
        )
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            F.col("__last.eid").alias("touch_id"),
        )
    )


@q("q_anomaly_mahalanobis")
def q_anomaly_mahalanobis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multivariate outliers: squared Mahalanobis distance of each
    (quantity, price) pair from its return flag's 2-D distribution —
    the correlation-aware generalization of q_anomaly_zscore (a cheap
    row can be normal and a high-quantity row can be normal while the
    COMBINATION is anomalous).  d² > 13.8155 (χ²₂ at 0.999) flags it.

    No linear-algebra library and no iteration: the 2×2 covariance
    inverse is CLOSED FORM, so the whole statistic is sums + one per-row
    expression — n/Σx/Σy/Σx²/Σy²/Σxy accumulate exactly in
    DECIMAL(38,0) over integer cents (order-free, engine-identical),
    the 3-row stats table broadcasts back onto a second column-pruned
    scan, and d² = (cyy·dx² − 2·cxy·dx·dy + cxx·dy²)/det evaluates in
    one fixed IEEE order on identical sums.  Output per flag: row
    count, outlier count, pinned max d²."""
    li = T(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.floor(F.col("l_quantity") * 100 + F.lit(0.5))
        .cast("bigint")
        .alias("x"),
        F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
        .cast("bigint")
        .alias("y"),
    )
    d13 = lambda c: F.col(c).cast("decimal(13,0)")  # noqa: E731
    stats = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(d13("x") * d13("x")).cast("double").alias("sxx"),
        F.sum(d13("y") * d13("y")).cast("double").alias("syy"),
        F.sum(d13("x") * d13("y")).cast("double").alias("sxy"),
    )
    n = F.col("n")
    mx = F.col("sx") / n
    my = F.col("sy") / n
    cxx = (F.col("sxx") - F.col("sx") * F.col("sx") / n) / (n - F.lit(1.0))
    cyy = (F.col("syy") - F.col("sy") * F.col("sy") / n) / (n - F.lit(1.0))
    cxy = (F.col("sxy") - F.col("sx") * F.col("sy") / n) / (n - F.lit(1.0))
    st = stats.select(
        "l_returnflag",
        mx.alias("mx"),
        my.alias("my"),
        cxx.alias("cxx"),
        cyy.alias("cyy"),
        cxy.alias("cxy"),
        (cxx * cyy - cxy * cxy).alias("det"),
    )
    dx = F.col("x").cast("double") - F.col("mx")
    dy = F.col("y").cast("double") - F.col("my")
    d2 = (
        F.col("cyy") * dx * dx
        - F.lit(2.0) * F.col("cxy") * dx * dy
        + F.col("cxx") * dy * dy
    ) / F.col("det")
    return (
        li.join(F.broadcast(st), "l_returnflag")
        .filter(F.col("det") > F.lit(0.0))
        .withColumn("d2", d2)
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum(
                F.when(F.col("d2") > F.lit(13.8155), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_outliers"),
            pround(F.max("d2"), 6).alias("max_d2"),
        )
    )


@q("q_anomaly_zscore")
def q_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group z-score outliers: events whose value deviates >3 sample
    standard deviations from their type's mean.  Stats come from exact
    decimal power sums (order-independent, engine-identical — the
    q_stats_moments construction) broadcast back onto the stream; the
    z expression itself is fixed-order IEEE arithmetic."""
    ev = T(spark, sf_dir, "events")
    stats = (
        ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("double").alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("sx"),
            F.sum(
                (F.col("value").cast("decimal(18,2)") * F.col("value").cast("decimal(18,2)"))
            )
            .cast("double")
            .alias("sxx"),
        )
        .select(
            "event_type",
            (F.col("sx") / F.col("n")).alias("mean"),
            F.sqrt(
                (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n"))
                / (F.col("n") - F.lit(1.0))
            ).alias("std"),
        )
    )
    z = (F.col("value") - F.col("mean")) / F.col("std")
    return (
        ev.join(F.broadcast(stats), "event_type")
        .withColumn("z", z)
        .filter(F.abs(F.col("z")) > 3.0)
        .select("event_id", "event_type", "value", pround(F.col("z"), 4).alias("z_score"))
    )


@q("q_json_roundtrip")
def q_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines sink + source roundtrip (spark.read/write.json) with an
    explicit schema on re-read — no inference pass, which at 100 TB is a
    full extra scan.  Oracle reads the base table: the check is that the
    roundtrip is lossless."""
    path = _fixture_dir("json_roundtrip") + "/nation"
    T(spark, sf_dir, "nation").write.mode("overwrite").json(path)
    return spark.read.schema(
        "n_nationkey int, n_name string, n_regionkey int"
    ).json(path)


@q("q_orc_roundtrip")
def q_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink + source roundtrip — the other columnar format Spark ships
    a vectorized reader for; schema preserved in-file."""
    path = _fixture_dir("orc_roundtrip") + "/region"
    T(spark, sf_dir, "region").write.mode("overwrite").orc(path)
    return spark.read.orc(path)


@q("q_jdbc_roundtrip")
def q_jdbc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S-family: LIVE JDBC sink + source round-trip against embedded
    Derby (bundled in Spark's jars — no external service), read back
    through the engine's partitioned reader (4 range splits on the key,
    the parallel-pull contract ``sources/jdbc.py`` insists on).  The
    BASELINE approach names JDBC sources; this puts the real reader
    path, not just the options plumbing, under the differential gate."""
    from .sources.jdbc import read_jdbc_partitioned

    driver = "org.apache.derby.jdbc.EmbeddedDriver"
    # Keep derby.log out of the CWD even on a session we did not build
    # (derby.system.home from get_spark covers our own JVMs): the
    # property is read once at Derby engine boot, so set it before the
    # first connection; a no-op if Derby already booted in this JVM.
    try:
        import os

        from .session import fixture_root

        spark._jvm.System.setProperty(  # type: ignore[attr-defined]
            "derby.stream.error.file",
            os.path.join(fixture_root(), "derby.log"),
        )
    except Exception:
        pass  # e.g. Spark Connect: no JVM handle — accept the default
    url = f"jdbc:derby:{_fixture_dir('jdbc_rt', fresh_name=True)}/db;create=true"
    na = T(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    (
        na.write.format("jdbc")
        .option("url", url)
        .option("dbtable", "nation_rt")
        .option("driver", driver)
        .save()
    )
    return read_jdbc_partitioned(
        spark,
        url,
        "nation_rt",
        partition_column="n_nationkey",
        lower_bound=0,
        upper_bound=25,
        num_partitions=4,
        driver=driver,
    ).select("n_nationkey", "n_name", "n_regionkey")


@q("q_managed_table")
def q_managed_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog surface: ``saveAsTable`` into the session catalog (parquet
    under the warehouse dir) and read back via ``spark.table`` — the
    managed-table lifecycle a metastore deployment uses, minus the
    external Hive service (the in-memory catalog holds the metadata; on
    a cluster the same two calls hit the metastore).  Lossless check
    against the base supplier table.

    The in-memory catalog forgets tables between sessions but the
    warehouse DIRECTORY persists, so DROP TABLE alone leaves a
    LOCATION_ALREADY_EXISTS trap for the next session — the location is
    removed physically too (a persistent metastore's DROP does that for
    managed tables itself)."""
    import os
    import shutil

    name = "q_managed_supplier"
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    wh = spark.conf.get(
        "spark.sql.warehouse.dir", "spark-warehouse"
    ).removeprefix("file:")
    shutil.rmtree(os.path.join(wh, name), ignore_errors=True)
    T(spark, sf_dir, "supplier").write.mode("overwrite").saveAsTable(name)
    return spark.table(name)


@q("q_xml_roundtrip")
def q_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML sink + source roundtrip via Spark 4's built-in XML data source
    (rowTag records, explicit schema on re-read — inference would be an
    extra full scan).  The B2B-integration format the reference's BI
    audience still meets; lossless check against the base table."""
    path = _fixture_dir("xml_roundtrip") + "/nation"
    (
        T(spark, sf_dir, "nation")
        .write.mode("overwrite")
        .format("xml")
        .option("rootTag", "nations")
        .option("rowTag", "nation")
        .save(path)
    )
    return (
        spark.read.schema("n_nationkey int, n_name string, n_regionkey int")
        .format("xml")
        .option("rowTag", "nation")
        .load(path)
        .select("n_nationkey", "n_name", "n_regionkey")
    )


@q("q_posexplode")
def q_posexplode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G1 superset: positional explode (UNNEST WITH ORDINALITY) — first 4
    embedding components to (vec_id, pos, val) rows.  Generator runs
    inside codegen; no shuffle."""
    return T(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.posexplode(F.slice("embedding", 1, 4)).alias("pos", "__v"),
    ).select("vec_id", "pos", F.col("__v").cast("double").alias("val"))


@q("q_grid_fill")
def q_grid_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense BI grid: every (region × order-year) cell, zero-filled where no
    revenue exists — cross join of two tiny dimension sides, left join onto
    pre-aggregated facts (eager agg keeps the outer join probe small), the
    standard sparse-to-dense report shape."""
    od = T(spark, sf_dir, "orders")
    cu = T(spark, sf_dir, "customer")
    na = T(spark, sf_dir, "nation")
    re = T(spark, sf_dir, "region")
    years = od.select(
        F.year("o_orderdate").alias("order_year")
    ).distinct()
    grid = re.select("r_regionkey", "r_name").crossJoin(years)
    rev = (
        od.join(cu, od.o_custkey == cu.c_custkey)
        .join(F.broadcast(na), cu.c_nationkey == na.n_nationkey)
        .groupBy(
            F.col("n_regionkey").alias("rk"),
            F.year("o_orderdate").alias("yr"),
        )
        .agg(dsum(F.col("o_totalprice")).alias("rev"))
    )
    return (
        grid.join(
            rev,
            (grid.r_regionkey == rev.rk) & (grid.order_year == rev.yr),
            "left",
        )
        .select(
            "r_name",
            "order_year",
            F.coalesce(F.col("rev"), F.lit(0.0)).alias("revenue"),
        )
    )


@q("q_map_ops")
def q_map_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MapType surface: per-user event-type counts materialized as a
    map<string,bigint> (map_from_entries over a sorted entry list), then
    scalar lookups out of the map.  The map is the Spark-native column
    shape; the oracle checks the extracted scalars."""
    ev = T(spark, sf_dir, "events")
    counts = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    mapped = counts.groupBy("user_id").agg(
        F.map_from_entries(
            F.array_sort(F.collect_list(F.struct("event_type", "cnt")))
        ).alias("type_counts")
    )
    return mapped.select(
        "user_id",
        F.coalesce(F.element_at("type_counts", "view"), F.lit(0)).alias("n_view"),
        F.coalesce(F.element_at("type_counts", "purchase"), F.lit(0)).alias(
            "n_purchase"
        ),
        F.size("type_counts").alias("n_types"),
    )


@q("q_char_ngrams")
def q_char_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L4: corpus character-trigram profile, top-20 by frequency — the
    feature family under classic language-ID.  Trigrams via a sequence+
    substr transform (pure codegen, no UDF); deterministic tie-break on the
    trigram text."""
    docs = (
        T(spark, sf_dir, "documents")
        .select(F.lower(F.col("text")).alias("t"))
        .filter(F.length("t") >= 3)
    )
    tri = docs.select(
        F.explode(
            F.expr("transform(sequence(1, length(t) - 2), i -> substr(t, i, 3))")
        ).alias("trigram")
    )
    return (
        tri.groupBy("trigram")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.col("freq").desc(), F.col("trigram").asc())
        .limit(20)
    )


@q("q_cumulative_distinct")
def q_cumulative_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Growth analytics: daily new users and the cumulative unique-user
    curve.  A naive COUNT(DISTINCT) over an expanding window rescans per
    day; instead each user collapses to their first-seen day (one shuffle
    on user_id), daily counts aggregate that, and a running sum over the
    (tiny) daily table finishes — the exact-cumulative-cardinality layout
    that scales linearly."""
    ev = T(spark, sf_dir, "events")
    day = (F.unix_timestamp("ts") / 86400).cast("bigint")
    firsts = (
        ev.select("user_id", day.alias("day"))
        .groupBy("user_id")
        .agg(F.min("day").alias("first_day"))
    )
    daily = firsts.groupBy(F.col("first_day").alias("day")).agg(
        F.count(F.lit(1)).alias("new_users")
    )
    return daily.select(
        "day",
        "new_users",
        F.sum("new_users")
        .over(
            Window.orderBy("day").rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
        )
        .alias("cum_users"),
    )


@q("q_gap_fill_ffill")
def q_gap_fill_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap fill: densify each event_type to its full hourly
    range (explode over a per-type ``sequence``) and forward-fill missing
    hourly sums with ``last(..., ignorenulls)``.  Two scans of events (the
    hourly agg and its per-type bounds re-agg — a production pipeline
    persists the hourly table and pays one); the fill itself runs on the
    densified grid, partitioned by type."""
    ev = T(spark, sf_dir, "events")
    hour = (F.unix_timestamp("ts") / 3600).cast("bigint")
    hourly = ev.groupBy("event_type", hour.alias("hour")).agg(
        dsum(F.col("value")).alias("sv")
    )
    bounds = hourly.groupBy("event_type").agg(
        F.min("hour").alias("mn"), F.max("hour").alias("mx")
    )
    grid = bounds.select(
        "event_type",
        F.explode(F.sequence(F.col("mn"), F.col("mx"))).alias("hour"),
    )
    filled = grid.join(hourly, ["event_type", "hour"], "left")
    w = (
        Window.partitionBy("event_type")
        .orderBy("hour")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return filled.select(
        "event_type",
        "hour",
        F.last("sv", ignorenulls=True).over(w).alias("sv_filled"),
        F.when(F.col("sv").isNull(), 1).otherwise(0).alias("is_gap"),
    )


@q("q_gap_fill_interpolate")
def q_gap_fill_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap fill by LINEAR INTERPOLATION — the ffill twin for
    metrics where holding the last value misstates a trend.  Same
    densified per-type hourly grid as ``q_gap_fill_ffill``; each gap row
    then takes prev + (next - prev) * (h - h_prev)/(h_next - h_prev)
    from the nearest non-null neighbors on both sides (two ignorenulls
    window passes over the grid, partitioned per event_type — grid
    cardinality is types x hours, bounded by the time range, not data
    volume).  The grid spans each type's min..max observed hour, so
    every gap has both neighbors by construction — no edge fallback."""
    ev = T(spark, sf_dir, "events")
    hour = (F.unix_timestamp("ts") / 3600).cast("bigint")
    hourly = ev.groupBy("event_type", hour.alias("hour")).agg(
        dsum(F.col("value")).alias("sv")
    )
    bounds = hourly.groupBy("event_type").agg(
        F.min("hour").alias("mn"), F.max("hour").alias("mx")
    )
    grid = bounds.select(
        "event_type",
        F.explode(F.sequence(F.col("mn"), F.col("mx"))).alias("hour"),
    )
    filled = grid.join(hourly, ["event_type", "hour"], "left")
    obs = F.when(F.col("sv").isNotNull(), F.struct("hour", "sv"))
    wb = (
        Window.partitionBy("event_type")
        .orderBy("hour")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = (
        Window.partitionBy("event_type")
        .orderBy("hour")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    prev = F.last(obs, ignorenulls=True).over(wb)
    nxt = F.first(obs, ignorenulls=True).over(wf)
    interp = prev["sv"] + (nxt["sv"] - prev["sv"]) * (
        (F.col("hour") - prev["hour"])
        / (nxt["hour"] - prev["hour"])
    )
    return filled.select(
        "event_type",
        "hour",
        pround(F.when(F.col("sv").isNotNull(), F.col("sv")).otherwise(interp), 6).alias(
            "sv_interp"
        ),
        F.when(F.col("sv").isNull(), 1).otherwise(0).alias("is_gap"),
    )


@q("q_gdpr_erasure")
def q_gdpr_erasure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten ERASURE with an audit trail (governance
    family, the destructive op next to q_mask_pii's reversible
    pseudonymization): the erasure request set (deterministic fixture
    stand-in: user_id % 97 == 0 — production reads a requests table)
    anti-joins the fact table, and the output is the per-event-type
    audit every DPO report needs: rows before, rows after, rows erased,
    and how many distinct requested users actually had data there
    (requests for absent users must still be honored silently — the
    audit distinguishes them).  Scale shape: the request set broadcasts
    (erasure sets are small by nature); one anti-join + one aggregate —
    and on parquet data lakes the same plan drives the
    rewrite-affected-files compaction, so the audit IS the erasure
    plan's dry run.  All counts exact."""
    ev = T(spark, sf_dir, "events").select("user_id", "event_type")
    erase = F.col("user_id") % 97 == 0
    return (
        ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("rows_before"),
            F.sum(F.when(erase, 1).otherwise(0))
            .cast("bigint")
            .alias("rows_erased"),
            F.countDistinct(F.when(erase, F.col("user_id")))
            .cast("bigint")
            .alias("users_erased"),
        )
        .select(
            "event_type",
            "rows_before",
            (F.col("rows_before") - F.col("rows_erased")).alias(
                "rows_after"
            ),
            "rows_erased",
            "users_erased",
        )
        .orderBy("event_type")
    )


@q("q_fairness_parity")
def q_fairness_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FAIRNESS audit — demographic parity / the EEOC 80% disparate-
    impact rule, the governance check next to k-anonymity (does the
    release leak?) asking the other question (does the OUTCOME skew?):
    group = customer nation, positive outcome = urgent-or-high order
    priority, and each group's selection rate is compared to the
    best-off group's — di_ratio = rate_g / rate_max, flagged when it
    falls below 0.8.  The flag is decided in EXACT integer
    cross-multiplication (5·pos_g·n_max < 4·pos_max·n_g), never on the
    rounded ratio — a borderline group must flag identically on every
    engine.  The reference group is the deterministic arg-max
    (rate desc, nation asc) over the ≤25-row group frame.  Output per
    nation: counts, pinned rate, pinned di_ratio, flag.  Scale shape:
    one broadcast dim join + one group-by to the nation grain; the
    parity comparison runs on that bounded frame."""
    od = T(spark, sf_dir, "orders").select("o_custkey", "o_orderpriority")
    cu = T(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    pos = F.when(
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1
    ).otherwise(0)
    g = (
        od.join(F.broadcast(cu), od.o_custkey == cu.c_custkey)
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(pos).cast("bigint").alias("positives"),
        )
    )
    w = Window.orderBy(
        (
            F.col("positives").cast("double") / F.col("n").cast("double")
        ).desc(),
        F.col("c_nationkey").asc(),
    )
    ref = (
        g.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            F.col("positives").alias("pos_max"), F.col("n").alias("n_max")
        )
    )
    j = g.join(F.broadcast(ref))
    rate = F.col("positives").cast("double") / F.col("n").cast("double")
    max_rate = F.col("pos_max").cast("double") / F.col("n_max").cast(
        "double"
    )
    flagged = (
        F.lit(5) * F.col("positives") * F.col("n_max")
        < F.lit(4) * F.col("pos_max") * F.col("n")
    )
    return j.select(
        "c_nationkey",
        "n",
        "positives",
        pround(rate, 6).alias("selection_rate"),
        pround(rate / max_rate, 6).alias("di_ratio"),
        flagged.alias("below_80pct_rule"),
    ).orderBy("c_nationkey")


@q("q_mask_pii")
def q_mask_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-governance masking: digit redaction (suppression), a stable
    sha-256-derived pseudonym (joinable across tables without exposing the
    name), and numeric generalization of the account balance — all
    built-in expressions, codegen-able over 100 TB."""
    cu = T(spark, sf_dir, "customer")
    return cu.select(
        "c_custkey",
        F.regexp_replace("c_name", "[0-9]", "*").alias("masked_name"),
        F.substring(F.sha2(F.col("c_name"), 256), 1, 16).alias("pseudonym"),
        (F.floor(F.col("c_acctbal") / 1000.0) * 1000).cast("int").alias(
            "acctbal_bucket"
        ),
    )


@q("q_pii_extraction")
def q_pii_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-governance DETECTION (the step before q_mask_pii's
    redaction): scan free text with general PII patterns — email,
    phone, SSN-shaped — and report the per-kind exposure profile
    (total matches, rows exposed, distinct values).  The corpus is an
    engine-written fixture (the mediahex discipline: deterministic
    contact blurbs derived from customer rows, SSNs planted on every
    5th row only), so the detector's counts are verifiable against
    the construction — certifying the PATTERNS, not echoing them: the
    email/phone regexes are the general shapes, not the planted
    template.  Portable regex subset only ([0-9] classes, bounded
    quantifiers — Java regex and RE2 agree).  Scale shape: pure
    per-row codegen (`regexp_extract_all`), one kind-grain aggregate."""
    cu = T(spark, sf_dir, "customer")
    text = F.concat(
        F.lit("reach "),
        F.col("c_name"),
        F.lit(" at user"),
        F.col("c_custkey").cast("string"),
        F.lit("@example."),
        F.element_at(
            F.array(F.lit("com"), F.lit("org"), F.lit("net")),
            (F.col("c_custkey") % 3).cast("int") + 1,
        ),
        F.lit(" or +55 (11) 9"),
        F.lpad((F.col("c_custkey") % 10000).cast("string"), 4, "0"),
        F.lit("-"),
        F.lpad(
            ((F.col("c_custkey") * 7) % 10000).cast("string"), 4, "0"
        ),
        F.when(
            F.col("c_custkey") % 5 == 0, F.lit(" ssn 987-65-4321")
        ).otherwise(F.lit("")),
        F.lit(" re order updates"),
    )
    pats = {
        "email": "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}",
        "phone": "\\+[0-9]{2} \\([0-9]{2}\\) [0-9]{4,5}-[0-9]{4}",
        "ssn": "[0-9]{3}-[0-9]{2}-[0-9]{4}",
    }
    base = cu.select(text.alias("t"))
    kinds = [
        base.select(
            F.lit(kind).alias("kind"),
            F.regexp_extract_all(
                F.col("t"), F.lit(pat), F.lit(0)
            ).alias("ms"),
        )
        for kind, pat in pats.items()
    ]
    from functools import reduce

    allk = reduce(lambda a, b: a.unionAll(b), kinds)
    return allk.groupBy("kind").agg(
        F.sum(F.size("ms")).cast("bigint").alias("n_matches"),
        F.sum(F.when(F.size("ms") > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_rows_exposed"),
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.countDistinct(F.expr("try_element_at(ms, 1)"))
        .cast("bigint")
        .alias("n_distinct_first"),
    )


@q("q_embed_random_projection")
def q_embed_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L3-prep: Johnson-Lindenstrauss ±1 random projection 64→8 dims
    (operators/similarity.py::random_projection) — the dimensionality
    cut that makes downstream bucketing/pair-verification 8× cheaper
    while approximately preserving distances (JL lemma, Achlioptas ±1
    construction).  Seedless md5-parity signs and an explicit left-fold
    summation keep every component bit-reproducible across engines; each
    projected component is emitted as its own pinned double column.
    Pure per-row codegen — no shuffle, no UDF."""
    from .operators.similarity import random_projection

    emb = T(spark, sf_dir, "embeddings")
    cols = random_projection("embedding", out_dim=8, dim=64)
    return emb.select(
        "vec_id",
        *[pround(c, 6).alias(f"p{j}") for j, c in enumerate(cols)],
    )


@q("q_embed_normalize")
def q_embed_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L3: embedding L2 norm + unit-normalized first component — zip_with/
    aggregate left-fold in double (bit-identical to DuckDB's
    list_dot_product fold order; see functions/vectors.py).  Pure per-row
    codegen: no shuffle, no UDF."""
    from .functions.vectors import l2_norm

    emb = T(spark, sf_dir, "embeddings")
    norm = l2_norm("embedding")
    return emb.select(
        "vec_id",
        pround(norm, 6).alias("norm"),
        pround(
            F.element_at(F.col("embedding").cast("array<double>"), 1) / norm, 6
        ).alias("v0_unit"),
    )


@q("q_embed_drift")
def q_embed_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EMBEDDING-drift monitor — the vector-space face of the tabular
    drift family (q_psi_drift / q_js_divergence): split the corpus into
    reference vs current by vec_id parity (production: yesterday's
    batch vs today's), compute each side's per-dimension integer-
    micro-unit mean, and report the top-10 most-drifted dimensions by
    |Δmean| plus each dimension's share of the total squared shift —
    the alarm that fires when an upstream encoder silently changes
    (retrain, version bump, preprocessing change) and every downstream
    ANN index goes quietly stale.  Means are floor-div integer
    micro-units (exact, partition-order-free); Δ and shares are pinned
    divisions at the end.  Scale shape: one posexplode + (side, pos)
    aggregate — map-side partials keep the shuffle at 2×dim rows —
    then arithmetic on the 64-row frame."""
    emb = T(spark, sf_dir, "embeddings")
    qv = F.floor(F.col("v") * 1000000.0 + F.lit(0.5)).cast("bigint")
    side = F.when(F.col("vec_id") % 2 == 0, "ref").otherwise("cur")
    per = (
        emb.select(
            side.alias("side"),
            F.posexplode(F.col("embedding").cast("array<double>")).alias(
                "pos", "v"
            ),
        )
        .groupBy("side", "pos")
        .agg(
            F.sum(qv).cast("bigint").alias("s"),
            F.count(F.lit(1)).cast("bigint").alias("n"),
        )
        .select(
            "side",
            "pos",
            F.expr("(s - ((s % n) + n) % n) div n").alias("mean_micro"),
        )
    )
    wide = (
        per.groupBy("pos")
        .agg(
            F.max(
                F.when(F.col("side") == "ref", F.col("mean_micro"))
            ).alias("ref_micro"),
            F.max(
                F.when(F.col("side") == "cur", F.col("mean_micro"))
            ).alias("cur_micro"),
        )
        .select(
            "pos",
            "ref_micro",
            "cur_micro",
            F.abs(F.col("cur_micro") - F.col("ref_micro")).alias(
                "abs_delta"
            ),
        )
    )
    tot = wide.agg(
        F.sum(F.col("abs_delta") * F.col("abs_delta"))
        .cast("bigint")
        .alias("total_sq")
    )
    return (
        wide.join(F.broadcast(tot))
        .select(
            "pos",
            "ref_micro",
            "cur_micro",
            "abs_delta",
            pround(
                (F.col("abs_delta") * F.col("abs_delta")).cast("double")
                / F.col("total_sq").cast("double"),
                6,
            ).alias("share_of_shift"),
        )
        .orderBy(F.col("abs_delta").desc(), "pos")
        .limit(10)
    )


@q("q_embed_centroid")
def q_embed_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L3: per-label centroid components (the IVF coarse-quantizer build
    step) — hash-checkable because each component is pinned to integer
    micro-units BEFORE the sum (floor(v*1e6+0.5): fixed-order IEEE, so
    both engines sum identical integers; a raw double avg is partition-
    order-dependent and can never hash-match).  posexplode + groupBy
    (label, pos): map-side partials keep the shuffle at |labels|×dim."""
    emb = T(spark, sf_dir, "embeddings")
    qv = F.floor(F.col("v") * 1000000.0 + F.lit(0.5)).cast("bigint")
    return (
        emb.select(
            "label",
            F.posexplode(F.col("embedding").cast("array<double>")).alias(
                "pos", "v"
            ),
        )
        .groupBy("label", "pos")
        .agg(
            F.sum(qv).alias("sq"), F.count(F.lit(1)).alias("n")
        )
        .select(
            "label",
            "pos",
            pround(
                F.col("sq").cast("double") / F.col("n") / F.lit(1000000.0), 6
            ).alias("centroid"),
        )
    )


@q("q_embed_quantize")
def q_embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L3: int8 scalar quantization (symmetric max-abs, the standard ANN
    compression): per-vector scale = max|v|, each component →
    floor(v/scale*127+0.5).  Emits the scale and the first 4 quantized
    components; all per-row IEEE arithmetic, engine-identical."""
    emb = T(spark, sf_dir, "embeddings")
    d = F.col("embedding").cast("array<double>")
    scale = F.array_max(F.transform(d, lambda x: F.abs(x)))
    qi = lambda i: F.floor(  # noqa: E731
        F.element_at(F.col("d"), i) / F.col("scale") * 127.0 + 0.5
    ).cast("int")
    return (
        emb.select("vec_id", d.alias("d"), scale.alias("scale"))
        .select(
            "vec_id",
            pround(F.col("scale"), 6).alias("scale_q"),
            qi(1).alias("q1"),
            qi(2).alias("q2"),
            qi(3).alias("q3"),
            qi(4).alias("q4"),
        )
    )


@q("q_stratified_sample")
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L4: stratified corpus sampling with per-language rates (rebalancing
    a skewed corpus: en 10%, pt 30%, es 50%, other 20%) — the same
    portable md5 hash-bucket as q_corpus_sample, so strata membership is
    reproducible under reshuffling and appends."""
    docs = T(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("bigint") % 100
    )
    rate = (
        F.when(F.col("lang") == "en", 10)
        .when(F.col("lang") == "pt", 30)
        .when(F.col("lang") == "es", 50)
        .otherwise(20)
    )
    return (
        docs.withColumn("bucket", bucket)
        .filter(F.col("bucket") < rate)
        .select("doc_id", "lang", "bucket")
    )


@q("q_bootstrap_ci")
def q_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed bootstrap 95% CI for mean order value via the POISSON
    bootstrap — the scale-native resampling form: classic
    sample-with-replacement needs a global draw per replicate, but
    Poisson(1) multiplicities are independent per (row, replicate) and
    come from a pure hash, so 41 replicates are ONE pass — a bounded
    ×41 map-side explode whose partial aggregation collapses to ≤41
    groups per partition before the only shuffle.  Determinism end to
    end: the uniforms are 32-bit slices of the md5 digest (four
    replicates per hash), multiplicities come from LEXICOGRAPHIC hex
    compares against precomputed hex thresholds — no radix conversion
    anywhere (conv() was 95% of the per-row cost; measured 5.3 s →
    2.1 s at sf0.1, bit-identical results), and the thresholds
    are imported from functions/resample.py by BOTH engines
    (bit-identical literals), each replicate mean is one IEEE division
    of exact integer sums, and the CI bounds are exact ORDER STATISTICS
    (2nd and 40th of 41 sorted replicate means — B chosen so
    (B+1)·0.025 is integral), never interpolated — no percentile-
    interpolation arithmetic to mismatch across engines."""
    from .functions.resample import poisson1_hex_thresholds

    od = T(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5))
        .cast("bigint")
        .alias("cents"),
    )
    # One md5 yields FOUR 32-bit uniforms (the 128-bit digest split into
    # 8-hex slices), so 41 replicates cost 11 hashes/row, not 41 — the
    # hash is the whole per-row cost of the Poisson bootstrap.  That cost
    # must SPREAD: a small parquet file scans as one split, and without
    # an exchange the 11 md5s/row all run in that one task (profiled:
    # 3.5 cpu-s in a single task at sf0.1 = the whole query serialized).
    # ``spread`` pins the exchange to the configured shuffle parallelism
    # — a keyed repartition alone is AQE-coalesced right back to 1-2
    # tasks from its byte count (~2 MB); on a many-file cluster scan the
    # exchange is ~free relative to 11 md5s/row.
    rep = spread(od, "o_orderkey").select(
        "cents",
        F.explode(F.sequence(F.lit(0), F.lit(10))).alias("chunk"),
        "o_orderkey",
    ).withColumn(
        "__h",
        F.md5(
            F.concat_ws(
                ":",
                F.col("o_orderkey").cast("string"),
                F.col("chunk").cast("string"),
            )
        ),
    )
    quads = F.array(
        *[
            F.struct(
                (F.col("chunk") * 4 + j).alias("b"),
                F.substring(F.col("__h"), 1 + 8 * j, 8).alias("u8"),
            )
            for j in range(4)
        ]
    )
    urows = (
        rep.select("cents", F.explode(quads).alias("q"))
        .select("cents", F.col("q.b").alias("b"), F.col("q.u8").alias("u8"))
        .filter(F.col("b") <= 40)
    )
    hexes = poisson1_hex_thresholds()
    u8 = F.col("u8")
    w = F.when(u8 <= F.lit(hexes[0]), 0)
    for k in range(1, len(hexes)):
        w = w.when(u8 <= F.lit(hexes[k]), k)
    w = w.otherwise(len(hexes))
    g = (
        urows.select("b", "cents", w.alias("w"))
        .groupBy("b")
        .agg(
            F.sum("w").alias("sw"),
            F.sum(F.col("w") * F.col("cents")).alias("swx"),
        )
    )
    means = g.select(
        (F.col("swx").cast("double") / F.col("sw").cast("double")).alias(
            "mean_cents"
        )
    )
    ci = means.agg(
        F.sort_array(F.collect_list("mean_cents")).alias("ms")
    ).select(
        F.element_at("ms", 2).alias("lo_cents"),
        F.element_at("ms", 40).alias("hi_cents"),
    )
    point = od.agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("cents").alias("sc"),
    )
    return point.crossJoin(F.broadcast(ci)).select(
        "n_orders",
        pround(
            F.col("sc").cast("double") / F.col("n_orders") / F.lit(100.0), 6
        ).alias("mean_value"),
        pround(F.col("lo_cents") / F.lit(100.0), 6).alias("ci_lo"),
        pround(F.col("hi_cents") / F.lit(100.0), 6).alias("ci_hi"),
    )


@q("q_bootstrap_ci_by_segment")
def q_bootstrap_ci_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_bootstrap_ci's GROUPED form: an independent Poisson-bootstrap
    95% CI on mean order value per market segment — per-cohort
    uncertainty from the same one-pass shape (the ×41 replicate explode
    collapses map-side to ≤ |segments|·41 groups before the shuffle).
    Same shared inverse-CDF literals, same exact integer replicate sums,
    same order-statistic bounds — the hash-checkability carries over to
    the grouped case unchanged."""
    from .functions.resample import poisson1_hex_thresholds

    cu = T(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"),
        F.col("c_mktsegment").alias("segment"),
    )
    od = (
        T(spark, sf_dir, "orders")
        .select(
            "o_custkey",
            "o_orderkey",
            F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5))
            .cast("bigint")
            .alias("cents"),
        )
        .join(cu, "o_custkey")
    )
    # same hashing-stage spread as q_bootstrap_ci: the segment join
    # broadcasts customer, so without this exchange the ×11 md5 explode
    # would run inside the single-split orders scan task
    rep = spread(od, "o_orderkey").select(
        "segment",
        "cents",
        F.explode(F.sequence(F.lit(0), F.lit(10))).alias("chunk"),
        "o_orderkey",
    ).withColumn(
        "__h",
        F.md5(
            F.concat_ws(
                ":",
                F.col("o_orderkey").cast("string"),
                F.col("chunk").cast("string"),
            )
        ),
    )
    quads = F.array(
        *[
            F.struct(
                (F.col("chunk") * 4 + j).alias("b"),
                F.substring(F.col("__h"), 1 + 8 * j, 8).alias("u8"),
            )
            for j in range(4)
        ]
    )
    urows = (
        rep.select("segment", "cents", F.explode(quads).alias("q"))
        .select(
            "segment",
            "cents",
            F.col("q.b").alias("b"),
            F.col("q.u8").alias("u8"),
        )
        .filter(F.col("b") <= 40)
    )
    hexes = poisson1_hex_thresholds()
    u8 = F.col("u8")
    w = F.when(u8 <= F.lit(hexes[0]), 0)
    for k in range(1, len(hexes)):
        w = w.when(u8 <= F.lit(hexes[k]), k)
    w = w.otherwise(len(hexes))
    g = (
        urows.select("segment", "b", "cents", w.alias("w"))
        .groupBy("segment", "b")
        .agg(
            F.sum("w").alias("sw"),
            F.sum(F.col("w") * F.col("cents")).alias("swx"),
        )
    )
    means = g.select(
        "segment",
        (F.col("swx").cast("double") / F.col("sw").cast("double")).alias(
            "mean_cents"
        ),
    )
    return (
        means.groupBy("segment")
        .agg(F.sort_array(F.collect_list("mean_cents")).alias("ms"))
        .select(
            "segment",
            pround(F.element_at("ms", 2) / F.lit(100.0), 6).alias("ci_lo"),
            pround(F.element_at("ms", 40) / F.lit(100.0), 6).alias("ci_hi"),
        )
    )


@q("q_snapshot_diff")
def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-style snapshot diff: classify rows as added / removed / changed
    between two table versions via one full-outer join on the key.  v2 is
    derived deterministically from customer (every 10th balance bumped,
    every 97th row deleted, every 50th key re-added shifted) so the diff
    is reproducible.  At scale both snapshots bucket by key → the join is
    shuffle-free; row equality compares a content hash, not N columns."""
    cu = T(spark, sf_dir, "customer")
    v1 = cu.select("c_custkey", "c_acctbal")
    v2_updates = cu.filter(F.col("c_custkey") % 97 != 0).select(
        "c_custkey",
        F.when(
            F.col("c_custkey") % 10 == 0, F.col("c_acctbal") + 100.0
        ).otherwise(F.col("c_acctbal")).alias("c_acctbal"),
    )
    v2_adds = cu.filter(F.col("c_custkey") % 50 == 0).select(
        (F.col("c_custkey") + 1000000).alias("c_custkey"), "c_acctbal"
    )
    v2 = v2_updates.unionByName(v2_adds)
    a = v1.select(
        F.col("c_custkey").alias("k"), F.col("c_acctbal").alias("old_bal")
    )
    b = v2.select(
        F.col("c_custkey").alias("k2"), F.col("c_acctbal").alias("new_bal")
    )
    joined = a.join(b, a.k == b.k2, "full_outer")
    return (
        joined.select(
            F.coalesce(F.col("k"), F.col("k2")).alias("c_custkey"),
            F.when(F.col("k").isNull(), "added")
            .when(F.col("k2").isNull(), "removed")
            .when(F.col("old_bal") != F.col("new_bal"), "changed")
            .otherwise("unchanged")
            .alias("change_type"),
            "old_bal",
            "new_bal",
        )
        .filter(F.col("change_type") != "unchanged")
    )


@q("q_incremental_dedup")
def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L1 at ingestion time: a new document batch is admitted only if its
    content hash is absent from the existing corpus — left-anti join on
    sha2(text), the incremental-ingest companion to q_dedup_exact.  At
    100 TB the corpus side is a bucketed hash index (join is co-located);
    the anti join ships only the new batch."""
    docs = T(spark, sf_dir, "documents")
    h = F.sha2(F.col("text"), 256)
    existing = docs.filter(F.col("doc_id") % 3 != 0).select(h.alias("hash"))
    batch = docs.filter(F.col("doc_id") % 3 == 0).select(
        "doc_id", h.alias("hash")
    )
    return batch.join(existing, "hash", "left_anti").select("doc_id", "hash")


@q("q_pareto")
def q_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BI Pareto analysis: the customers making up the first 80% of
    cumulative revenue, with their running share.  Revenue per customer is
    an exact decimal sum; the cumulative share is a DISTRIBUTED running sum
    (``operators.rank.global_cumsum``: range-partitioned in-partition sums
    + a broadcast prefix of per-partition totals), with a key tie-break so
    the prefix is engine-deterministic.  The running sum stays DECIMAL:
    float window sums are evaluation-order-dependent (Spark folds
    sequentially, DuckDB may combine via segment tree) — exact decimal
    addition is order-free, so the two-phase distributed sum, the
    single-partition window, and DuckDB all agree bit-for-bit."""
    from .operators.rank import global_cumsum

    rev = (
        T(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev_d")
        )
    )
    cum = global_cumsum(
        rev,
        [F.col("rev_d").desc(), F.col("o_custkey")],
        "rev_d",
        cum_col="cum_d",
        total_col="total_d",
    )
    share = cum.withColumn(
        "cum_share",
        F.col("cum_d").cast("double") / F.col("total_d").cast("double"),
    )
    return share.filter(F.col("cum_share") <= 0.8).select(
        "o_custkey",
        F.col("rev_d").cast("double").alias("revenue"),
        pround(F.col("cum_share"), 6).alias("cum_share"),
    )


@q("q_mad")
def q_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust statistics: median absolute deviation of lineitem quantity
    per return flag — two exact-percentile passes (median, then median of
    |x−median|), the outlier-resistant spread measure.  At 100 TB both
    medians switch to ``approx_percentile``; exact is the oracle-checkable
    baseline."""
    li = T(spark, sf_dir, "lineitem")
    med = li.groupBy("l_returnflag").agg(
        F.expr("percentile(l_quantity, 0.5)").alias("med")
    )
    return (
        li.join(F.broadcast(med), "l_returnflag")
        .withColumn("dev", F.abs(F.col("l_quantity") - F.col("med")))
        .groupBy("l_returnflag")
        .agg(
            pround(F.max("med"), 6).alias("median_qty"),
            pround(F.expr("percentile(dev, 0.5)"), 6).alias("mad_qty"),
        )
    )


@q("q_regression_by_group")
def q_regression_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate-only OLS: slope/intercept of value-vs-time per event_type
    from exact decimal power sums (one shuffle, no iteration) — closed-form
    regression as a GROUP BY, the shape that trains millions of per-key
    models in a single pass.  x = hours since epoch (bounded magnitude so
    decimal products stay exact); every derived float is fixed-order IEEE
    on identical sums."""
    ev = T(spark, sf_dir, "events")
    x = (F.unix_timestamp("ts") / 3600.0)  # fractional hours since epoch
    xd = F.floor(x * 1000 + 0.5).cast("bigint")  # milli-hours, exact ints
    yd = F.col("value").cast("decimal(18,2)")
    g = (
        ev.select("event_type", xd.alias("xi"), yd.alias("yi"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("double").alias("n"),
            F.sum("xi").cast("double").alias("sx"),
            F.sum("yi").cast("double").alias("sy"),
            # products in DECIMAL(19,0)x...: stays within precision 38
            # (sum of raw bigint squares would overflow; a lossy decimal
            # cap would silently round) — exact in both engines
            F.sum(
                F.col("xi").cast("decimal(19,0)")
                * F.col("xi").cast("decimal(19,0)")
            )
            .cast("double")
            .alias("sxx"),
            F.sum(F.col("xi").cast("decimal(19,0)") * F.col("yi"))
            .cast("double")
            .alias("sxy"),
        )
    )
    slope = (g.n * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        g.n * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return g.select(
        "event_type",
        pround(slope, 10).alias("slope"),
        pround(
            (F.col("sy") - slope * F.col("sx")) / F.col("n"), 6
        ).alias("intercept"),
    )


@q("q_price_elasticity")
def q_price_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Economics on the fact table: own-price elasticity per brand as the
    log-log OLS slope — elasticity = d ln(qty)/d ln(unit price), the
    closed-form power-sum regression of q_regression_by_group with BOTH
    variables ln-transformed.  Each per-row ln pins to integer
    micro-units first (the q_unigram_logprob discipline: per-row ln
    agrees across engines, integer sums are order-free), power sums stay
    DECIMAL(38,0) exact, and the slope is one fixed-IEEE expression —
    the µ-unit scale cancels in the ratio.  The part-side join carries no
    broadcast hint: part scales with SF (~20M rows at sf100), so the
    planner/AQE picks broadcast only while the dimension actually fits
    (``spark.sql.autoBroadcastJoinThreshold``), and falls back to a
    shuffle hash join at warehouse scale."""
    li = T(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.floor(
            F.log(F.col("l_extendedprice") / F.col("l_quantity"))
            * F.lit(1e6)
            + F.lit(0.5)
        )
        .cast("bigint")
        .alias("xi"),
        F.floor(F.log(F.col("l_quantity")) * F.lit(1e6) + F.lit(0.5))
        .cast("bigint")
        .alias("yi"),
    )
    pt = T(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("l_partkey"), "p_brand"
    )
    d19 = lambda c: F.col(c).cast("decimal(19,0)")  # noqa: E731
    g = (
        li.join(pt, "l_partkey")
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).cast("double").alias("n"),
            F.sum("xi").cast("double").alias("sx"),
            F.sum("yi").cast("double").alias("sy"),
            F.sum(d19("xi") * d19("xi")).cast("double").alias("sxx"),
            F.sum(d19("xi") * d19("yi")).cast("double").alias("sxy"),
        )
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return g.select(
        "p_brand",
        F.col("n").cast("bigint").alias("n_lines"),
        pround(slope, 6).alias("elasticity"),
    )


@q("q_minmax_scale")
def q_minmax_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature engineering: min-max scale o_totalprice to [0,1] — global
    bounds from a 1-row broadcast aggregate (min/max are order-free),
    scaling is per-row IEEE arithmetic.  The bounds pass and the scaling
    pass are two column-pruned scans of the fact; the earlier
    empty-partition window form moved EVERY fact row into one partition —
    two cheap scans beat that at any scale.  No collect."""
    od = T(spark, sf_dir, "orders")
    bounds = od.agg(
        F.min("o_totalprice").alias("mn"), F.max("o_totalprice").alias("mx")
    )
    return (
        od.crossJoin(F.broadcast(bounds))
        .select(
            "o_orderkey",
            pround(
                (F.col("o_totalprice") - F.col("mn"))
                / (F.col("mx") - F.col("mn")),
                6,
            ).alias("price_scaled"),
        )
    )


def _churn_features(od: DataFrame, upto_1997: bool = False) -> DataFrame:
    """(o_custkey, frequency, __cents, __last_day) — the logistic churn
    model's EXACT feature aggregates (count / bigint cents / epoch-day
    recency); ``upto_1997`` applies the temporal train/serve split the
    eval queries use.  Shared by the whole ML family so the feature
    definition lives in one place."""
    d = F.to_date("o_orderdate")
    if upto_1997:
        od = od.filter(F.year(d) <= 1997)
    return od.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("frequency"),
        F.sum(
            F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5))
        ).alias("__cents"),
        F.max(F.unix_date(d)).alias("__last_day"),
    )


def _churn_z():
    """The model itself — the weights live HERE and in the oracle's
    ``_CHURN_Z_SQL`` only (parity cross-checks the two); the fold order
    is declared left-to-right so both engines evaluate identically."""
    return (
        F.lit(-2.0)
        + F.lit(0.9) * F.log(F.lit(1.0) + F.col("frequency"))
        + F.lit(0.15) * (F.col("__cents") / F.lit(100.0) / F.lit(100000.0))
        - F.lit(0.002) * (F.lit(10957) - F.col("__last_day"))
    )


def _churn_scored_labeled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(o_custkey, __s6, label): customers scored on pre-1998 orders
    (score pinned as an exact bigint in [0, 1e6]) with the 1998-activity
    label — the shared input of calibration and both AUC queries."""
    od = T(spark, sf_dir, "orders")
    feats = _churn_features(od, upto_1997=True)
    s6 = F.floor(
        (F.lit(1.0) / (F.lit(1.0) + F.exp(-_churn_z()))) * F.lit(1e6)
        + F.lit(0.5)
    ).cast("bigint")
    active = (
        od.filter(F.year(F.to_date("o_orderdate")) == 1998)
        .select("o_custkey")
        .distinct()
        .withColumn("__lbl", F.lit(1))
    )
    return (
        feats.withColumn("__s6", s6)
        .join(active, "o_custkey", "left")
        .select(
            "o_custkey", "__s6",
            F.coalesce("__lbl", F.lit(0)).alias("label"),
        )
    )


@q("q_isotonic_calibration")
def q_isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ISOTONIC CALIBRATION (pool-adjacent-violators) of the fused
    logistic score — the post-hoc monotone recalibration every
    production scoring pipeline runs when the reliability diagram
    (q_score_calibration) shows mis-calibration, and the operator
    Spark MLlib ships as ``IsotonicRegression``.  Implemented via the
    PAV **minimax closed form** iso_i = max_{j≤i} min_{k≥i..} of the
    weighted bucket-range mean — no sequential pooling loop: scores
    collapse to 20 equal-width buckets (exact integer n/pos per
    bucket), prefix sums give every range mean as ONE double division
    over exact integers, the j≤k pair frame is bounded 20×20, and the
    running min/max are order-free — so the whole fit hash-checks
    cross-engine.  Scale shape: data grain is touched once (the
    bucket aggregation); everything after lives at the constant
    bucket grain (the documented bounded-grain exemption)."""
    g, iso = _isotonic_fit(spark, sf_dir)
    return g.join(iso, "bucket").select(
        "bucket",
        F.col("n").alias("n_customers"),
        F.col("pos").alias("n_active"),
        pround(
            F.col("pos").cast("double") / F.col("n").cast("double"), 6
        ).alias("raw_rate"),
        pround(F.col("iso"), 6).alias("iso_rate"),
    )


def _isotonic_fit(spark: SparkSession, sf_dir: str):
    """Shared PAV fit: returns (bucket frame g with n/pos, iso frame
    with the fitted monotone rate per bucket) — consumed by the fit
    surface (q_isotonic_calibration) and the apply surface
    (q_calibration_applied)."""
    scored = _churn_scored_labeled(spark, sf_dir)
    g = (
        scored.withColumn(
            "bucket", F.expr("CAST(least(__s6 div 50000, 19) AS INT)")
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("label").cast("bigint").alias("pos"),
        )
    )
    w = Window.orderBy("bucket")
    pre = g.select(
        "bucket", "n", "pos",
        F.sum("n").over(w).alias("cn"),
        F.sum("pos").over(w).alias("cpos"),
    )
    jf = pre.select(
        F.col("bucket").alias("jb"),
        (F.col("cn") - F.col("n")).alias("cn_prev"),
        (F.col("cpos") - F.col("pos")).alias("cpos_prev"),
    )
    kf = pre.select(
        F.col("bucket").alias("kb"),
        F.col("cn").alias("cn_k"),
        F.col("cpos").alias("cpos_k"),
    )
    pair_means = jf.join(kf, F.col("kb") >= F.col("jb")).select(
        "jb",
        (
            (F.col("cpos_k") - F.col("cpos_prev")).cast("double")
            / (F.col("cn_k") - F.col("cn_prev")).cast("double")
        ).alias("mean_jk"),
    )
    mj = pair_means.groupBy("jb").agg(F.min("mean_jk").alias("m"))
    w2 = Window.orderBy("jb").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    iso = mj.select(
        F.col("jb").alias("bucket"), F.max("m").over(w2).alias("iso")
    )
    return g, iso


@q("q_calibration_applied")
def q_calibration_applied(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CALIBRATION, the APPLY surface: route every customer's raw score
    through the fitted isotonic map (broadcast 20-row bucket→rate
    table — the model-serving join) and certify the fix with the
    Brier score before vs after.  What PAV actually guarantees (ADVICE
    r8): it is L2-optimal among BUCKET-CONSTANT monotone functions of
    the bucketed score, so brier_calibrated ≤ the Brier of ANY such
    recalibration — including the bucket-mean raw score — BY THEOREM
    on its own training data.  brier_raw here is against the PER-ROW
    raw score (not bucket-constant), so brier_calibrated ≤ brier_raw
    is an EMPIRICAL property of this data (within-bucket score-label
    correlation could flip it elsewhere); tests/test_round8_ops.py
    pins both facts — the theorem against the bucket-constant
    reference, the empirical one against these fixtures.  Float
    discipline: per-row squared errors are
    floored to ×1e9 bigints before summation (dsum; the raw score is
    the exact s6 integer over 10⁶, the iso rate a deterministic
    double), so both Briers are engine-identical.  Scale shape: one
    data-grain pass with a broadcast map join, one global aggregate."""
    g, iso = _isotonic_fit(spark, sf_dir)
    scored = _churn_scored_labeled(spark, sf_dir).withColumn(
        "bucket", F.expr("CAST(least(__s6 div 50000, 19) AS INT)")
    )
    j = scored.join(F.broadcast(iso), "bucket")
    s_raw = F.col("__s6").cast("double") / F.lit(1000000.0)
    y = F.col("label").cast("double")
    e_raw = (s_raw - y) * (s_raw - y)
    e_iso = (F.col("iso") - y) * (F.col("iso") - y)
    agg = j.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.floor(e_raw * F.lit(1000000000.0)).cast("bigint"))
        .cast("bigint")
        .alias("se_raw9"),
        F.sum(F.floor(e_iso * F.lit(1000000000.0)).cast("bigint"))
        .cast("bigint")
        .alias("se_iso9"),
    )
    return agg.select(
        "n",
        pround(
            F.col("se_raw9").cast("double")
            / (F.col("n").cast("double") * F.lit(1000000000.0)),
            6,
        ).alias("brier_raw"),
        pround(
            F.col("se_iso9").cast("double")
            / (F.col("n").cast("double") * F.lit(1000000000.0)),
            6,
        ).alias("brier_calibrated"),
    )


@q("q_ml_score_inference")
def q_ml_score_inference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ML inference fused into the relational plan (the pure-SQL
    operator-fusion pattern): a fixed-weight logistic model scores every
    customer from aggregate features — no UDF, no model server; the
    whole score is one codegen expression over a grouped aggregate, so
    inference rides the same scan/shuffle as the feature build.  Feature
    aggregates are exact (count / bigint cents / epoch-day recency), and
    z folds left-to-right in a declared order so the sigmoid matches the
    oracle's identical expression; the score is pinned at 6dp."""
    feats = _churn_features(T(spark, sf_dir, "orders"))
    score = F.lit(1.0) / (F.lit(1.0) + F.exp(-_churn_z()))
    return feats.select(
        "o_custkey",
        "frequency",
        (F.col("__cents") / F.lit(100.0)).alias("monetary"),
        pround(score, 6).alias("churn_score"),
        (score >= 0.5).cast("int").alias("retained_pred"),
    )


@q("q_score_calibration")
def q_score_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model monitoring: the reliability diagram for the fused logistic
    score — customers are scored on PRE-1998 orders only (a temporal
    train/serve split, no leakage), bucketed into score deciles, and
    each decile reports its observed 1998-activity rate.  Deciles come
    from the DISTRIBUTED rank (`global_rank` + NTILE's closed form) over
    the pinned score encoded as an exact bigint sort key; per-decile
    averages sum the 6dp-scaled score as exact integers (a float sum
    would be partition-order-sensitive), so the whole diagram
    hash-checks."""
    from .operators.rank import global_rank, ntile_from_rank

    scored = _churn_scored_labeled(spark, sf_dir)
    ranked = global_rank(
        scored,
        [(-F.col("__s6")).alias("sk"), F.col("o_custkey")],
        rank_col="__r",
        total_col="__n",
    )
    deciled = ranked.withColumn(
        "decile", ntile_from_rank(F.col("__r"), F.col("__n"), 10)
    )
    return (
        deciled.groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum("label").alias("n_active"),
            F.sum("__s6").alias("__sum6"),
        )
        .select(
            "decile",
            "n_customers",
            "n_active",
            (F.col("__sum6") / F.lit(1e6) / F.col("n_customers"))
            .alias("mean_score"),
            (F.col("n_active") / F.col("n_customers").cast("double"))
            .alias("observed_rate"),
        )
    )


@q("q_auc_exact")
def q_auc_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC-AUC of the fused logistic score against 1998 activity —
    the Mann-Whitney U form with tie-corrected midranks, in PURE INTEGER
    arithmetic until the final division: rank by the exact bigint score
    key via the distributed `global_rank`, collapse to score-value
    groups, and each group's positive contribution is
    n_pos_g·(2·min_rank + cnt − 1) — twice the midrank sum, an exact
    bigint.  AUC = (Σ − n_pos(n_pos+1)) / (2·n_pos·n_neg).  No sort of
    floats, no per-pair comparison (the naive AUC is |pos|×|neg|)."""
    from .operators.rank import global_rank

    scored = _churn_scored_labeled(spark, sf_dir)
    ranked = global_rank(
        scored, [F.col("__s6"), F.col("o_custkey")], rank_col="__r"
    )
    groups = ranked.groupBy("__s6").agg(
        F.min("__r").alias("mn"),
        F.count(F.lit(1)).alias("c"),
        F.sum("label").alias("np"),
    )
    return groups.agg(
        F.sum(F.col("np") * (2 * F.col("mn") + F.col("c") - 1)).alias("__u2"),
        F.sum("np").alias("n_pos"),
        F.sum(F.col("c") - F.col("np")).alias("n_neg"),
    ).select(
        "n_pos",
        "n_neg",
        (
            (F.col("__u2") - F.col("n_pos") * (F.col("n_pos") + 1))
            / (F.lit(2.0) * F.col("n_pos") * F.col("n_neg"))
        ).alias("auc"),
    )


@q("q_auc_by_segment")
def q_auc_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliced model evaluation: exact ROC-AUC per customer market
    segment (the fairness/drift view — a model fine on aggregate can be
    chance-level inside a slice).  Same integer Mann-Whitney midrank
    arithmetic as q_auc_exact, but ranks come from ``grouped_rank``
    partitioned on the segment — each segment's ordering spans many
    partitions instead of buffering per-segment."""
    from .operators.rank import grouped_rank

    seg = T(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"),
        F.col("c_mktsegment").alias("segment"),
    )
    scored = (
        _churn_scored_labeled(spark, sf_dir)
        .join(seg, "o_custkey")
        .select("o_custkey", "segment", "__s6", "label")
    )
    ranked = grouped_rank(
        scored,
        ["segment"],
        [F.col("__s6"), F.col("o_custkey")],
        rank_col="__r",
    )
    groups = ranked.groupBy("segment", "__s6").agg(
        F.min("__r").alias("mn"),
        F.count(F.lit(1)).alias("c"),
        F.sum("label").alias("np"),
    )
    return groups.groupBy("segment").agg(
        F.sum(F.col("np") * (2 * F.col("mn") + F.col("c") - 1)).alias("__u2"),
        F.sum("np").alias("n_pos"),
        F.sum(F.col("c") - F.col("np")).alias("n_neg"),
    ).select(
        "segment",
        "n_pos",
        "n_neg",
        (
            (F.col("__u2") - F.col("n_pos") * (F.col("n_pos") + 1))
            / (F.lit(2.0) * F.col("n_pos") * F.col("n_neg"))
        ).alias("auc"),
    )


@q("q_woe_iv")
def q_woe_iv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Credit-scoring feature screening: Weight of Evidence and
    Information Value of the market-segment feature against 1998
    activity — WoE_b = ln(pct_active_b / pct_inactive_b) per bucket,
    IV contribution (pct_active−pct_inactive)·WoE emitted PER BUCKET
    (like q_chi2_cells: the total is a trivial downstream sum; summing
    in-engine would be evaluation-order float drift).  All counts are
    exact integers; each bucket's two ratios are single IEEE divisions
    and the one ln per bucket is cross-engine (the q_unigram_logprob
    precedent), pround-pinned."""
    lbl = _churn_scored_labeled(spark, sf_dir).select("o_custkey", "label")
    seg = T(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"),
        F.col("c_mktsegment").alias("bucket"),
    )
    per = (
        lbl.join(seg, "o_custkey")
        .groupBy("bucket")
        .agg(
            F.sum("label").alias("n_active"),
            F.sum(F.lit(1) - F.col("label")).alias("n_inactive"),
        )
    )
    w_tot = Window.partitionBy()
    pg = F.col("n_active") / F.sum("n_active").over(w_tot).cast("double")
    pb = F.col("n_inactive") / F.sum("n_inactive").over(w_tot).cast(
        "double"
    )
    woe = F.log(pg / pb)
    return per.select(
        "bucket",
        "n_active",
        "n_inactive",
        pround(woe, 6).alias("woe"),
        pround((pg - pb) * woe, 6).alias("iv_contrib"),
    )


@q("q_brier_score")
def q_brier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probabilistic-forecast accuracy: the Brier score of the fused
    logistic score against 1998 activity — mean((p−y)²) — in PURE
    INTEGER arithmetic: the score is already an exact micro-unit bigint
    (__s6), so per-row (s6 − y·10⁶)² is an exact integer, the corpus sum
    accumulates in DECIMAL(38,0) (order-free), and the two final
    divisions are the only float ops.  The proper-scoring-rule
    companion to q_auc_exact (ranking) and q_score_calibration
    (reliability)."""
    scored = _churn_scored_labeled(spark, sf_dir)
    err = F.col("__s6") - F.col("label") * F.lit(1000000)
    agg = scored.agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum((err * err).cast("decimal(38,0)")).alias("__sq"),
    )
    return agg.select(
        "n_customers",
        pround(
            F.col("__sq").cast("double")
            / F.col("n_customers").cast("double")
            / F.lit(1e12),
            6,
        ).alias("brier"),
    )


@q("q_log_loss")
def q_log_loss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-entropy of the fused logistic score: mean −ln(p_y), the
    loss the model was nominally trained on.  A raw Σ ln(·) over data
    grain is partition-order float drift, so each row's log-likelihood
    pins to integer MICRO-UNITS first (floor(ln·10⁶ + 0.5) — the
    q_unigram_logprob discipline, per-row ln agrees across engines and
    integer sums are order-free).  Scores clamp to [1, 10⁶−1]
    micro-units before the log — the standard ε-clip that keeps a
    confident miss finite."""
    scored = _churn_scored_labeled(spark, sf_dir)
    p6 = F.greatest(
        F.lit(1), F.least(F.lit(999999), F.col("__s6"))
    )
    py6 = F.when(F.col("label") == 1, p6).otherwise(
        F.lit(1000000) - p6
    )
    ll6 = F.floor(
        F.log(py6 / F.lit(1000000.0)) * F.lit(1000000.0) + F.lit(0.5)
    ).cast("bigint")
    agg = scored.agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum(ll6.cast("decimal(38,0)")).alias("__ll"),
    )
    return agg.select(
        "n_customers",
        pround(
            -F.col("__ll").cast("double")
            / F.col("n_customers").cast("double")
            / F.lit(1e6),
            6,
        ).alias("log_loss"),
    )


@q("q_gains_lift")
def q_gains_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model evaluation: the cumulative-gains / lift table for the fused
    logistic score — customers ranked by score descending into deciles
    (distributed ``global_rank`` + NTILE's closed form, the same pair
    q_score_calibration hash-proves against SQL NTILE); each decile
    reports its size, positives, cumulative positives, the captured
    share of all positives, and lift over the base rate.  Counts stay
    bigint until the two final divisions, which both engines evaluate
    as the identical expression — so the whole table hash-checks.  The
    cumulative/total windows run on the 10-row decile grain (bounded by
    construction, the documented single-partition exemption)."""
    from .operators.rank import global_rank, ntile_from_rank

    scored = _churn_scored_labeled(spark, sf_dir)
    ranked = global_rank(
        scored,
        [(-F.col("__s6")).alias("sk"), F.col("o_custkey")],
        rank_col="__r",
        total_col="__n",
    )
    per = (
        ranked.withColumn(
            "decile", ntile_from_rank(F.col("__r"), F.col("__n"), 10)
        )
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum("label").alias("n_active"),
        )
    )
    cum_w = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, 0
    )
    tot_w = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum_active = F.sum("n_active").over(cum_w)
    tot_active = F.sum("n_active").over(tot_w)
    tot_n = F.sum("n_customers").over(tot_w)
    return per.select(
        "decile",
        "n_customers",
        "n_active",
        cum_active.alias("cum_active"),
        pround(cum_active / tot_active.cast("double"), 6).alias(
            "capture_pct"
        ),
        pround(
            (F.col("n_active") / F.col("n_customers").cast("double"))
            / (tot_active / tot_n.cast("double")),
            6,
        ).alias("lift"),
    )


@q("q_hashing_trick")
def q_hashing_trick(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature engineering at 100 TB cardinality: the HASHING TRICK
    [Weinberger et al. 2009] next to q_onehot — where one-hot needs the
    category vocabulary (unbounded for user agents / URLs / SKUs, and a
    pipeline-breaking retrain when it grows), feature hashing maps every
    categorical to slot = h(key) mod 64 with a ±1 sign from an
    independent hash bit, so the model input dimensionality is FIXED at
    64 regardless of cardinality and needs no vocabulary pass, no
    broadcast dictionary, no retrain on new categories — the signed sum
    makes collision noise zero-mean.  Hashes ride the portable _h32
    md5 slice (no engine-specific hash functions).  Output: the
    corpus-level slot profile — per slot the distinct categories that
    landed there (COLLISIONS as visible data, the trick's cost),
    row count, and the signed cents mass.  Scale shape: pure codegen
    map + one 64-group aggregate — invariant to category cardinality,
    which is the entire point."""
    ev = T(spark, sf_dir, "events")
    key = F.concat_ws("|", F.lit("ht-v1"), F.col("event_type"))
    skey = F.concat_ws("|", F.lit("ht-sign-v1"), F.col("event_type"))
    slot = (_h32(key) % 64).cast("int")
    sign = (F.lit(1) - F.lit(2) * (_h32(skey) % 2)).cast("bigint")
    cents = F.expr("CAST(floor(value * 100 + 0.5) AS BIGINT)")
    return (
        ev.select(
            slot.alias("slot"),
            "event_type",
            (sign * cents).alias("sc"),
        )
        .groupBy("slot")
        .agg(
            F.countDistinct("event_type").cast("bigint").alias(
                "n_features"
            ),
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum("sc").cast("bigint").alias("sum_signed_cents"),
        )
        .orderBy("slot")
    )


@q("q_onehot")
def q_onehot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature engineering: one-hot encode o_orderpriority into indicator
    columns against a pinned category list (never inferred from data — a
    drifting category set silently reshapes the feature matrix)."""
    od = T(spark, sf_dir, "orders")
    cats = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    cols = [
        F.when(F.col("o_orderpriority") == c, 1).otherwise(0).alias(
            f"is_p{i + 1}"
        )
        for i, c in enumerate(cats)
    ]
    return od.select("o_orderkey", *cols)


@q("q_bpe_pair_counts")
def q_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L4: the BPE-training inner step — corpus-weighted adjacent character
    pair counts.  The corpus first collapses to (distinct word, freq) —
    the standard trick that makes each merge round O(|vocab|), not
    O(|corpus|) — then pairs explode per word weighted by word frequency.
    Top-50 by count, tie-broken on the pair text."""
    docs = T(spark, sf_dir, "documents").filter(F.trim(F.col("text")) != "")
    words = (
        docs.select(F.explode(tokens("text")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .filter(F.length("word") >= 2)
    )
    pairs = words.select(
        "freq",
        F.explode(
            F.expr(
                "transform(sequence(1, length(word) - 1),"
                " i -> substr(word, i, 2))"
            )
        ).alias("pair"),
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("freq").alias("pair_count"))
        .orderBy(F.col("pair_count").desc(), F.col("pair").asc())
        .limit(50)
    )


@q("q_chunk_documents")
def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L4: split documents into overlapping token-window chunks (size 50,
    stride 40 — the RAG/pretraining chunking shape).  Chunk starts come
    from a ``sequence`` with the stride as step; each chunk is a
    ``slice`` of the shared tokens array re-joined — all codegen, one
    generator, no UDF.  Emits per-chunk token count and a content hash
    (the dedup-ready form; chunk text itself would bloat the comparison)."""
    docs = (
        T(spark, sf_dir, "documents")
        .filter(F.trim(F.col("text")) != "")
        .withColumn("toks", tokens("text"))
        .withColumn("n", F.size("toks"))
    )
    starts = F.sequence(F.lit(1), F.col("n"), F.lit(40))
    chunks = docs.select(
        "doc_id",
        "toks",
        "n",
        F.posexplode(starts).alias("chunk_id", "start"),
    )
    chunk_toks = F.slice(F.col("toks"), F.col("start"), 50)
    return chunks.select(
        "doc_id",
        "chunk_id",
        F.least(F.col("n") - F.col("start") + 1, F.lit(50)).alias(
            "chunk_tokens"
        ),
        F.substring(
            F.sha2(F.array_join(chunk_toks, " "), 256), 1, 16
        ).alias("chunk_hash"),
    )


@q("q_padding_waste")
def q_padding_waste(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRAINING-BATCH efficiency analysis — the number that justifies
    q_pack_sequences' existence: at a fixed max_len=128 context, a
    naive one-doc-per-row loader pads every document to the boundary,
    so padded = ceil(tokens/128)·128 per doc and the padding share IS
    wasted compute (a 30%-padding corpus burns 30% of training FLOPs
    on pad tokens); the packed alternative needs only
    ceil(total_tokens/128) rows corpus-wide.  Output per length bucket
    (tokens div 128): docs, real tokens, padded tokens, pinned waste
    share — plus the two corpus totals every training-cost estimate
    starts from, repeated on each row (single-grain output).  Exact
    integer ceil arithmetic throughout.  Scale shape: one token-count
    map + one bounded-bucket aggregate + a broadcast 1-row total."""
    docs = T(spark, sf_dir, "documents").select(
        token_count_of(tokens("text")).alias("n_tok")
    ).filter(F.col("n_tok") > 0)
    L = 128
    per = docs.select(
        F.expr(f"n_tok div {L}").alias("bucket"),
        "n_tok",
        F.expr(f"((n_tok + {L} - 1) div {L}) * {L}").alias("padded"),
    )
    g = per.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("tokens"),
        F.sum("padded").cast("bigint").alias("padded_tokens"),
    )
    tot = g.agg(
        F.sum("tokens").cast("bigint").alias("total_tokens"),
        F.sum("padded_tokens").cast("bigint").alias("total_padded"),
    ).select(
        "total_tokens",
        "total_padded",
        F.expr(f"(total_tokens + {L} - 1) div {L}").alias(
            "packed_rows"
        ),
    )
    return (
        g.join(F.broadcast(tot))
        .select(
            "bucket",
            "n_docs",
            "tokens",
            "padded_tokens",
            pround(
                (F.col("padded_tokens") - F.col("tokens")).cast("double")
                / F.col("padded_tokens").cast("double"),
                6,
            ).alias("waste_share"),
            "total_tokens",
            "total_padded",
            "packed_rows",
        )
        .orderBy("bucket")
    )


@q("q_pack_sequences")
def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L4: contiguous sequence packing — assign documents (in stable
    doc_id order) to fixed-capacity training bins of 512 tokens by prefix
    sum: bin = floor((cum_tokens − doc_tokens) / 512).  The streaming-
    packer approximation of bin packing: exact integer arithmetic,
    deterministic across engines and re-runs.  Emits per-bin document
    count and fill level.

    The prefix sum is DISTRIBUTED (a global ``Window.orderBy`` would pull
    the whole corpus into one partition): doc-id range buckets carry
    in-bucket running sums in parallel, a buckets-sized offset table
    cumulates per-bucket totals, and a broadcast join adds the offsets —
    the classic two-phase scan, identical output to the single-partition
    form."""
    docs = T(spark, sf_dir, "documents").select(
        "doc_id", token_count_of(tokens("text")).alias("n_tok")
    )
    bucket = (F.col("doc_id") / F.lit(1000)).cast("bigint")
    d = docs.withColumn("bucket", bucket)
    in_w = (
        Window.partitionBy("bucket")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    within = d.withColumn("in_cum", F.sum("n_tok").over(in_w))
    totals = d.groupBy("bucket").agg(F.sum("n_tok").alias("btot"))
    off_w = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    offsets = totals.select(
        "bucket",
        (F.sum("btot").over(off_w) - F.col("btot")).alias("offset"),
    )
    packed = within.join(F.broadcast(offsets), "bucket").select(
        "doc_id",
        "n_tok",
        (
            (F.col("offset") + F.col("in_cum") - F.col("n_tok")) / F.lit(512)
        ).cast("bigint").alias("bin_id"),
    )
    return packed.groupBy("bin_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("bin_tokens"),
    )


def _baskets(li: DataFrame) -> DataFrame:
    """(order, part) rows -> (order, sorted distinct part array).
    ``collect_set`` folds the per-order dedup into the SAME shuffle that
    builds the basket — callers must NOT pre-``distinct()`` (that would
    add a full extra exchange for nothing).

    Width note: callers whose DOMINANT cost is the quadratic pair
    expansion may pre-``spread`` li on l_orderkey (the groupBy reuses
    the explicit exchange — same single shuffle, exempt from AQE byte
    coalescing).  NOT done here globally: an A/B this round measured
    the pinned width a net LOSS for the iterative graph consumers
    (q_kcore 2.21 → 3.72 s — their per-round jobs are task-latency
    bound) and flat for q_basket_pairs; only q_graph_assortativity's
    S3 edge join won, so it spreads at its own call site."""
    return li.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("l_partkey")).alias("ps")
    )


def _basket_pair_rows(li: DataFrame) -> DataFrame:
    """(order, part) rows -> one row per unordered within-basket part pair
    (p1 < p2).  Baskets collect to a sorted array (ONE shuffle on the
    order key, dedup fused via collect_set) and pairs come from a
    nested-sequence generator expression — the self-join formulation
    shuffles the item table twice and probes a join for what is a
    per-group combinatorial expansion.  Work is still Σ k²/2 per basket
    (inherent), but stays inside one stage."""
    return _pairs_from_baskets(_baskets(li))


def _pairs_from_baskets(baskets: DataFrame) -> DataFrame:
    """(order, sorted part array) -> (p1, p2) pair rows, p1 < p2, via a
    nested-sequence generator expression — no shuffle, one stage."""
    combos = F.flatten(
        F.transform(
            F.sequence(F.lit(1), F.size("ps") - 1),
            lambda i: F.transform(
                F.sequence(i + 1, F.size("ps")),
                lambda j: F.struct(
                    F.element_at(F.col("ps"), i).alias("p1"),
                    F.element_at(F.col("ps"), j).alias("p2"),
                ),
            ),
        )
    )
    return (
        baskets.filter(F.size("ps") >= 2)
        .select(F.explode(combos).alias("pr"))
        .select("pr.p1", "pr.p2")
    )


@q("q_basket_pairs")
def q_basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence with lift: part pairs bought in the same
    order, support ≥ 3, lift from exact integer counts.  Pairs come from
    the single-shuffle basket generator (_basket_pair_rows — quadratic
    only within a basket, never across the corpus); per-item support joins
    back twice on the pair's two part keys — the support aggregate is tiny
    relative to the pair table at every scale, so AQE broadcasts it (one
    broadcast exchange, reused for both sides) and neither join shuffles
    the pairs.  lift = n_orders·c_ab/(c_a·c_b), fixed-order IEEE on
    identical integers."""
    li = T(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    n_orders = (
        T(spark, sf_dir, "orders").agg(F.count(F.lit(1)).alias("n_orders"))
    )
    # Materialize baskets once: both the pair expansion AND the per-item
    # support derive from it, and DataFrame lineage is not a CTE — without
    # the checkpoint the groupBy+collect_set subtree runs twice.
    baskets = cut_lineage(_baskets(li))
    pairs = (
        _pairs_from_baskets(baskets)
        .groupBy("p1", "p2")
        .agg(F.count(F.lit(1)).alias("c_ab"))
        .filter(F.col("c_ab") >= 3)
    )
    support = (
        baskets.select(F.explode("ps").alias("l_partkey"))
        .groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("c_x"))
    )
    sa = support.select(
        F.col("l_partkey").alias("p1"), F.col("c_x").alias("c_a")
    )
    sb = support.select(
        F.col("l_partkey").alias("p2"), F.col("c_x").alias("c_b")
    )
    joined = pairs.join(sa, "p1").join(sb, "p2")
    lift = (
        F.col("n_orders").cast("double")
        * F.col("c_ab")
        / (F.col("c_a") * F.col("c_b"))
    )
    return (
        joined.crossJoin(F.broadcast(n_orders))
        .select("p1", "p2", "c_ab", pround(lift, 6).alias("lift"))
    )


@q("q_catalog_coverage")
def q_catalog_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RECOMMENDER AUDIT — catalog coverage and exposure inequality of
    the "customers who bought a also bought b" top-3 recommendations
    (co-purchase counts, ties broken on item id): what share of the
    purchasable catalog ever appears in ANY recommendation list
    (coverage@3), and how unequally exposure is distributed across the
    items that do appear (Gini over per-item recommendation-slot
    counts — the popularity-bias number next to accuracy metrics in
    every rec-sys eval, Castells et al.).  Top-3 per item via
    operators/rank.py::grouped_topk (per-partition heaps over the
    bounded pair table); exposure Gini via the DISTRIBUTED global
    rank, exact bigint rank × bigint count sums, one pinned division
    each.  Scale shape: basket-bounded pair expansion, item-grain
    aggregates, a ≤3·|catalog| recommendation table — nothing at
    order volume past the first collapse."""
    from .operators.rank import global_rank, grouped_topk

    li = T(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    baskets = cut_lineage(_baskets(li))
    # Pin the canonical pair counts ONCE (r12, VERDICT r11 item 5): the
    # symmetrize union below consumes `counts` twice, and DataFrame
    # lineage is not a CTE — without the cut each union arm re-runs the
    # pair aggregation's post-shuffle pass (the exchange itself is
    # AQE-reused, so the bench delta is small: same-position A/B
    # 4.74 -> 4.20 s on one seat, tie on the other).  Kept for the
    # structural dedup: at scale the duplicated final-agg pass is a
    # full count-grain pass.  LAZY: the terminal action materializes
    # it in passing.
    counts = cut_lineage(
        _pairs_from_baskets(baskets)
        .groupBy("p1", "p2")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c")),
        eager=False,
    )
    sym = counts.select(
        F.col("p1").alias("a"), F.col("p2").alias("b"), "c"
    ).unionAll(
        counts.select(
            F.col("p2").alias("a"), F.col("p1").alias("b"), "c"
        )
    )
    recs = cut_lineage(
        grouped_topk(
            sym, ["a"], [F.col("c").desc(), F.col("b").asc()], k=3
        ).select("a", "b")
    )
    n_items = (
        li.select("l_partkey").distinct()
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_items"))
    )
    exposure = recs.groupBy("b").agg(
        F.count(F.lit(1)).cast("bigint").alias("x")
    )
    n_rec = exposure.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_recommended")
    )
    ranked = global_rank(
        exposure, [F.col("x").asc(), F.col("b").asc()], rank_col="__i"
    )
    gagg = ranked.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum(F.col("__i").cast("decimal(19,0)") * F.col("x"))
        .cast("double")
        .alias("six"),
    )
    gini = (
        F.lit(2.0) * F.col("six") / (F.col("n") * F.col("sx"))
        - (F.col("n") + 1.0) / F.col("n")
    )
    return (
        gagg.crossJoin(F.broadcast(n_items))
        .crossJoin(F.broadcast(n_rec))
        .select(
            "n_items",
            "n_recommended",
            pround(
                F.col("n_recommended").cast("double")
                / F.col("n_items").cast("double"),
                6,
            ).alias("coverage_at_3"),
            pround(gini, 6).alias("exposure_gini"),
        )
    )


@q("q_degree_distribution")
def q_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph profile of the co-purchase graph: how many parts have k
    co-purchase neighbors (degree histogram).  Edges from the
    single-shuffle basket generator (bounded per order), symmetrized by a
    pos-explode rather than a union of two derived frames (one edge
    subtree, not two).  The multiset of pair OCCURRENCES collapses to
    distinct canonical pairs BEFORE the symmetrize: the dedup shuffle
    carries half the rows the naive post-symmetrize
    ``count_distinct(nbr)`` plan would expand, and degree becomes a
    plain count — symmetrized distinct canonical pairs are unique by
    construction.  Graph-probe-measured at 60M lineitem: 42 s → 25 s,
    and the 1.5M→15M-order curve is now ~linear (2.7 s → 25 s for 10×)
    where the old plan bent superlinear."""
    li = T(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    edges = _basket_pair_rows(li).distinct()
    sym = edges.select(
        F.explode(
            F.array(
                F.struct(F.col("p1").alias("node"), F.col("p2").alias("nbr")),
                F.struct(F.col("p2").alias("node"), F.col("p1").alias("nbr")),
            )
        ).alias("e")
    ).select("e.node", "e.nbr")
    degrees = sym.groupBy("node").agg(
        F.count(F.lit(1)).alias("degree")
    )
    return degrees.groupBy("degree").agg(F.count(F.lit(1)).alias("n_nodes"))


@q("q_graph_assortativity")
def q_graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DEGREE ASSORTATIVITY [Newman 2002, "Assortative mixing in
    networks"] of the co-purchase graph — do high-degree parts link to
    other high-degree parts (r>0, social-network shape) or to leaves
    (r<0, hub-and-spoke)?  The one-number structural complement to
    q_degree_distribution's histogram and q_graph_modularity's
    community quality.  Pearson correlation of endpoint degrees over
    edges, computed EXACTLY by cross-multiplication (the modularity
    discipline): with integer edge sums S1=Σ(j+k), S2=Σ(j²+k²),
    S3=Σj·k over the M distinct canonical edges,
    r = (4M·S3 − S1²) / (2M·S2 − S1²) — every term a DECIMAL(38,0)
    integer INTERNALLY, ONE pinned division at the end, so the float
    statistic hash-checks cross-engine.  The driver-visible s_sum/s_prod
    columns are BIGINT (r9 driver board: DECIMAL(38,0) outputs diverge
    in driver result-canonicalization vs DuckDB HUGEINT — the r6
    q_kmeans_cells hardening): S1 ≤ 2M·max_deg and S3 ≤ M·max_deg² fit
    int64 comfortably at every certified SF; past ~1e18 (hub degrees
    ~1e6 over ~1e12 edges) switch these two outputs to the canonical
    string form q_kendall_tau uses.  Scale shape: basket-bounded pair
    expansion; M/S1/S2 come from the node-grain degree frame ALONE
    (M = Σd/2, S1 = Σd², S2 = Σd³ — handshake identities, no join),
    so the edge join back to degrees (AQE broadcasts them) computes
    only S3, one product per edge, one 1-row sum."""
    li = T(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    # ``spread`` the basket build (the groupBy reuses the pinned
    # exchange): AQE byte-coalescing ran the quadratic pair expansion +
    # distinct map side in a handful of tasks.  Scoped HERE, not in
    # _baskets — the same pin measured a net loss for the iterative
    # graph consumers (see _baskets docstring).  A/B isolated min-of-6
    # at sf0.1: 2.515 → 2.197 s.
    edges = cut_lineage(
        _basket_pair_rows(spread(li, "l_orderkey")).distinct()
    )
    sym = edges.select(
        F.explode(
            F.array(
                F.struct(F.col("p1").alias("node"), F.col("p2").alias("nbr")),
                F.struct(F.col("p2").alias("node"), F.col("p1").alias("nbr")),
            )
        ).alias("e")
    ).select("e.node", "e.nbr")
    deg = cut_lineage(
        sym.groupBy("node").agg(
            F.count(F.lit(1)).cast("bigint").alias("d")
        ),
        eager=False,
    )
    dd = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    # Handshake identities at node grain: M = Σd/2, S1 = Σd², S2 = Σd³
    # — only S3 = Σ_edges d1·d2 needs the edge⋈degree join.
    degsums = deg.agg(
        F.expr("sum(d) DIV 2").cast("bigint").alias("m"),
        F.sum(dd(F.col("d")) * F.col("d")).cast("decimal(38,0)")
        .alias("s1"),
        F.sum(dd(F.col("d")) * F.col("d") * F.col("d"))
        .cast("decimal(38,0)").alias("s2"),
    )
    d1 = deg.select(F.col("node").alias("p1"), F.col("d").alias("d1"))
    d2 = deg.select(F.col("node").alias("p2"), F.col("d").alias("d2"))
    s3row = (
        edges.join(d1, "p1").join(d2, "p2")
        .agg(
            F.sum(dd(F.col("d1")) * dd(F.col("d2")))
            .cast("decimal(38,0)").alias("s3")
        )
    )
    sums = degsums.crossJoin(F.broadcast(s3row))  # two 1-row frames
    num = (
        F.lit(4).cast("decimal(38,0)") * dd(F.col("m")) * F.col("s3")
        - F.col("s1") * F.col("s1")
    )
    den = (
        F.lit(2).cast("decimal(38,0)") * dd(F.col("m")) * F.col("s2")
        - F.col("s1") * F.col("s1")
    )
    return sums.select(
        "m",
        F.col("s1").cast("bigint").alias("s_sum"),
        F.col("s3").cast("bigint").alias("s_prod"),
        F.when(
            den != 0,
            pround(num.cast("double") / den.cast("double"), 6),
        ).alias("assortativity"),
    )


@q("q_chunk_dup_stats")
def q_chunk_dup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus QA metric: chunk-level duplication rate — total chunks,
    distinct chunk hashes, and the duplicate fraction, in ONE aggregation
    over the chunk table (count + count distinct share a pass)."""
    chunks = q_chunk_documents(spark, sf_dir)
    return chunks.agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.count_distinct(F.col("chunk_hash")).alias("n_unique"),
    ).select(
        "n_chunks",
        "n_unique",
        pround(
            (F.col("n_chunks") - F.col("n_unique"))
            / F.col("n_chunks").cast("double"),
            6,
        ).alias("dup_rate"),
    )


@q("q_vector_topk_lsh")
def q_vector_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L3 (hash-checked): hyperplane-LSH bucketed ANN — probe the
    query's SimHash bucket, exact cosine rerank inside it.  Bucket
    membership IS cross-engine exact: the signature's md5-parity ±1
    weights fold left-to-right in a fixed order, and the oracle
    (oracles.py::_lsh_bucket_sql) evaluates the identical IEEE
    expression — unlike IVF, whose trained float centroids keep those
    variants rows-only."""
    from .operators.similarity import lsh_bucket_topk

    return lsh_bucket_topk(
        T(spark, sf_dir, "embeddings"), _query_vector(spark, sf_dir), k=10
    )


@q("q_ann_recall")
def q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality gate: recall@10 of the hyperplane-LSH retriever
    against the exact cosine top-10 — the self-evaluation every
    approximate index ships with, here as a DECLARED query because both
    lists are cross-engine exact (pinned cosine + the bit-identical LSH
    bucket of q_vector_topk_lsh), so the recall number itself is
    hash-checkable (q_ivf_recall is the IVF twin, over integer
    centroids).  Scale shape: two TakeOrderedAndProject corpus scans;
    the overlap join and the three count aggregates run on ≤k rows.
    recall = n_overlap/k is one exact-int division.  All three counts
    come from ONE full-outer join of the two lists — each corpus scan
    executes exactly once (TakeOrderedAndProject subtrees
    are not exchange-reusable, so a per-count re-consumption would
    re-score the corpus)."""
    from .operators.similarity import lsh_bucket_topk

    em = T(spark, sf_dir, "embeddings")
    qv = _query_vector(spark, sf_dir)
    exact = brute_force_topk(em, qv, k=10).select(
        "vec_id", F.lit(1).alias("in_e")
    )
    lsh = lsh_bucket_topk(em, qv, k=10).select(
        "vec_id", F.lit(1).alias("in_l")
    )
    j = exact.join(lsh, "vec_id", "full")
    return j.agg(
        F.sum(F.coalesce(F.col("in_e"), F.lit(0)))
        .cast("bigint")
        .alias("n_exact"),
        F.sum(F.coalesce(F.col("in_l"), F.lit(0)))
        .cast("bigint")
        .alias("n_lsh"),
        F.sum(
            F.coalesce(F.col("in_e"), F.lit(0))
            * F.coalesce(F.col("in_l"), F.lit(0))
        )
        .cast("bigint")
        .alias("n_overlap"),
    ).select(
        "n_exact",
        "n_lsh",
        "n_overlap",
        (F.col("n_overlap").cast("double") / F.lit(10.0)).alias(
            "recall_at_10"
        ),
    )


@q("q_ivf_recall")
def q_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality gate for the PLAIN-IVF retriever (r10 — VERDICT r9
    task 7): recall@10 of q_vector_topk_ivf's probed-cell search
    against the exact cosine top-10.  Hash-checkable for the same
    reason q_ann_recall / q_ivfpq_recall are: the coarse quantizer is
    the INTEGER label-cell centroid build (floor-divided micro-unit
    means — cross-engine exact), probe selection is exact integer L2,
    and both ranked lists use the pinned cosine — so the recall number
    itself is deterministic.  Completes the per-retriever eval ladder:
    LSH (q_ann_recall), IVF (this), PQ (q_pq_recall), IVF-PQ
    (q_ivfpq_recall).  Scale shape: the IVF probe + one exact-top-k
    corpus scan; the overlap join and counts run on ≤k rows."""
    em = T(spark, sf_dir, "embeddings")
    qv = _query_vector(spark, sf_dir)
    exact = brute_force_topk(em, qv, k=10).select(
        "vec_id", F.lit(1).alias("in_e")
    )
    ivf = q_vector_topk_ivf(spark, sf_dir).select(
        "vec_id", F.lit(1).alias("in_i")
    )
    j = exact.join(ivf, "vec_id", "full")
    return j.agg(
        F.sum(F.coalesce(F.col("in_e"), F.lit(0)))
        .cast("bigint")
        .alias("n_exact"),
        F.sum(F.coalesce(F.col("in_i"), F.lit(0)))
        .cast("bigint")
        .alias("n_ivf"),
        F.sum(
            F.coalesce(F.col("in_e"), F.lit(0))
            * F.coalesce(F.col("in_i"), F.lit(0))
        )
        .cast("bigint")
        .alias("n_overlap"),
    ).select(
        "n_exact",
        "n_ivf",
        "n_overlap",
        (F.col("n_overlap").cast("double") / F.lit(10.0)).alias(
            "recall_at_10"
        ),
    )


@q("q_approx_percentile_hist")
def q_approx_percentile_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4-family approximation, ENGINE-EXACT variant: per-event-type
    p50/p95/p99 of value from a fixed-width HISTOGRAM sketch — the
    order-free mergeable quantile path that, unlike GK/KLL (whose state
    depends on merge order, so cross-engine hashes can never match),
    is bit-identical on any engine and any partitioning: bucket =
    cents div 50 (ie 0.50-wide value bins), counts are plain adds
    (commutative — the HLL-promotion discipline applied to quantiles),
    and percentile p reads the first bucket whose running count
    reaches ceil(p·n), reported as the bucket's inclusive lower bound
    in cents.  State per group is bounded by the value range / bin
    width, independent of row count; the builtin-GK twin
    (q_approx_percentile) stays rows-only by design.  One shuffle to
    (type, bucket) grain; the cumulative scan runs on ≤1k buckets per
    group."""
    ev = T(spark, sf_dir, "events").select(
        "event_type",
        F.expr(
            "CAST(floor(value * 100 + 0.5) AS BIGINT) div 50"
        ).alias("bucket"),
    )
    hist = ev.groupBy("event_type", "bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    w_cum = (
        Window.partitionBy("event_type")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_tot = Window.partitionBy("event_type")
    cum = hist.select(
        "event_type",
        "bucket",
        F.sum("c").over(w_cum).alias("cum"),
        F.sum("c").over(w_tot).alias("n"),
    )

    def pct(p_num: int, p_den: int, name: str) -> F.Column:
        # first bucket whose cum >= ceil(p*n): integer ceil via div
        need = F.expr(f"(n * {p_num} + {p_den} - 1) div {p_den}")
        return F.min(
            F.when(F.col("cum") >= need, F.col("bucket") * 50)
        ).cast("bigint").alias(name)

    return cum.groupBy("event_type").agg(
        F.max("n").alias("n_rows"),
        pct(50, 100, "p50_cents"),
        pct(95, 100, "p95_cents"),
        pct(99, 100, "p99_cents"),
    )


@q("q_approx_percentile")
def q_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4-family approximation: ``approx_percentile`` (Greenwald-Khanna
    sketch) per group — the 100 TB path for quantiles (mergeable partial
    sketches, bounded memory).  Rows-only vs the oracle: sketch
    implementations differ across engines; the exact hash-checked twin is
    q_percentile."""
    li = T(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.expr(
            "approx_percentile(l_extendedprice, array(0.5, 0.95, 0.99), 1000)"
        ).alias("approx_p")
    )


@q("q_seasonal_index")
def q_seasonal_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical seasonal indices: each calendar month's average monthly
    revenue relative to the overall monthly average (index > 1 = a
    seasonally strong month) — the multiplicative-decomposition seasonal
    factor every demand-planning pipeline publishes.  The fact collapses
    to the bounded month grain in one shuffle (exact cents); the
    month-of-year regrouping and the two totals run on that ~80-row
    table, and every ratio is fixed-order IEEE on exact integers."""
    od = T(spark, sf_dir, "orders")
    monthly = od.groupBy(
        F.trunc(F.to_date("o_orderdate"), "month").alias("m")
    ).agg(
        F.sum(
            F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5))
        ).alias("cents")
    )
    per = monthly.groupBy(F.month("m").alias("month")).agg(
        F.count(F.lit(1)).alias("n_months"),
        F.sum("cents").alias("mcents"),
    )
    w_tot = Window.partitionBy()
    avg_m = F.col("mcents") / F.col("n_months").cast("double")
    avg_all = F.sum("mcents").over(w_tot) / F.sum("n_months").over(
        w_tot
    ).cast("double")
    return per.select(
        "month",
        "n_months",
        pround(avg_m / F.lit(100.0), 6).alias("avg_revenue"),
        pround(avg_m / avg_all, 6).alias("seasonal_index"),
    )


def _seasonal_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared core of the moving-average decomposition: the full-window
    day-grain frame (day, dow, cents, trend_x7, detr_x7, s_dow, n_dow)
    with every accumulator an exact integer — consumed by the
    decomposition surface (q_seasonal_decompose) and the anomaly
    detector built on its residuals (q_seasonal_anomalies)."""
    od = T(spark, sf_dir, "orders")
    daily = od.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.sum(
            F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5))
        ).cast("bigint").alias("cents")
    )
    wd = Window.orderBy("day").rowsBetween(-3, 3)  # day grain: bounded
    t = daily.select(
        "day",
        "cents",
        F.sum("cents").over(wd).cast("bigint").alias("trend_x7"),
        F.count(F.lit(1)).over(wd).alias("__n_win"),
        (F.unix_date(F.col("day")) % 7).cast("int").alias("dow"),
    ).filter(F.col("__n_win") == 7)
    t = t.withColumn(
        "detr_x7",
        (F.lit(7) * F.col("cents") - F.col("trend_x7")).cast("bigint"),
    )
    dow_mean = t.groupBy("dow").agg(
        F.sum("detr_x7").cast("bigint").alias("s_dow"),
        F.count(F.lit(1)).cast("bigint").alias("n_dow"),
    )
    return t.join(F.broadcast(dow_mean), "dow")


@q("q_seasonal_anomalies")
def q_seasonal_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEASONALITY-AWARE ANOMALY DETECTION — the detect step closing
    q_seasonal_decompose's loop (the modularity/recall pattern: every
    model here ships with its evaluator or detector): a raw z-score
    scan (q_anomaly_zscore) flags every strong weekday as anomalous,
    so the residual AFTER removing trend and weekly seasonality is
    scored against the MEDIAN absolute residual (MAD-style — robust:
    the anomalies themselves cannot inflate a median the way they
    inflate a stddev), and the top-10 days by |residual|/MAD are
    emitted with the >3×MAD flag.  Determinism: the residual is one
    pinned expression over exact integers (n_dow·detr_x7 − s_dow over
    7·n_dow·100), the median is a RANK SELECTION (the (n+1) div 2-th
    smallest — no averaging of two middles, no float accumulation),
    and the top-10 ties break on day.  Scale shape: everything past
    the one fact collapse runs at the bounded ~2.4k-row day grain
    (the documented exemption)."""
    j = _seasonal_frame(spark, sf_dir)
    r = (
        (
            F.col("n_dow") * F.col("detr_x7") - F.col("s_dow")
        ).cast("double")
        / (F.lit(7.0) * F.col("n_dow").cast("double") * F.lit(100.0))
    )
    scored = j.select(
        "day",
        (F.col("cents").cast("double") / F.lit(100.0)).alias("revenue"),
        r.alias("__r"),
        F.abs(r).alias("__ar"),
    )
    wr = Window.orderBy(F.col("__ar").asc(), F.col("day").asc())
    ranked = scored.withColumn("__rn", F.row_number().over(wr))
    med = ranked.crossJoin(
        F.broadcast(
            ranked.agg(
                F.count(F.lit(1)).cast("bigint").alias("__n")
            ).select(F.expr("(__n + 1) div 2").alias("__k"))
        )
    )
    mad = med.filter(F.col("__rn") == F.col("__k")).select(
        F.col("__ar").alias("__mad")
    )
    return (
        scored.crossJoin(F.broadcast(mad))
        .orderBy(F.col("__ar").desc(), F.col("day").asc())
        .limit(10)
        .select(
            "day",
            "revenue",
            pround(F.col("__r"), 4).alias("residual"),
            pround(F.col("__mad"), 4).alias("mad"),
            pround(F.col("__ar") / F.col("__mad"), 4).alias("score"),
            (F.col("__ar") > F.lit(3.0) * F.col("__mad")).alias(
                "is_anomalous"
            ),
        )
    )


@q("q_ts_strength")
def q_ts_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TREND AND SEASONALITY STRENGTH [Hyndman & Athanasopoulos, FPP
    §4.4 / Wang-Smith-Hyndman 2006] of the daily revenue series —
    the two unit-free numbers a forecasting triage computes from the
    decomposition BEFORE choosing a model family:
    F_T = max(0, 1 − Var(R)/Var(T+R)) and
    F_S = max(0, 1 − Var(R)/Var(S+R)).  Built directly on the shared
    decomposition frame (_seasonal_frame; detrended and seasonal
    components as exact integers).  Float discipline: every variance
    is assembled from power sums whose PER-ROW terms are floored to
    ×1e6 bigints before the order-free integer sum (the dsum
    discipline), and each F is one fixed-order expression over those
    integer sums.  The companion to q_seasonality_strength's one-way
    η² (that one asks "does day-of-week explain variance"; this one
    scores trend and seasonality AGAINST the remainder on the
    decomposed series).  Scale shape: one fact collapse, bounded
    day-grain windows, a 1-row aggregate."""
    j = _seasonal_frame(spark, sf_dir)
    # per-day components in DOLLARS (cents/100 — cents-scale squares
    # times the 1e6 floor grid overflow bigint at ~1e7-cent days; the
    # dollar scale plus DECIMAL(38,0)/HUGEINT accumulators holds to
    # ~1e12-dollar days): trend t = trend_x7/700, seasonal
    # s = s_dow/(700 n_dow), remainder r = detr_x7/700 - s
    t_ = F.col("trend_x7").cast("double") / F.lit(700.0)
    s_ = F.col("s_dow").cast("double") / (
        F.lit(700.0) * F.col("n_dow").cast("double")
    )
    r_ = F.col("detr_x7").cast("double") / F.lit(700.0) - s_
    # Two floor grids: linear sums ride the x1e6 grid; SQUARED sums
    # floor at UNIT grid — their per-row inputs are the squares
    # themselves (~1e13 here), and a x1e6 multiplier pushed them past
    # 2^63 where Spark's floor(double) SATURATES silently (Java
    # double->long conversion) while DuckDB's HUGEINT keeps going —
    # the one cross-engine divergence this query hit in development.
    # Unit-grid error is <=1 on ~1e13 values: ~1e-13 relative, far
    # below the 1e-6 output rounding.
    l6 = lambda e: F.floor(e * F.lit(1e6)).cast(  # noqa: E731
        "decimal(38,0)"
    )
    s0 = lambda e: F.floor(e).cast("decimal(38,0)")  # noqa: E731
    sums = j.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(l6(r_)).cast("decimal(38,0)").alias("sr6"),
        F.sum(s0(r_ * r_)).cast("decimal(38,0)").alias("srr0"),
        F.sum(l6(t_ + r_)).cast("decimal(38,0)").alias("str6"),
        F.sum(s0((t_ + r_) * (t_ + r_))).cast("decimal(38,0)")
        .alias("strr0"),
        F.sum(l6(s_ + r_)).cast("decimal(38,0)").alias("ssr6"),
        F.sum(s0((s_ + r_) * (s_ + r_))).cast("decimal(38,0)")
        .alias("ssrr0"),
    )
    n = F.col("n").cast("double")

    def var(s1, s2):
        m = F.col(s1).cast("double") / F.lit(1e6) / n
        return F.col(s2).cast("double") / n - m * m

    ft = F.greatest(F.lit(0.0), F.lit(1.0) - var("sr6", "srr0") / var(
        "str6", "strr0"
    ))
    fs = F.greatest(F.lit(0.0), F.lit(1.0) - var("sr6", "srr0") / var(
        "ssr6", "ssrr0"
    ))
    return sums.select(
        F.col("n").alias("n_days"),
        pround(ft, 6).alias("trend_strength"),
        pround(fs, 6).alias("seasonal_strength"),
    )


@q("q_seasonal_decompose")
def q_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADDITIVE SEASONAL DECOMPOSITION of the daily revenue series —
    the classical y = trend + seasonal + residual split
    (moving-average decomposition, the first pass of every
    forecasting pipeline and what STL iterates on): trend = centered
    7-day moving average (full windows only — edge days emit no row
    rather than a biased trend), weekly seasonal = the day-of-week
    mean of the detrended series, residual = the remainder.  EXACT
    integer core: the series is daily cents, the trend is carried as
    the INTEGER 7-day window sum (trend_x7 — never an averaged
    double), the detrended value as the integer 7y − trend_x7, and
    day-of-week means as integer (sum, count) pairs; every emitted
    double is ONE fixed-order expression over those integers.
    Day-of-week from epoch-day mod 7 (engine-neutral — no locale
    dayofweek).  Scale shape: one fact collapse to the ~2.4k-row day
    grain, then bounded day-grain windows (the documented
    exemption)."""
    j = _seasonal_frame(spark, sf_dir)
    trend = F.col("trend_x7").cast("double") / F.lit(7.0) / F.lit(100.0)
    seasonal = (
        F.col("s_dow").cast("double")
        / (F.lit(7.0) * F.col("n_dow").cast("double"))
        / F.lit(100.0)
    )
    residual = (
        F.col("detr_x7").cast("double") / F.lit(7.0)
        - F.col("s_dow").cast("double")
        / (F.lit(7.0) * F.col("n_dow").cast("double"))
    ) / F.lit(100.0)
    return j.select(
        "day",
        "dow",
        (F.col("cents").cast("double") / F.lit(100.0)).alias("revenue"),
        pround(trend, 4).alias("trend"),
        pround(seasonal, 4).alias("seasonal"),
        pround(residual, 4).alias("residual"),
    )


@q("q_growth_accounting")
def q_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEEKLY growth accounting over the event log — the
    new / retained / resurrected / churning decomposition every
    product-analytics stack reports (new: first-ever week; retained:
    also active the previous week; resurrected: active, but last seen
    before the previous week; churning: users going silent after this
    week).  Week grain (epoch-week index, integer arithmetic) because
    the fixture's event log spans ~5 weeks — the same query at month
    grain is one degenerate row.  Shape: one collapse to the (user,
    week) grain, then lag/lead over each user's week sequence —
    user-partitioned windows, one shuffle.

    Right-censoring caveat (declared semantics): ``next_mi IS NULL``
    cannot distinguish true churn from the observation window simply
    ending, so the FINAL observed week's ``churning_users`` counts
    every then-active user and is structurally inflated.  Consumers
    should drop (or asterisk) the max-week churn figure; the oracle
    mirrors the same convention so the hash-check pins exactly this
    definition."""
    ev = T(spark, sf_dir, "events")
    epoch = F.lit("1970-01-01").cast("date")
    um = (
        ev.select(
            "user_id",
            F.floor(F.datediff(F.to_date("ts"), epoch) / F.lit(7.0))
            .cast("int")
            .alias("mi"),
        )
        .distinct()
        .withColumn("m", F.date_add(epoch, F.col("mi") * 7))
    )
    w = Window.partitionBy("user_id").orderBy("mi")
    lab = um.select(
        "m",
        "mi",
        F.lag("mi").over(w).alias("prev_mi"),
        F.lead("mi").over(w).alias("next_mi"),
    )
    status = (
        lab.withColumn(
            "new_u", F.when(F.col("prev_mi").isNull(), 1).otherwise(0)
        )
        .withColumn(
            "retained_u",
            F.when(F.col("prev_mi") == F.col("mi") - 1, 1).otherwise(0),
        )
        .withColumn(
            "resurrected_u",
            F.when(
                F.col("prev_mi").isNotNull()
                & (F.col("prev_mi") < F.col("mi") - 1),
                1,
            ).otherwise(0),
        )
        .withColumn(
            "churning_u",
            F.when(
                F.col("next_mi").isNull()
                | (F.col("next_mi") > F.col("mi") + 1),
                1,
            ).otherwise(0),
        )
    )
    return status.groupBy("m").agg(
        F.sum("new_u").alias("new_users"),
        F.sum("retained_u").alias("retained_users"),
        F.sum("resurrected_u").alias("resurrected_users"),
        F.sum("churning_u").alias("churning_users"),
    )


@q("q_cohort_ltv")
def q_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime value: cumulative revenue per signup cohort (first
    order month) by cohort age in months, per cohort member — the LTV
    curve that prices acquisition.  One fact pass collapses to the
    (cohort, age) grain with exact cents; the cumulative window and the
    cohort-size join run on that bounded ~80×80 table.  The running sum
    is an exact bigint cumulative, divided once per emitted row."""
    od = T(spark, sf_dir, "orders").select(
        "o_custkey",
        F.trunc(F.to_date("o_orderdate"), "month").alias("m"),
        F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5))
        .cast("bigint")
        .alias("cents"),
    )
    w_first = Window.partitionBy("o_custkey")
    with_cohort = od.withColumn("cohort", F.min("m").over(w_first))
    mi = lambda c: F.year(c) * 12 + F.month(c)  # noqa: E731
    grain = (
        with_cohort.withColumn(
            "age", (mi(F.col("m")) - mi(F.col("cohort"))).cast("int")
        )
        .groupBy("cohort", "age")
        .agg(F.sum("cents").alias("rev_cents"))
    )
    sizes = (
        with_cohort.select("o_custkey", "cohort")
        .distinct()
        .groupBy("cohort")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )
    w_cum = (
        Window.partitionBy("cohort")
        .orderBy("age")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        grain.withColumn("cum_cents", F.sum("rev_cents").over(w_cum))
        .join(F.broadcast(sizes), "cohort")
        .select(
            "cohort",
            "age",
            "n_customers",
            pround(
                F.col("cum_cents")
                / F.lit(100.0)
                / F.col("n_customers").cast("double"),
                6,
            ).alias("ltv_per_customer"),
        )
    )


@q("q_seasonal_profile")
def q_seasonal_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BI heatmap source: activity by (day-of-week × hour-of-day) — one
    aggregation over integer epoch math (dow from the epoch-day, hour from
    the epoch-second; no timezone/locale functions, so both engines bucket
    identically; epoch day 0 = Thursday → dow 0 = Monday via +3 mod 7)."""
    ev = T(spark, sf_dir, "events")
    secs = F.unix_timestamp("ts")
    day = (secs / 86400).cast("bigint")
    dow = ((day + 3) % 7).cast("int")
    hour = ((secs % 86400) / 3600).cast("int")
    return (
        ev.groupBy(dow.alias("dow"), hour.alias("hour"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum(F.col("value")).alias("sum_value"),
        )
    )


@q("q_data_freshness")
def q_data_freshness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIPELINE SLA AUDIT — the freshness/completeness page every data
    platform runs against every feed (the observability twin of
    q_reconciliation's cross-table check): per event type, (1)
    FRESHNESS — seconds between the feed's last event and the
    dataset's global high-water mark (a type whose staleness grows is
    a dead upstream), and (2) COMPLETENESS — the high-water day's
    volume against the trailing-7-day total, as the exact integer
    ratio 7·latest vs total (a latest day under ~half the trailing
    mean is the classic partial-load incident).  Exact epoch-second
    integers throughout; one pinned division for the ratio.  Scale
    shape: one 1-row high-water aggregate broadcast back, two
    type-grain aggregates off one scan — output is type-grain
    regardless of event volume."""
    ev = T(spark, sf_dir, "events").select(
        "event_type",
        F.col("ts").cast("long").alias("s"),
        F.to_date("ts").alias("day"),
    )
    hw = ev.agg(
        F.max("s").alias("hw_s"), F.max("day").alias("hw_day")
    )
    j = ev.join(F.broadcast(hw))
    per_type = j.groupBy("event_type").agg(
        F.max("s").cast("bigint").alias("last_seen_s"),
        F.max("hw_s").alias("__hw"),
        F.sum(
            F.when(F.col("day") == F.col("hw_day"), 1).otherwise(0)
        ).cast("bigint").alias("latest_day_events"),
        F.sum(
            F.when(
                (F.col("day") >= F.date_sub(F.col("hw_day"), 7))
                & (F.col("day") < F.col("hw_day")),
                1,
            ).otherwise(0)
        ).cast("bigint").alias("trailing_7d_events"),
    )
    return per_type.select(
        "event_type",
        "last_seen_s",
        (F.col("__hw") - F.col("last_seen_s")).cast("bigint").alias(
            "staleness_s"
        ),
        "latest_day_events",
        "trailing_7d_events",
        F.when(
            F.col("trailing_7d_events") > 0,
            pround(
                F.lit(7.0) * F.col("latest_day_events").cast("double")
                / F.col("trailing_7d_events").cast("double"),
                6,
            ),
        ).alias("volume_vs_trailing_mean"),
        (
            7 * F.col("latest_day_events") * 2
            < F.col("trailing_7d_events")
        ).alias("partial_load_suspect"),
    ).orderBy("event_type")


@q("q_interarrival_stats")
def q_interarrival_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type inter-arrival statistics (rate/burstiness profile): lag the
    event stream within each type, then mean and median of the ms gaps —
    gaps are exact integers, so the mean is an exact integer-sum division
    and the median an exact percentile, both pinned.  event_type has ~6
    values, so ``Window.partitionBy("event_type")`` would funnel the whole
    stream through 6 tasks; ``operators.rank.grouped_lag`` instead
    range-partitions on (type, ts, id), lags locally, and stitches the
    partition boundaries through a partitions×types-sized carry table —
    per-type semantics at full parallelism."""
    from .operators.rank import grouped_lag

    ev = T(spark, sf_dir, "events")
    ms = F.unix_millis(F.col("ts"))
    gaps = (
        grouped_lag(
            ev.select("event_type", "ts", "event_id", ms.alias("ms")),
            ["event_type"],
            [F.col("ts"), F.col("event_id")],
            F.col("ms"),
            lag_col="prev_ms",
        )
        .withColumn("gap_ms", F.col("ms") - F.col("prev_ms"))
        .filter(F.col("gap_ms").isNotNull())
    )
    return gaps.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_gaps"),
        pround(
            F.sum("gap_ms").cast("double") / F.count(F.lit(1)), 6
        ).alias("mean_gap_ms"),
        pround(F.expr("percentile(gap_ms, 0.5)"), 6).alias("p50_gap_ms"),
    )


@q("q_twap")
def q_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average value per event type — the step-function
    mean (each sample holds until the next one) that de-biases
    irregular sampling, the TWAP of sensor/pricing ETL; a plain AVG
    over-weights bursts.

    Exactness + scale: each interval's weight is the exact integer ms
    gap to the NEXT sample — ``operators.rank.grouped_lag`` over the
    DESCENDING (ms, id) order, so low-cardinality types never funnel
    through one partition (the q_interarrival_stats shape, pointed the
    other way).  Both engines order by the SAME ms integers (sub-ms
    timestamp precision must not order rows the bigint can't see);
    Σ cents·gap accumulates in DECIMAL products and the single
    division is pround-pinned.  The last sample of each type carries no
    interval — the standard TWAP contract over [first, last]."""
    from .operators.rank import grouped_lag

    ev = T(spark, sf_dir, "events")
    base = ev.select(
        "event_type",
        "event_id",
        F.unix_millis(F.col("ts")).alias("ms"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint").alias("c"),
    )
    d13 = lambda c: F.col(c).cast("decimal(13,0)")  # noqa: E731
    # grouped_lag orders by plain Columns (no SortOrder); negated keys
    # give the descending walk whose "previous" is the NEXT sample
    nxt = grouped_lag(
        base.withColumn("negms", -F.col("ms")).withColumn(
            "negid", -F.col("event_id")
        ),
        ["event_type"],
        [F.col("negms"), F.col("negid")],
        F.col("ms"),
        lag_col="next_ms",
    )
    iv = nxt.withColumn("dur", F.col("next_ms") - F.col("ms")).filter(
        F.col("dur").isNotNull()
    )
    return iv.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_intervals"),
        F.sum("dur").cast("bigint").alias("span_ms"),
        pround(
            F.sum(d13("c") * d13("dur")).cast("double")
            / F.sum("dur").cast("double")
            / F.lit(100.0),
            6,
        ).alias("twap"),
    )


@q("q_iqr_outliers")
def q_iqr_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection: events outside the Tukey fences
    (Q1−1.5·IQR, Q3+1.5·IQR) of their type's value distribution — the
    quartile-based complement to q_anomaly_zscore (resistant to the very
    outliers it hunts).  Exact percentiles broadcast back onto the
    stream; the fence comparison is fixed-order IEEE."""
    ev = T(spark, sf_dir, "events")
    qs = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.25)").alias("q1"),
        F.expr("percentile(value, 0.75)").alias("q3"),
    )
    lo = F.col("q1") - 1.5 * (F.col("q3") - F.col("q1"))
    hi = F.col("q3") + 1.5 * (F.col("q3") - F.col("q1"))
    return (
        ev.join(F.broadcast(qs), "event_type")
        .filter((F.col("value") < lo) | (F.col("value") > hi))
        .select("event_id", "event_type", "value")
    )


@q("q_entity_cluster")
def q_entity_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution end-to-end: EXACT-collapse -> blocked fuzzy
    pairs -> connected components -> expand back to one canonical entity
    per cluster (min part id) with member count and representative name.

    Identical (brand, name) records are mutual dist-0 matches — a clique
    — so they collapse to ONE representative (min id) BEFORE the
    quadratic levenshtein join, which then runs over distinct names
    only; components over the collapsed graph expand back to identical
    entities (collapse-first is component-preserving: every collapsed
    member reaches its representative at dist 0).  The same
    exact-before-near ordering the dedup family documents; at 10x the
    fixture this is the difference between ~30M scored pairs / 87 s and
    ~10k pairs / ~5 s with a hash-identical result.  The distance itself
    is the BANDED levenshtein (threshold arg, Spark 3.5+): the kernel
    walks an 11-wide diagonal band and bails at -1 past the bound —
    O(threshold·len) per pair instead of O(len²), which cut the sf0.1
    within-brand join from 146 s to ~8 s with identical output."""
    from .operators.graph import connected_components

    pt = T(spark, sf_dir, "part").select("p_partkey", "p_name", "p_brand")
    grp = pt.groupBy("p_brand", "p_name").agg(
        F.min("p_partkey").alias("rep_id"),
        F.count(F.lit(1)).alias("n_in_group"),
    )
    a = grp.select(
        F.col("rep_id").alias("id_a"),
        F.col("p_name").alias("name_a"),
        "p_brand",
    )
    b = grp.select(
        F.col("rep_id").alias("id_b"),
        F.col("p_name").alias("name_b"),
        F.col("p_brand").alias("brand_b"),
    )
    pairs = (
        a.join(
            b,
            (F.col("p_brand") == F.col("brand_b"))
            & (F.col("id_a") < F.col("id_b")),
        )
        .filter(F.levenshtein("name_a", "name_b", 5) >= 0)
        .select("id_a", "id_b")
    )
    comps = connected_components(pairs)
    # original contract: an entity needs >= 2 linked records — a lone
    # part with no exact twin and no fuzzy partner is not an entity.
    # Exact-twin groups (n_in_group >= 2) were dist-0 cliques in the
    # uncollapsed graph, so they stay even when their representative
    # joins no cross-name pair.
    labeled = (
        grp.join(comps, grp.rep_id == comps.node, "left")
        .filter(F.col("component").isNotNull() | (F.col("n_in_group") >= 2))
        .select(
            F.coalesce(F.col("component"), F.col("rep_id")).alias("entity_id"),
            "rep_id",
            "n_in_group",
        )
    )
    ents = labeled.groupBy("entity_id").agg(
        F.sum("n_in_group").alias("n_members")
    )
    pt2 = T(spark, sf_dir, "part").select("p_partkey", "p_name")
    return ents.join(pt2, ents.entity_id == pt2.p_partkey).select(
        "entity_id", "n_members", F.col("p_name").alias("rep_name")
    )


@q("q_percent_of_total")
def q_percent_of_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ratio-to-report: each nation's share of its region's revenue — a
    partition-wide window sum over the (small) aggregate.  The share's
    numerator and denominator stay DECIMAL until the final division, so
    the window's evaluation order cannot perturb the result."""
    od = T(spark, sf_dir, "orders")
    cu = T(spark, sf_dir, "customer")
    na = T(spark, sf_dir, "nation")
    re = T(spark, sf_dir, "region")
    rev = (
        od.join(cu, od.o_custkey == cu.c_custkey)
        .join(F.broadcast(na), cu.c_nationkey == na.n_nationkey)
        .join(F.broadcast(re), na.n_regionkey == re.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev_d")
        )
    )
    total = F.sum("rev_d").over(Window.partitionBy("r_name"))
    return rev.select(
        "r_name",
        "n_name",
        F.col("rev_d").cast("double").alias("revenue"),
        pround(
            F.col("rev_d").cast("double") / total.cast("double"), 6
        ).alias("region_share"),
    )


@q("q_seasonality_strength")
def q_seasonality_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HOW seasonal is the series — the variance-decomposition R² of
    the day-of-week model (q_seasonal_profile shows the pattern, this
    scores it): between-group share η² = SS_between/SS_total over
    daily order counts grouped by weekday — the number that decides
    whether a forecaster needs weekly terms at all.  Pure integer
    power sums (per-DOW n, Σx, Σx² with the cross-multiplication
    discipline: SS terms scaled by the group sizes so every
    intermediate is an exact integer), one pinned division.  Scale
    shape: day-grain collapse, 7-group aggregate, 1-row output."""
    od = T(spark, sf_dir, "orders")
    daily = od.groupBy(F.to_date("o_orderdate").alias("d")).agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    g = daily.groupBy(F.dayofweek("d").alias("dow")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_g"),
        F.sum("c").cast("bigint").alias("s_g"),
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("ss_g"),
    )
    # s_g²/n_g is not an integer, so each group's term is floored to a
    # ×1e6 bigint BEFORE the 7-term sum (the dsum discipline at the
    # group grain); SS_total stays in exact integers until one division
    wall = Window.partitionBy()
    terms = g.select(
        "n_g",
        "s_g",
        "ss_g",
        F.sum("n_g").over(wall).alias("n"),
        F.sum("s_g").over(wall).alias("sx"),
        F.sum("ss_g").over(wall).alias("sxx"),
        F.floor(
            (F.col("s_g") * F.col("s_g")).cast("double")
            / F.col("n_g").cast("double")
            * F.lit(1000000.0)
        )
        .cast("bigint")
        .alias("bg6"),
    )
    agg = terms.groupBy("n", "sx", "sxx").agg(
        F.sum("bg6").cast("bigint").alias("bg6_sum")
    )
    sst = F.col("sxx").cast("double") - (
        F.col("sx") * F.col("sx")
    ).cast("double") / F.col("n").cast("double")
    ssb = F.col("bg6_sum").cast("double") / F.lit(1000000.0) - (
        F.col("sx") * F.col("sx")
    ).cast("double") / F.col("n").cast("double")
    return agg.select(
        F.col("n").alias("n_days"),
        pround(sst, 4).alias("ss_total"),
        pround(ssb, 4).alias("ss_between_dow"),
        pround(ssb / sst, 6).alias("eta_squared"),
    )


@q("q_mann_kendall")
def q_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NONPARAMETRIC TREND TEST (Mann-Kendall) on the daily revenue
    series — the monotone-trend detector that needs no distributional
    assumption and shrugs at outliers, completing the temporal
    monitoring set (CUSUM finds level shifts, SPRT monitors a rate,
    this asks "is the series drifting at all?"): S = Σ_{i<j}
    sign(y_j − y_i) over all day pairs (exact integer — ties
    contribute 0), variance n(n−1)(2n+5)/18 with the tie correction
    Σ t(t−1)(2t+5)/18 over tied-value groups, and the
    continuity-corrected z.  Scale shape: data grain collapses to
    days FIRST; the pair frame is day-grain² (~2.9M comparisons at
    2.4k days — bounded by the calendar, not the data; the documented
    bounded-grain exemption), tie groups one aggregation."""
    od = T(spark, sf_dir, "orders")
    daily = cut_lineage(
        od.groupBy(F.to_date("o_orderdate").alias("d")).agg(
            F.sum(
                F.floor(
                    F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5)
                )
            )
            .cast("bigint")
            .alias("y")
        )
    )
    a = daily.select(
        F.col("d").alias("di"), F.col("y").alias("yi")
    )
    b = daily.select(
        F.col("d").alias("dj"), F.col("y").alias("yj")
    )
    pairs = a.join(b, F.col("di") < F.col("dj"))
    sagg = pairs.agg(
        F.sum(F.signum(F.col("yj") - F.col("yi")).cast("bigint"))
        .cast("bigint")
        .alias("s")
    )
    ties = (
        daily.groupBy("y")
        .agg(F.count(F.lit(1)).cast("bigint").alias("t"))
        .filter(F.col("t") > 1)
        .agg(
            F.coalesce(
                F.sum(
                    F.col("t")
                    * (F.col("t") - 1)
                    * (2 * F.col("t") + 5)
                ),
                F.lit(0),
            )
            .cast("bigint")
            .alias("tie_term")
        )
    )
    n = daily.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    out = sagg.crossJoin(F.broadcast(ties)).crossJoin(F.broadcast(n))
    var = (
        F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5)
        - F.col("tie_term")
    ).cast("double") / F.lit(18.0)
    z = F.when(
        F.col("s") > 0, (F.col("s") - 1).cast("double") / F.sqrt(var)
    ).when(
        F.col("s") < 0, (F.col("s") + 1).cast("double") / F.sqrt(var)
    ).otherwise(F.lit(0.0))
    return out.select(
        "n",
        "s",
        "tie_term",
        pround(z, 6).alias("z"),
        (F.abs(z) > F.lit(1.959964)).cast("int").alias(
            "trend_at_95pct"
        ),
    )


@q("q_sax_symbolic")
def q_sax_symbolic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME-SERIES INDEXING: SAX (Symbolic Aggregate approXimation,
    Lin/Keogh 2003) of the daily revenue series — the dimensionality
    reduction that turns a 2.4k-point series into an 8-letter word so
    similarity search over millions of series becomes string matching:
    PAA (piecewise aggregate approximation — mean per eighth of the
    date range), z-scored against the series' own mean/σ, quantized to
    {a,b,c,d} at the standard-normal quartile breakpoints ±0.6745
    (fixed repr-exact literals).  Float discipline: PAA and the global
    moments come from exact integer cents sums; z and the letter
    comparisons are single divisions against pinned literals.  Scale
    shape: data grain collapses to days, days to 8 segments, the
    global moments broadcast as a 1-row scalar."""
    od = T(spark, sf_dir, "orders")
    daily = od.groupBy(F.to_date("o_orderdate").alias("d")).agg(
        F.sum(
            F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5))
        )
        .cast("bigint")
        .alias("cents")
    )
    bounds = daily.agg(
        F.min("d").alias("d0"),
        F.datediff(F.max("d"), F.min("d")).alias("span"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("cents").cast("bigint").alias("sx"),
        # per-row product and the sum both in DECIMAL(38,0): daily
        # cents² exceeds bigint at 10x volume (the sweep would overflow
        # an integer accumulator)
        F.sum(
            F.col("cents").cast("decimal(38,0)")
            * F.col("cents").cast("decimal(38,0)")
        )
        .cast("decimal(38,0)")
        .alias("sxx"),
    )
    seg = daily.crossJoin(F.broadcast(bounds)).select(
        F.least(
            F.expr("CAST(datediff(d, d0) * 8 div (span + 1) AS INT)"),
            F.lit(7),
        ).alias("segment"),
        "cents",
        "n",
        "sx",
        "sxx",
    )
    g = seg.groupBy("segment", "n", "sx", "sxx").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.sum("cents").cast("bigint").alias("seg_cents"),
    )
    mean = F.col("sx").cast("double") / F.col("n").cast("double")
    var = (
        F.col("n").cast("decimal(38,0)") * F.col("sxx")
        - F.col("sx").cast("decimal(38,0)")
        * F.col("sx").cast("decimal(38,0)")
    ).cast("double") / (
        F.col("n") * (F.col("n") - 1)
    ).cast("double")
    paa = F.col("seg_cents").cast("double") / F.col("n_days").cast(
        "double"
    )
    z = (paa - mean) / F.sqrt(var)
    sym = (
        F.when(z < F.lit(-0.6745), F.lit("a"))
        .when(z < F.lit(0.0), F.lit("b"))
        .when(z < F.lit(0.6745), F.lit("c"))
        .otherwise(F.lit("d"))
    )
    return g.select(
        "segment",
        "n_days",
        pround(paa / F.lit(100.0), 4).alias("paa_revenue"),
        pround(z, 6).alias("z"),
        sym.alias("symbol"),
    )


@q("q_ewma_daily")
def q_ewma_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA smoothing of the daily revenue series with EXACT integer
    weights — the monitoring/forecasting primitive (EWMA control
    charts, demand smoothing) made hash-checkable: α = 1/4 gives
    dyadic-rational weights, so the 8-tap truncated kernel
    w_k ∝ (3/4)^k scales to the exact integers W_k = 3^k·4^(7−k)
    (>97% of the infinite kernel's mass).  Numerator and denominator
    accumulate as exact bigints over lag() taps (missing leading taps
    excluded from BOTH, the standard adjusted-EWMA warm-up), and the
    smoothed value is one pinned division — no recursive float state,
    no summation-order caveat.  The window runs on the bounded DAY
    grain (~2.4k rows — the documented bounded-grain exemption); the
    only data-grain operation is the daily aggregation."""
    from functools import reduce

    wts = [3**k * 4 ** (7 - k) for k in range(8)]
    od = T(spark, sf_dir, "orders")
    daily = od.groupBy(F.to_date("o_orderdate").alias("d")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(
            F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5))
        )
        .cast("bigint")
        .alias("cents"),
    )
    w = Window.orderBy("d")
    num = reduce(
        lambda a, b: a + b,
        [
            F.coalesce(F.lag("cents", k).over(w), F.lit(0)) * F.lit(wk)
            for k, wk in enumerate(wts)
        ],
    )
    den = reduce(
        lambda a, b: a + b,
        [
            F.when(F.lag("cents", k).over(w).isNotNull(), F.lit(wk))
            .otherwise(F.lit(0))
            for k, wk in enumerate(wts)
        ],
    )
    return daily.select(
        "d",
        "n_orders",
        (F.col("cents") / F.lit(100.0)).alias("revenue"),
        pround(
            num.cast("double") / den.cast("double") / F.lit(100.0), 4
        ).alias("ewma_revenue"),
    )


@q("q_cusum_changepoint")
def q_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monitoring / changepoint scan: CUSUM of the daily order-revenue
    series, EXACT in scaled integers — dev_k = cents_k·N − S (the
    deviation from the mean, cleared of division), cusum_k = Σ_{i≤k}
    dev_i, and the candidate changepoint is the argmax of |cusum|.  All
    bigint until the final display division, so the running sum is
    order-free and hash-exact.  The day-grain series (~thousands of rows
    at any SF) is the ONLY input to the ordered window — fact-grain rows
    never see an unpartitioned window, per the SCALING.md grain rule."""
    od = T(spark, sf_dir, "orders")
    daily = (
        od.groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(
            F.sum(
                F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5))
            ).alias("cents")
        )
    )
    # S, N, and the peak arg-max are all full-frame window aggregates
    # over the SAME day-grain series (which the ordered running sum puts
    # in one partition anyway — bounded grain, per the SCALING.md rule):
    # separate aggregate branches would each re-execute the orders scan,
    # DataFrame lineage not being a CTE.  One scan, one shuffle.
    wf = Window.partitionBy()
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    scored = (
        daily.select(
            "day",
            "cents",
            F.sum("cents").over(wf).alias("S"),
            F.count(F.lit(1)).over(wf).alias("N"),
        )
        .withColumn("__dev", F.col("cents") * F.col("N") - F.col("S"))
        .withColumn("cusum_scaled", F.sum("__dev").over(w))
    )
    peak = F.max(
        F.struct(
            F.abs(F.col("cusum_scaled")).alias("a"),
            F.col("day").alias("d"),
        )
    ).over(Window.partitionBy())
    return scored.select(
        "day",
        (F.col("cents") / F.lit(100.0)).alias("revenue"),
        "cusum_scaled",
        (F.col("day") == peak.getField("d")).cast("int").alias("is_peak"),
    )


@q("q_exp_smoothing")
def q_exp_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series smoothing: 12-term truncated exponential moving
    average of monthly revenue (w_k = 0.7^k, renormalized over the lags
    that exist near the series start).  True recursive EMA is a
    sequential fold Spark can't parallelize; the truncated FIR form is
    the scale-correct equivalent (12 explicit ``lag`` terms over the
    BOUNDED month grain, summed in one declared left-to-right fold — so
    the float arithmetic is fixed-order and the oracle evaluates the
    identical expression).  The FIR form IS the declared operator: the
    truncated tail carries 0.7^12 ≈ 1.4% of the weight mass — small but
    not negligible on revenue-scale values, so this is a 12-month
    exponentially-weighted average, not a 4dp-equivalent of the
    unbounded recursion; the pin guarantees cross-engine identity of
    THIS operator."""
    od = T(spark, sf_dir, "orders")
    monthly = (
        od.groupBy(F.trunc(F.to_date("o_orderdate"), "month").alias("m"))
        .agg(
            F.sum(
                F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5))
            ).alias("__cents")
        )
    )
    w = Window.orderBy("m")
    x = (F.col("__cents") / F.lit(100.0))
    base = monthly.withColumn("revenue", x)
    num = None
    den = None
    for k in range(12):
        wk = F.lit(0.7**k)
        lk = F.lag("revenue", k).over(w) if k else F.col("revenue")
        term = F.when(lk.isNotNull(), wk * lk).otherwise(F.lit(0.0))
        avail = F.when(lk.isNotNull(), wk).otherwise(F.lit(0.0))
        num = term if num is None else num + term
        den = avail if den is None else den + avail
    return base.select(
        "m", "revenue", pround(num / den, 4).alias("smoothed")
    )


@q("q_decayed_engagement")
def q_decayed_engagement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency-weighted customer engagement with an EXACT half-life:
    score = Σ order_value·2^(−age/30d) — the time-decay scoring every
    engagement/churn feed wants, normally hopeless to hash-check because
    pow() and float summation order differ across engines.  Exactness
    trick: the decay base is 2, ages bucket to integers, so
    score·2^40 = Σ cents·2^(40−k) is PURE INTEGER arithmetic — weights
    come from a broadcast 41-row literal table shared with the oracle
    (functions/resample.dyadic_decay_weights), products stay DECIMAL(38)
    exact, the integer sum is partition-order-free, and the one float
    step divides by the exactly-representable double 2^40.  Ages beyond
    40 buckets truncate (weight < 2^−40 — the declared-truncation
    contract of the FIR exp_smoothing).  Reference date pinned, never
    now()."""
    from .functions.resample import DYADIC_KMAX_DIVISOR, dyadic_decay_weights

    od = T(spark, sf_dir, "orders").select(
        "o_custkey",
        F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5))
        .cast("bigint")
        .alias("cents"),
        F.floor(
            F.datediff(
                F.lit("1998-08-02").cast("date"),
                F.to_date("o_orderdate"),
            )
            / F.lit(30.0)
        )
        .cast("int")
        .alias("k"),
    ).filter(F.col("k") <= 40)
    wt = spark.createDataFrame(
        dyadic_decay_weights(), "k int, wt bigint"
    )
    scored = od.join(F.broadcast(wt), "k")
    d19 = lambda c: F.col(c).cast("decimal(19,0)")  # noqa: E731
    return (
        scored.groupBy("o_custkey")
        .agg(
            F.sum(d19("cents") * d19("wt"))
            .cast("decimal(38,0)")
            .alias("__s"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .select(
            "o_custkey",
            "n_orders",
            pround(
                F.col("__s").cast("double")
                / F.lit(DYADIC_KMAX_DIVISOR)
                / F.lit(100.0),
                6,
            ).alias("decayed_value"),
        )
    )


@q("q_survival_km")
def q_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival curve of customer lifetime: the churn event
    is a customer's LAST order month (customers still ordering near the
    fixture horizon are censored at the 1998-06-01 cutoff, so every
    censor time is the same and the risk set is simply N − churned-so-
    far).  d and the risk set stay exact bigints; the survival product
    Π(1 − d/risk) runs as a windowed ``product`` over the BOUNDED month
    grain (~80 rows) in frame order, pinned at 6dp — the curve a
    retention team reads straight off."""
    od = T(spark, sf_dir, "orders")
    last = od.groupBy("o_custkey").agg(
        F.max(F.to_date("o_orderdate")).alias("last_d")
    )
    cutoff = F.lit("1998-06-01").cast("date")
    n_total = last.agg(F.count(F.lit(1)).alias("N"))
    d = (
        last.filter(F.col("last_d") < cutoff)
        .groupBy(F.trunc("last_d", "month").alias("m"))
        .agg(F.count(F.lit(1)).alias("d"))
    )
    w_prev = Window.orderBy("m").rowsBetween(Window.unboundedPreceding, -1)
    w_cum = Window.orderBy("m").rowsBetween(Window.unboundedPreceding, 0)
    s = (
        d.crossJoin(F.broadcast(n_total))
        .withColumn(
            "risk",
            F.col("N") - F.coalesce(F.sum("d").over(w_prev), F.lit(0)),
        )
        .withColumn(
            "__factor",
            (F.col("risk") - F.col("d")) / F.col("risk").cast("double"),
        )
    )
    return s.select(
        "m",
        "d",
        "risk",
        pround(F.product("__factor").over(w_cum), 6).alias("survival"),
    )


@q("q_yoy_growth")
def q_yoy_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year growth per nation: lag the yearly revenue series
    within each nation (one shuffle on the aggregate), growth ratio
    pinned.  First year per nation (no prior) is excluded."""
    od = T(spark, sf_dir, "orders")
    cu = T(spark, sf_dir, "customer")
    na = T(spark, sf_dir, "nation")
    rev = (
        od.join(cu, od.o_custkey == cu.c_custkey)
        .join(F.broadcast(na), cu.c_nationkey == na.n_nationkey)
        .groupBy("n_name", F.year("o_orderdate").alias("yr"))
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev_d")
        )
    )
    w = Window.partitionBy("n_name").orderBy("yr")
    prev = F.lag(F.col("rev_d")).over(w)
    return (
        rev.withColumn("prev_d", prev)
        .filter(F.col("prev_d").isNotNull())
        .select(
            "n_name",
            "yr",
            F.col("rev_d").cast("double").alias("revenue"),
            pround(
                (F.col("rev_d").cast("double") - F.col("prev_d").cast("double"))
                / F.col("prev_d").cast("double"),
                6,
            ).alias("yoy_growth"),
        )
    )


@q("q_contamination_check")
def q_contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-contamination audit: how many non-train documents share a
    content hash with the train split (the check every training pipeline
    runs before shipping an eval set).  Train hashes are a semi-join
    probe; one summary row so the metric is monitorable."""
    docs = T(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("bigint") % 100
    )
    hashed = docs.select(
        "doc_id",
        F.sha2(F.col("text"), 256).alias("hash"),
        F.when(bucket < 80, "train").otherwise("heldout").alias("split"),
    )
    train_hashes = hashed.filter(F.col("split") == "train").select("hash")
    held = hashed.filter(F.col("split") == "heldout")
    contaminated = held.join(train_hashes, "hash", "left_semi")
    return held.agg(F.count(F.lit(1)).alias("n_heldout")).crossJoin(
        contaminated.agg(F.count(F.lit(1)).alias("n_contaminated"))
    )


@q("q_kanonymity_audit")
def q_kanonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Governance audit: k-anonymity of the masked customer table — for
    the quasi-identifier (nation, balance bucket), how many equivalence
    classes fall below k=5 and how many individuals they expose.  Two
    tiny aggregations over the generalized keys."""
    cu = T(spark, sf_dir, "customer")
    klass = cu.groupBy(
        F.col("c_nationkey").alias("qi_nation"),
        (F.floor(F.col("c_acctbal") / 1000.0) * 1000).cast("int").alias(
            "qi_bucket"
        ),
    ).agg(F.count(F.lit(1)).alias("class_size"))
    return klass.agg(
        F.count(F.lit(1)).alias("n_classes"),
        F.sum(F.when(F.col("class_size") < 5, 1).otherwise(0)).alias(
            "n_small_classes"
        ),
        F.sum(
            F.when(F.col("class_size") < 5, F.col("class_size")).otherwise(0)
        ).alias("n_exposed"),
    )


@q("q_ldiversity_audit")
def q_ldiversity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Governance audit: distinct-l-diversity (Machanavajjhala et al.
    2007; public) — k-anonymity's blind spot is a class whose members all
    share the SENSITIVE value (size-k but zero diversity), so per
    quasi-identifier class we count distinct market segments and flag
    classes below l=3.  Same (nation, balance-bucket) QI as
    q_kanonymity_audit; bounded class-grain aggregation."""
    cu = T(spark, sf_dir, "customer")
    return (
        cu.groupBy(
            F.col("c_nationkey").alias("qi_nation"),
            (F.floor(F.col("c_acctbal") / 1000.0) * 1000)
            .cast("int")
            .alias("qi_bucket"),
        )
        .agg(
            F.count(F.lit(1)).alias("class_size"),
            F.countDistinct("c_mktsegment").alias("n_sensitive"),
        )
        .withColumn(
            "meets_l", F.when(F.col("n_sensitive") >= 3, 1).otherwise(0)
        )
    )


@q("q_tcloseness_audit")
def q_tcloseness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Governance audit: t-closeness (Li, Li & Venkatasubramanian, ICDE
    2007; public) — even a diverse class leaks if its sensitive-value
    DISTRIBUTION deviates from the table's (skewness attack), so per QI
    class we compute the total-variation distance to the global market-
    segment distribution.  All arithmetic stays in exact integers until
    the one final division: TVD = [Σ_present |cnt·T − g·cs| +
    (T − Σ_present g)·cs] / (2·cs·T) — integer sums are order-free, so
    the result is reproducible under any partitioning (a naive double
    Σ|p_c − p_g| would be summation-order-sensitive).  The absent-
    segment mass folds in via the complement term.  Class-grain frames
    throughout; the 5-row global distribution broadcasts."""
    cu = T(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("qi_nation"),
        (F.floor(F.col("c_acctbal") / 1000.0) * 1000)
        .cast("int")
        .alias("qi_bucket"),
        "c_mktsegment",
    )
    # ONE scan to class-by-segment grain; class sizes, the global
    # distribution, and the total are all re-aggregations of that tiny
    # frame — a large customer table is read once, not four times
    present = cut_lineage(
        cu.groupBy("qi_nation", "qi_bucket", "c_mktsegment").agg(
            F.count(F.lit(1)).alias("cnt")
        ),
        eager=False,
    )
    cls = present.groupBy("qi_nation", "qi_bucket").agg(
        F.sum("cnt").alias("cs")
    )
    glob = present.groupBy("c_mktsegment").agg(F.sum("cnt").alias("g"))
    total = glob.agg(F.sum("g").alias("T"))
    parts = (
        present.join(F.broadcast(glob), "c_mktsegment")
        .join(F.broadcast(cls), ["qi_nation", "qi_bucket"])
        .crossJoin(F.broadcast(total))
        .groupBy("qi_nation", "qi_bucket", "cs", "T")
        .agg(
            F.sum(
                F.abs(F.col("cnt") * F.col("T") - F.col("g") * F.col("cs"))
            ).alias("num_present"),
            F.sum("g").alias("g_present"),
        )
    )
    num_total = F.col("num_present") + (
        F.col("T") - F.col("g_present")
    ) * F.col("cs")
    return parts.select(
        "qi_nation",
        "qi_bucket",
        F.col("cs").alias("class_size"),
        pround(
            num_total.cast("double")
            / (F.lit(2.0) * F.col("cs") * F.col("T")),
            6,
        ).alias("tvd"),
        # breaches t=0.2 in exact integers: num_total/(2·cs·T) > 1/5
        F.when(
            F.lit(5) * num_total > F.lit(2) * F.col("cs") * F.col("T"), 1
        )
        .otherwise(0)
        .alias("breaches_t"),
    )


@q("q_dedup_keep_best")
def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L1 refinement: within each exact-duplicate group keep the BEST copy
    (highest quality score, doc_id tie-break), not the arbitrary first —
    the curation policy that preserves the cleanest instance of repeated
    content.  One window over the hash partition; quality is the shared
    heuristic from q_text_quality."""
    docs = T(spark, sf_dir, "documents").withColumn("__toks", tokens("text"))
    scored = docs.select(
        "doc_id",
        F.sha2(F.col("text"), 256).alias("hash"),
        quality_score("text", F.col("__toks")).alias("q"),
    )
    w = Window.partitionBy("hash").orderBy(
        F.col("q").desc(), F.col("doc_id").asc()
    )
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("doc_id", "hash")
    )


@q("q_langid_confusion")
def q_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-evaluation surface: confusion matrix of the stopword
    language-ID heuristic against the labeled ``lang`` column, with
    per-cell counts — the lang_id expression inlined next to the label so
    the corpus scans ONCE (joining the declared q_lang_id back to the
    table would scan twice)."""
    docs = T(spark, sf_dir, "documents").withColumn("__toks", tokens("text"))
    toks = F.col("__toks")
    en = stopword_count_of(toks, STOPWORDS_EN)
    pt = stopword_count_of(toks, ("de", "a", "o", "que", "e", "do", "da", "em", "um", "para"))
    es = stopword_count_of(toks, ("de", "la", "que", "el", "en", "y", "a", "los", "se", "del"))
    pred = (
        F.when((en >= pt) & (en >= es), "en")
        .when(pt >= es, "pt")
        .otherwise("es")
    )
    return (
        docs.groupBy(F.col("lang").alias("lang_true"), pred.alias("lang_pred"))
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


@q("q_churn_labels")
def q_churn_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHURN-RISK label generation — the supervised-dataset builder
    upstream of every churn model: pivot at 80% of the event-time span
    (integer epoch arithmetic, the q_temporal_split discipline), a user
    is LABELABLE if they have ≥1 pre-pivot event, and labeled CHURNING
    if their post-pivot event RATE fell below the pre-pivot rate —
    exactly, post/0.2 < pre/0.8 ⟺ 4·post_events < pre_events, an
    integer cross-multiplication, no division.  (The absolute-absence
    definition — zero post-pivot events — is the production variant for
    sparse-activity products, but this fixture's users average ~65
    events each, so absence never occurs and would yield a degenerate
    single-class output; the rate-decline label is the standard
    alternative for high-frequency products and both classes
    materialize at every SF.)  Features (event count, active days,
    spend cents) come strictly from the PRE period so the label never
    leaks into them — the mistake this op exists to prevent.  Output
    per label: cohort size and pinned feature means — the
    class-balance + feature-shift readout a training run sanity-checks
    before fitting.  Scale shape: one min/max scan, one shuffle to the
    user grain with conditional aggregates, then a 2-row summary."""
    ev = T(spark, sf_dir, "events").select(
        "user_id",
        F.col("ts").cast("long").alias("s"),
        F.to_date("ts").alias("d"),
        F.expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").alias("c"),
    )
    bounds = ev.agg(
        F.min("s").alias("mn"), F.max("s").alias("mx")
    ).select(F.expr("mn + ((mx - mn) * 8) div 10").alias("b"))
    per_user = (
        ev.join(F.broadcast(bounds))
        .groupBy("user_id")
        .agg(
            F.sum(F.when(F.col("s") < F.col("b"), 1).otherwise(0))
            .cast("bigint")
            .alias("pre_events"),
            F.countDistinct(
                F.when(F.col("s") < F.col("b"), F.col("d"))
            )
            .cast("bigint")
            .alias("pre_days"),
            F.sum(
                F.when(F.col("s") < F.col("b"), F.col("c")).otherwise(0)
            )
            .cast("bigint")
            .alias("pre_cents"),
            F.sum(F.when(F.col("s") >= F.col("b"), 1).otherwise(0))
            .cast("bigint")
            .alias("post_events"),
        )
        .filter(F.col("pre_events") > 0)
    )
    lab = F.when(
        F.lit(4) * F.col("post_events") < F.col("pre_events"), "churning"
    ).otherwise("stable")
    g = per_user.groupBy(lab.alias("label")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum("pre_events").cast("bigint").alias("sum_events"),
        F.sum("pre_days").cast("bigint").alias("sum_days"),
        F.sum("pre_cents").cast("bigint").alias("sum_cents"),
    )
    nd = F.col("n_users").cast("double")
    return g.select(
        "label",
        "n_users",
        pround(F.col("sum_events").cast("double") / nd, 6).alias(
            "avg_pre_events"
        ),
        pround(F.col("sum_days").cast("double") / nd, 6).alias(
            "avg_pre_days"
        ),
        pround(F.col("sum_cents").cast("double") / nd, 6).alias(
            "avg_pre_cents"
        ),
    ).orderBy("label")


@q("q_vocab_coverage_curve")
def q_vocab_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VOCABULARY coverage curve — the sizing question upstream of
    q_oov_rate's transfer diagnostic: what fraction of corpus token
    MASS does a top-k vocabulary cover, at k ∈ {100, 1000, 10000}?
    The Zipf head means the curve saturates fast, and where it crosses
    ~99.5% is the vocab size every tokenizer budget debate converges
    on.  One token-frequency aggregate (vocab grain, bounded), a dense
    rank by (freq desc, token asc), the cumulative mass at each cut —
    all exact integers, coverage as the one pinned division per row.
    The rank/cumsum run at the VOCAB grain (tens of thousands of rows),
    never the corpus grain, so the single-partition window is the
    bounded-domain exception the rank discipline allows — documented,
    not accidental.  Output: one row per cut."""
    tk = (
        T(spark, sf_dir, "documents")
        .filter(F.trim(F.col("text")) != "")
        .select(F.explode(tokens("text")).alias("token"))
    )
    freq = tk.groupBy("token").agg(
        F.count(F.lit(1)).cast("bigint").alias("f")
    )
    w = Window.orderBy(F.desc("f"), F.asc("token"))
    ranked = freq.select(
        "f",
        F.row_number().over(w).alias("r"),
        F.sum("f").over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ).alias("cum"),
    )
    tot = freq.agg(
        F.sum("f").cast("bigint").alias("total_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("vocab_size"),
    )
    cuts = None
    for k in (100, 1000, 10000):
        row = (
            ranked.filter(F.col("r") <= k)
            .agg(
                F.lit(k).cast("int").alias("k"),
                F.count(F.lit(1)).cast("bigint").alias("vocab_tokens"),
                F.max("cum").cast("bigint").alias("covered_tokens"),
            )
        )
        cuts = row if cuts is None else cuts.unionAll(row)
    return (
        cuts.join(F.broadcast(tot))
        .select(
            "k",
            "vocab_tokens",
            "covered_tokens",
            "total_tokens",
            "vocab_size",
            pround(
                F.col("covered_tokens").cast("double")
                / F.col("total_tokens").cast("double"),
                6,
            ).alias("coverage"),
        )
        .orderBy("k")
    )


@q("q_oov_rate")
def q_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-vocabulary OOV diagnostic: fix the vocabulary at the
    corpus top-1000 tokens by total frequency (deterministic token
    tie-break) and report each source's out-of-vocabulary token rate —
    the number that decides whether a tokenizer/vocab transfers to a
    new data source or needs retraining (a source with 30% OOV will
    fragment into bytes and inflate sequence lengths).  Exact integer
    token counts, one pinned division per source.  Scale shape: one
    token explode (shared, lineage-cut), a frequency shuffle with
    map-side combine, a top-1000 TakeOrderedAndProject, then a
    BROADCAST anti-membership join of the token stream against the
    1000-row vocab — the corpus-side scan never shuffles on token a
    second time."""
    tk = cut_lineage(
        T(spark, sf_dir, "documents")
        .filter(F.trim(F.col("text")) != "")
        .select("source", F.explode(tokens("text")).alias("token"))
    )
    vocab = (
        tk.groupBy("token")
        .agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
        .orderBy(F.desc("freq"), F.asc("token"))
        .limit(1000)
        .select("token", F.lit(1).alias("__in_vocab"))
    )
    joined = tk.join(F.broadcast(vocab), "token", "left")
    g = joined.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
        F.sum(F.when(F.col("__in_vocab").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_oov"),
    )
    return g.select(
        "source",
        "n_tokens",
        "n_oov",
        pround(
            F.col("n_oov").cast("double")
            / F.col("n_tokens").cast("double"),
            6,
        ).alias("oov_rate"),
    ).orderBy("source")


@q("q_class_prf1")
def q_class_prf1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class PRECISION / RECALL / F1 of the lang-ID heuristic
    against the labels — the standard multi-class eval card next to the
    confusion matrix (q_langid_confusion) and the chance-corrected
    agreement (q_cohens_kappa): per class, tp from the diagonal, fp
    from its predicted column, fn from its true row, then P = tp/(tp+fp),
    R = tp/(tp+fn), and F1 in the division-stable form 2tp/(2tp+fp+fn)
    (never P·R/(P+R), which double-rounds) — every ratio a pinned
    division of exact integer counts, NULL where a class was never
    predicted / never true (honest undefined, not 0).  Scale shape: one
    shuffle to the ≤9-cell confusion grain, then arithmetic on that
    tiny frame — corpus-size-invariant."""
    docs = T(spark, sf_dir, "documents").withColumn(
        "__toks", tokens("text")
    )
    toks = F.col("__toks")
    en = stopword_count_of(toks, STOPWORDS_EN)
    pt = stopword_count_of(
        toks, ("de", "a", "o", "que", "e", "do", "da", "em", "um", "para")
    )
    es = stopword_count_of(
        toks, ("de", "la", "que", "el", "en", "y", "a", "los", "se", "del")
    )
    pred = (
        F.when((en >= pt) & (en >= es), "en")
        .when(pt >= es, "pt")
        .otherwise("es")
    )
    cm = cut_lineage(
        docs.groupBy(F.col("lang").alias("t"), pred.alias("p")).agg(
            F.count(F.lit(1)).cast("bigint").alias("c")
        )
    )
    classes = (
        cm.select(F.col("t").alias("cls"))
        .union(cm.select(F.col("p").alias("cls")))
        .distinct()
    )
    tp = cm.filter(F.col("t") == F.col("p")).select(
        F.col("t").alias("cls"), F.col("c").alias("tp")
    )
    pred_tot = cm.groupBy(F.col("p").alias("cls")).agg(
        F.sum("c").cast("bigint").alias("pred_n")
    )
    true_tot = cm.groupBy(F.col("t").alias("cls")).agg(
        F.sum("c").cast("bigint").alias("true_n")
    )
    j = (
        classes.join(tp, "cls", "left")
        .join(pred_tot, "cls", "left")
        .join(true_tot, "cls", "left")
        .select(
            "cls",
            F.coalesce("tp", F.lit(0)).cast("bigint").alias("tp"),
            (F.coalesce("pred_n", F.lit(0)) - F.coalesce("tp", F.lit(0)))
            .cast("bigint")
            .alias("fp"),
            (F.coalesce("true_n", F.lit(0)) - F.coalesce("tp", F.lit(0)))
            .cast("bigint")
            .alias("fn"),
        )
    )
    tpd = F.col("tp").cast("double")
    prec = F.when(
        F.col("tp") + F.col("fp") > 0,
        tpd / (F.col("tp") + F.col("fp")).cast("double"),
    )
    rec = F.when(
        F.col("tp") + F.col("fn") > 0,
        tpd / (F.col("tp") + F.col("fn")).cast("double"),
    )
    f1 = F.when(
        F.lit(2) * F.col("tp") + F.col("fp") + F.col("fn") > 0,
        (F.lit(2.0) * tpd)
        / (F.lit(2) * F.col("tp") + F.col("fp") + F.col("fn")).cast(
            "double"
        ),
    )
    return j.select(
        "cls",
        "tp",
        "fp",
        "fn",
        pround(prec, 6).alias("precision"),
        pround(rec, 6).alias("recall"),
        pround(f1, 6).alias("f1"),
    ).orderBy("cls")


@q("q_cohens_kappa")
def q_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-rater agreement — Cohen's κ [Cohen 1960] between the
    stopword language-ID heuristic and the labeled ``lang`` column: the
    chance-corrected statistic the raw accuracy in q_langid_confusion
    can't give (a degenerate classifier that always answers the
    majority class scores high accuracy but κ≈0).  κ = (p_o − p_e) /
    (1 − p_e) with p_o = observed agreement and p_e = Σ_c
    P(true=c)·P(pred=c), all from ONE confusion-matrix aggregate —
    exact integer cell counts, the two probabilities and κ as pinned
    fixed-order divisions.  Works on the cross-multiplied integer form
    (n·Σ_agree − Σ_c r_c·p_c over n² − Σ_c r_c·p_c) so both numerator
    and denominator are exact int64 before the ONE division.  Scale
    shape: one shuffle to the (true, pred) grain (≤9 cells), arithmetic
    on that tiny frame."""
    docs = T(spark, sf_dir, "documents").withColumn(
        "__toks", tokens("text")
    )
    toks = F.col("__toks")
    en = stopword_count_of(toks, STOPWORDS_EN)
    pt = stopword_count_of(
        toks, ("de", "a", "o", "que", "e", "do", "da", "em", "um", "para")
    )
    es = stopword_count_of(
        toks, ("de", "la", "que", "el", "en", "y", "a", "los", "se", "del")
    )
    pred = (
        F.when((en >= pt) & (en >= es), "en")
        .when(pt >= es, "pt")
        .otherwise("es")
    )
    cm = cut_lineage(
        docs.groupBy(
            F.col("lang").alias("t"), pred.alias("p")
        ).agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    margins = cm.groupBy().agg(
        F.sum("c").cast("bigint").alias("n"),
        F.sum(F.when(F.col("t") == F.col("p"), F.col("c")).otherwise(0))
        .cast("bigint")
        .alias("agree"),
    )
    rp = (
        cm.groupBy("t")
        .agg(F.sum("c").cast("bigint").alias("r"))
        .join(
            cm.groupBy("p").agg(F.sum("c").cast("bigint").alias("pc")),
            F.col("t") == F.col("p"),
            "full",
        )
        .select(
            (F.coalesce("r", F.lit(0)) * F.coalesce("pc", F.lit(0))).alias(
                "rp"
            )
        )
        .agg(F.sum("rp").cast("bigint").alias("sum_rp"))
    )
    j = margins.join(F.broadcast(rp))
    num = (F.col("n") * F.col("agree") - F.col("sum_rp")).cast("double")
    den = (F.col("n") * F.col("n") - F.col("sum_rp")).cast("double")
    return j.select(
        "n",
        "agree",
        pround(
            F.col("agree").cast("double") / F.col("n").cast("double"), 6
        ).alias("p_observed"),
        pround(
            F.col("sum_rp").cast("double")
            / (F.col("n") * F.col("n")).cast("double"),
            6,
        ).alias("p_expected"),
        pround(num / den, 6).alias("kappa"),
    )


@q("q_ttest_welch")
def q_ttest_welch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance two-sample t statistic PER customer
    segment: do urgent orders (priority 1-2) carry a different mean
    value than routine ones, segment by segment — the grouped
    continuous-metric companion to q_abtest_zscore (global, z) with the
    Welch-Satterthwaite df reported alongside.  One pass: both arms'
    (n, Σx, Σx²) come from conditional sums in a single grouped
    aggregate over exact DECIMAL(18,2) values (no second scan, no
    pivot); every float expression is fixed-order IEEE on those
    identical exact sums, pround-pinned."""
    od = T(spark, sf_dir, "orders")
    cu = T(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"),
        F.col("c_mktsegment").alias("segment"),
    )
    urgent = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    d = F.col("o_totalprice").cast("decimal(18,2)")
    g = (
        od.join(cu, "o_custkey")
        .groupBy("segment")
        .agg(
            F.sum(F.when(urgent, 1).otherwise(0)).cast("double").alias("na"),
            F.sum(F.when(urgent, d)).cast("double").alias("sxa"),
            F.sum(F.when(urgent, d * d)).cast("double").alias("sxxa"),
            F.sum(F.when(~urgent, 1).otherwise(0)).cast("double").alias("nb"),
            F.sum(F.when(~urgent, d)).cast("double").alias("sxb"),
            F.sum(F.when(~urgent, d * d)).cast("double").alias("sxxb"),
        )
        .withColumn("mean_a", F.col("sxa") / F.col("na"))
        .withColumn("mean_b", F.col("sxb") / F.col("nb"))
        .withColumn(
            "var_a",
            (F.col("sxxa") - F.col("sxa") * F.col("sxa") / F.col("na"))
            / (F.col("na") - F.lit(1.0)),
        )
        .withColumn(
            "var_b",
            (F.col("sxxb") - F.col("sxb") * F.col("sxb") / F.col("nb"))
            / (F.col("nb") - F.lit(1.0)),
        )
        .withColumn("sea", F.col("var_a") / F.col("na"))
        .withColumn("seb", F.col("var_b") / F.col("nb"))
    )
    se2 = F.col("sea") + F.col("seb")
    t = (F.col("mean_a") - F.col("mean_b")) / F.sqrt(se2)
    df = (se2 * se2) / (
        F.col("sea") * F.col("sea") / (F.col("na") - F.lit(1.0))
        + F.col("seb") * F.col("seb") / (F.col("nb") - F.lit(1.0))
    )
    return g.select(
        "segment",
        F.col("na").cast("bigint").alias("n_urgent"),
        F.col("nb").cast("bigint").alias("n_routine"),
        pround(F.col("mean_a"), 6).alias("mean_urgent"),
        pround(F.col("mean_b"), 6).alias("mean_routine"),
        pround(t, 6).alias("t_stat"),
        pround(df, 6).alias("welch_df"),
    )


@q("q_conformal_interval")
def q_conformal_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTRIBUTION-FREE UNCERTAINTY — split conformal prediction
    [Vovk; Lei et al. 2018], the modern ML-serving guarantee: fit a
    point model on TRAIN (pre-1997 per-segment mean order value),
    take the conformal quantile q̂ = the ⌈(n+1)(1−α)⌉-th smallest
    absolute residual on the 1997 CALIBRATION year (exact integer
    cents, exact rank — no approximate quantile), and measure the
    claimed (1−α)=90% coverage on the 1998 HOLDOUT.  Everything is
    counts, integer cents, and exact ranks, so the guarantee check is
    engine-identical; coverage ≥ 88% is pinned in pytest (the finite-
    sample guarantee holds in expectation — exchangeability approx).
    Scale shape: three temporal slices of one table, one segment-grain
    model broadcast, one ordered rank per segment on the CALIBRATION
    slice only (windows partitioned by segment)."""
    od = T(spark, sf_dir, "orders")
    cu = T(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"),
        F.col("c_mktsegment").alias("segment"),
    )
    base = od.join(F.broadcast(cu), "o_custkey").select(
        "segment",
        F.year(F.to_date("o_orderdate")).alias("yr"),
        F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5))
        .cast("bigint")
        .alias("cents"),
    )
    model = (
        base.filter(F.col("yr") <= 1996)
        .groupBy("segment")
        .agg(
            F.expr("CAST(sum(cents) div count(*) AS BIGINT)").alias(
                "yhat"
            )
        )
    )
    calib = (
        base.filter(F.col("yr") == 1997)
        .join(F.broadcast(model), "segment")
        .select(
            "segment", F.abs(F.col("cents") - F.col("yhat")).alias("r")
        )
    )
    w = Window.partitionBy("segment").orderBy("r")
    ranked = calib.withColumn("rk", F.row_number().over(w)).withColumn(
        "n_cal",
        F.count(F.lit(1)).over(Window.partitionBy("segment")),
    )
    qhat = ranked.filter(
        F.col("rk")
        == F.ceil(
            (F.col("n_cal") + 1).cast("double") * F.lit(0.9)
        ).cast("bigint")
    ).select("segment", F.col("r").alias("qhat"), "n_cal")
    hold = (
        base.filter(F.col("yr") == 1998)
        .join(F.broadcast(model), "segment")
        .join(F.broadcast(qhat), "segment")
        .groupBy("segment", "yhat", "qhat", "n_cal")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_test"),
            F.sum(
                F.when(
                    F.abs(F.col("cents") - F.col("yhat"))
                    <= F.col("qhat"),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_covered"),
        )
    )
    return hold.select(
        "segment",
        (F.col("yhat") / F.lit(100.0)).alias("point_pred"),
        (F.col("qhat") / F.lit(100.0)).alias("interval_halfwidth"),
        F.col("n_cal").cast("bigint").alias("n_cal"),
        "n_test",
        "n_covered",
        pround(
            F.col("n_covered").cast("double")
            / F.col("n_test").cast("double"),
            6,
        ).alias("coverage"),
    )


@q("q_mase_forecast_eval")
def q_mase_forecast_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORECAST-QUALITY evaluation: MASE [Hyndman & Koehler 2006] of
    the 7-tap EWMA one-step forecast against the SEASONAL-NAIVE
    baseline (ŷ_t = y_{t−7}) on the daily revenue series — the
    scale-free metric that makes forecast errors comparable across
    series (MASE < 1 = beats the weekly-naive).  The EWMA forecast for
    day t uses taps t−1..t−8 (strictly past — no leakage), both MAE
    numerators accumulate as exact integer cents, and the single
    division is pinned.  Scale shape: one data-grain aggregation to
    days, lag taps on the bounded day grain."""
    from functools import reduce

    wts = [3**k * 4 ** (7 - k) for k in range(8)]
    od = T(spark, sf_dir, "orders")
    daily = od.groupBy(F.to_date("o_orderdate").alias("d")).agg(
        F.sum(
            F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5))
        )
        .cast("bigint")
        .alias("cents")
    )
    w = Window.orderBy("d")
    num = reduce(
        lambda a, b: a + b,
        [
            F.coalesce(F.lag("cents", k + 1).over(w), F.lit(0))
            * F.lit(wk)
            for k, wk in enumerate(wts)
        ],
    )
    den = reduce(
        lambda a, b: a + b,
        [
            F.when(
                F.lag("cents", k + 1).over(w).isNotNull(), F.lit(wk)
            ).otherwise(F.lit(0))
            for k, wk in enumerate(wts)
        ],
    )
    # EWMA forecast in exact integer cents: floor(num/den)
    fc = daily.select(
        "d",
        "cents",
        F.when(den > 0, F.floor(num.cast("double") / den.cast("double")))
        .cast("bigint")
        .alias("ewma_fc"),
        F.lag("cents", 7).over(w).alias("naive_fc"),
    )
    scored = fc.filter(
        F.col("ewma_fc").isNotNull() & F.col("naive_fc").isNotNull()
    )
    agg = scored.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.sum(F.abs(F.col("cents") - F.col("ewma_fc")))
        .cast("bigint")
        .alias("mae_ewma_cents"),
        F.sum(F.abs(F.col("cents") - F.col("naive_fc")))
        .cast("bigint")
        .alias("mae_naive_cents"),
    )
    return agg.select(
        "n_days",
        pround(
            F.col("mae_ewma_cents").cast("double")
            / F.col("n_days").cast("double")
            / F.lit(100.0),
            4,
        ).alias("mae_ewma"),
        pround(
            F.col("mae_naive_cents").cast("double")
            / F.col("n_days").cast("double")
            / F.lit(100.0),
            4,
        ).alias("mae_naive"),
        pround(
            F.col("mae_ewma_cents").cast("double")
            / F.col("mae_naive_cents").cast("double"),
            6,
        ).alias("mase"),
    )


@q("q_power_analysis")
def q_power_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXPERIMENT DESIGN — the calculation that must run BEFORE
    q_abtest_zscore ever can: per market segment, the minimum
    detectable effect at the current sample size and the sample size
    required to detect a 5%-of-mean lift, both at α=0.05/power=0.8
    (two-sample, equal split): MDE = c·σ·√(2/n) and n_req = 2σ²c²/δ²
    with c = z₀.₉₇₅+z₀.₈ embedded as ONE repr-exact literal in both
    engines.  Variance from exact decimal power sums (n·Σx²−(Σx)²
    accumulated in DECIMAL(38,0) — cents² overflows bigint at volume),
    everything after is single divisions.  Scale shape: one data-grain
    aggregation to the 5-segment grain."""
    c2 = repr((1.9599639845400545 + 0.8416212335729143) ** 2)
    od = T(spark, sf_dir, "orders")
    cu = T(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"),
        F.col("c_mktsegment").alias("segment"),
    )
    j = od.join(F.broadcast(cu), "o_custkey").select(
        "segment",
        F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5))
        .cast("bigint")
        .alias("cents"),
    )
    g = j.groupBy("segment").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("cents").cast("bigint").alias("sx"),
        F.sum(
            F.col("cents").cast("decimal(38,0)")
            * F.col("cents").cast("decimal(38,0)")
        )
        .cast("decimal(38,0)")
        .alias("sxx"),
    )
    var = (
        F.col("n").cast("decimal(38,0)") * F.col("sxx")
        - F.col("sx").cast("decimal(38,0)")
        * F.col("sx").cast("decimal(38,0)")
    ).cast("double") / (
        F.col("n") * (F.col("n") - 1)
    ).cast("double")
    mean = F.col("sx").cast("double") / F.col("n").cast("double")
    delta = mean * F.lit(0.05)
    return g.select(
        "segment",
        "n",
        pround(mean / F.lit(100.0), 4).alias("mean_value"),
        pround(F.sqrt(var) / F.lit(100.0), 4).alias("sd_value"),
        pround(
            F.sqrt(F.lit(float(c2)) * var * F.lit(2.0) / F.col("n").cast("double"))
            / F.lit(100.0),
            4,
        ).alias("mde_value"),
        F.ceil(
            F.lit(2.0) * var * F.lit(float(c2)) / (delta * delta)
        )
        .cast("bigint")
        .alias("n_required_per_arm"),
    )


@q("q_sprt_sequential")
def q_sprt_sequential(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEQUENTIAL TESTING (Wald's SPRT) — the always-valid monitoring
    view the fixed-horizon z-test (q_abtest_zscore) cannot give:
    per-day cumulative log-likelihood ratio of the treated arm's
    conversion (priority URGENT/HIGH) under H1: p=0.35 vs H0: p=0.30,
    with the ±ln(19) decision boundaries (α=β=0.05) and the running
    verdict — the dashboard that lets an experimenter stop EARLY
    without p-hacking.  Float discipline: the two per-unit LLR
    increments are FIXED repr-exact literals computed once in Python
    and embedded in BOTH engines (the NDCG_WEIGHTS discipline); each
    day contributes c·L1 + (n−c)·L0 from exact integer counts, and the
    cumulative sum runs over the bounded, totally-ordered day grain —
    deterministic in both engines.  Scale shape: data grain collapses
    to days; everything after is the ~2.4k-day series."""
    import math

    l1 = repr(math.log(0.35 / 0.30))        # conversion increment
    l0 = repr(math.log(0.65 / 0.70))        # non-conversion increment
    bound = repr(math.log(19.0))            # ln((1-β)/α), α=β=0.05
    od = T(spark, sf_dir, "orders")
    treated = od.filter(
        _h32(
            F.concat_ws(
                "|", F.lit("sprt-v1"), F.col("o_custkey").cast("string")
            )
        )
        % 2
        == 0
    )
    daily = treated.groupBy(F.to_date("o_orderdate").alias("d")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(
            F.when(
                F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("c"),
    )
    day_llr = (
        F.col("c").cast("double") * F.lit(float(l1))
        + (F.col("n") - F.col("c")).cast("double") * F.lit(float(l0))
    )
    w = Window.orderBy("d").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = F.sum(day_llr).over(w)
    return daily.select(
        "d",
        "n",
        "c",
        pround(cum, 6).alias("llr"),
        F.when(cum >= F.lit(float(bound)), F.lit("accept_h1"))
        .when(cum <= -F.lit(float(bound)), F.lit("accept_h0"))
        .otherwise(F.lit("continue"))
        .alias("decision"),
    )


@q("q_srm_check")
def q_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAMPLE-RATIO MISMATCH — the pre-readout gate every
    experimentation platform runs BEFORE trusting any A/B metric
    (Fabijan et al. 2019 catalogue SRM as the most common silent
    experiment corruption): assign users to the same md5 50/50 arms
    the z-test uses, then test the USER-grain assignment counts
    against the declared ratio with the 1-df chi-square GOF statistic
    χ² = (n_a − n_b)²/(n_a + n_b).  The alarm is decided in EXACT
    integer cross-multiplication — 100·(n_a−n_b)² > 384·(n_a+n_b)
    ⟺ χ² > 3.84 (p < .05) — so borderline experiments flag
    identically on every engine; χ² itself is one pinned division.
    Grain matters: counts are DISTINCT USERS (assignment grain), not
    events — an event-grain SRM would conflate engagement imbalance
    with assignment corruption.  Scale shape: one distinct-user
    shuffle, a 2-row aggregate, constant arithmetic."""
    ev = T(spark, sf_dir, "events").select("user_id").distinct()
    arm = F.when(
        F.conv(
            F.substring(F.md5(F.col("user_id").cast("string")), 1, 4),
            16, 10,
        ).cast("bigint") % 2 == 0,
        "A",
    ).otherwise("B")
    counts = ev.groupBy(arm.alias("arm")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    wide = counts.agg(
        F.sum(F.when(F.col("arm") == "A", F.col("n")).otherwise(0))
        .cast("bigint")
        .alias("n_a"),
        F.sum(F.when(F.col("arm") == "B", F.col("n")).otherwise(0))
        .cast("bigint")
        .alias("n_b"),
    )
    d = F.col("n_a") - F.col("n_b")
    tot = F.col("n_a") + F.col("n_b")
    return wide.select(
        "n_a",
        "n_b",
        pround(
            (d * d).cast("double") / tot.cast("double"), 6
        ).alias("chi2"),
        (F.lit(100) * d * d > F.lit(384) * tot).alias("srm_alarm"),
    )


@q("q_abtest_zscore")
def q_abtest_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experimentation surface: two-sample z statistic for purchase value
    between deterministically hash-bucketed A/B arms — the A/B readout as
    one aggregation over exact decimal power sums (n, Σx, Σx² per arm),
    so the statistic is engine-identical.  Assignment by md5 bucket of
    user_id: stable under reshuffles and appends, like every sampling op
    here."""
    ev = T(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    arm = F.when(
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 4), 16, 10)
        .cast("bigint") % 2 == 0,
        "A",
    ).otherwise("B")
    d = F.col("value").cast("decimal(18,2)")
    stats = (
        ev.groupBy(arm.alias("arm"))
        .agg(
            F.count(F.lit(1)).cast("double").alias("n"),
            F.sum(d).cast("double").alias("sx"),
            F.sum(d * d).cast("double").alias("sxx"),
        )
        .withColumn("mean", F.col("sx") / F.col("n"))
        .withColumn(
            "var",
            (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n"))
            / (F.col("n") - F.lit(1.0)),
        )
    )
    a = stats.filter(F.col("arm") == "A").select(
        F.col("n").alias("n_a"), F.col("mean").alias("mean_a"), F.col("var").alias("var_a")
    )
    b = stats.filter(F.col("arm") == "B").select(
        F.col("n").alias("n_b"), F.col("mean").alias("mean_b"), F.col("var").alias("var_b")
    )
    z = (F.col("mean_a") - F.col("mean_b")) / F.sqrt(
        F.col("var_a") / F.col("n_a") + F.col("var_b") / F.col("n_b")
    )
    return a.crossJoin(b).select(
        "n_a",
        "n_b",
        pround(F.col("mean_a"), 6).alias("mean_a"),
        pround(F.col("mean_b"), 6).alias("mean_b"),
        pround(z, 6).alias("z_stat"),
    )


@q("q_cuped")
def q_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction [Deng, Xu, Kohavi & Walker 2013] — the
    experimentation-platform workhorse next to q_abtest_zscore: per
    user, Y = purchase cents and the pre-exposure covariate X = view
    cents; θ = cov(X,Y)/var(X), and the adjusted metric
    Y' = Y − θ(X − X̄) has population variance var(Y)·(1 − ρ²) — so the
    whole readout collapses to CLOSED FORM over exact integer power
    sums (n, ΣX, ΣY, ΣXY, ΣX², ΣY² at the user grain, summed in
    decimal(38,0) so n·ΣXY-scale products can't overflow), never
    materializing per-user adjusted rows.  Output: n_users, θ, the
    variance-reduction fraction ρ², and var(Y) before/after in cents²
    — every division a fixed-order IEEE op on exact integers (pround
    pinned), θ NULL when var(X)=0 (degenerate fixture).  Scale shape:
    one shuffle to the user grain, one 1-row aggregate — the
    A/B-readout shape, invariant to event volume."""
    ev = T(spark, sf_dir, "events")
    cents = F.expr("CAST(floor(value * 100 + 0.5) AS BIGINT)")
    per_user = ev.groupBy("user_id").agg(
        F.sum(
            F.when(F.col("event_type") == "view", cents).otherwise(
                F.lit(0)
            )
        )
        .cast("bigint")
        .alias("x"),
        F.sum(
            F.when(F.col("event_type") == "purchase", cents).otherwise(
                F.lit(0)
            )
        )
        .cast("bigint")
        .alias("y"),
    )
    d38 = "decimal(38,0)"
    sums = per_user.agg(
        F.count(F.lit(1)).cast(d38).alias("n"),
        F.sum(F.col("x").cast(d38)).alias("sx"),
        F.sum(F.col("y").cast(d38)).alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast(d38)).alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast(d38)).alias("sxx"),
        F.sum((F.col("y") * F.col("y")).cast(d38)).alias("syy"),
    )
    scored = sums.select(
        "*",
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
        .cast("double")
        .alias("cxy"),
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        .cast("double")
        .alias("vx"),
        (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
        .cast("double")
        .alias("vy"),
        F.col("n").cast("double").alias("nd"),
    )
    theta = F.when(F.col("vx") > 0, F.col("cxy") / F.col("vx"))
    rho2 = F.when(
        (F.col("vx") > 0) & (F.col("vy") > 0),
        (F.col("cxy") * F.col("cxy")) / (F.col("vx") * F.col("vy")),
    ).otherwise(F.lit(0.0))
    var_y = F.col("vy") / (F.col("nd") * F.col("nd"))
    return scored.select(
        F.col("n").cast("bigint").alias("n_users"),
        pround(theta, 6).alias("theta"),
        pround(rho2, 6).alias("var_reduction"),
        pround(var_y, 6).alias("var_y_cents2"),
        pround(var_y * (F.lit(1.0) - rho2), 6).alias(
            "var_y_cuped_cents2"
        ),
    )


@q("q_did")
def q_did(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DIFFERENCE-IN-DIFFERENCES — the quasi-experimental readout next
    to q_abtest_zscore (randomized) and q_cuped (variance-reduced):
    arms by the stable md5 user bucket, pre/post periods by the 70%
    span boundary (the q_temporal_split discipline — integer epoch
    arithmetic from one min/max scan), metric = mean purchase cents per
    (arm, period) cell from exact integer sums, and
    DiD = (B_post − B_pre) − (A_post − A_pre) — the estimate that
    differences away both the arm-level baseline gap and the shared
    time trend.  Every mean is one pinned division of exact integers;
    the 2×2 cell pivot is a 4-row frame.  Scale shape: one filtered
    scan + one 4-group aggregate — event-volume-invariant output of
    one row."""
    ev = T(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    bounds = ev.agg(
        F.min(F.col("ts").cast("long")).alias("mn"),
        F.max(F.col("ts").cast("long")).alias("mx"),
    ).select(F.expr("mn + ((mx - mn) * 7) div 10").alias("b1"))
    arm = F.when(
        F.conv(
            F.substring(F.md5(F.col("user_id").cast("string")), 1, 4),
            16,
            10,
        ).cast("bigint")
        % 2
        == 0,
        "A",
    ).otherwise("B")
    cents = F.expr("CAST(floor(value * 100 + 0.5) AS BIGINT)")
    cells = (
        ev.join(F.broadcast(bounds))
        .groupBy(
            arm.alias("arm"),
            F.when(F.col("ts").cast("long") < F.col("b1"), "pre")
            .otherwise("post")
            .alias("period"),
        )
        .agg(
            F.sum(cents).cast("bigint").alias("s"),
            F.count(F.lit(1)).cast("bigint").alias("n"),
        )
        .withColumn(
            "mean", F.col("s").cast("double") / F.col("n").cast("double")
        )
    )

    def cell(a: str, p: str, name: str):
        return F.max(
            F.when(
                (F.col("arm") == a) & (F.col("period") == p),
                F.col("mean"),
            )
        ).alias(name)

    wide = cells.agg(
        cell("A", "pre", "mean_a_pre"),
        cell("A", "post", "mean_a_post"),
        cell("B", "pre", "mean_b_pre"),
        cell("B", "post", "mean_b_post"),
    )
    did = (F.col("mean_b_post") - F.col("mean_b_pre")) - (
        F.col("mean_a_post") - F.col("mean_a_pre")
    )
    return wide.select(
        pround(F.col("mean_a_pre"), 6).alias("mean_a_pre"),
        pround(F.col("mean_a_post"), 6).alias("mean_a_post"),
        pround(F.col("mean_b_pre"), 6).alias("mean_b_pre"),
        pround(F.col("mean_b_post"), 6).alias("mean_b_post"),
        pround(did, 6).alias("did_cents"),
    )


@q("q_analyze_table_stats")
def q_analyze_table_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE TABLE as a query — the column-statistics sweep every
    cost-based optimizer (and every data-quality dashboard) feeds on:
    per column of `orders`, the row count, null count, exact NDV, and
    min/max rendered to a canonical string — one WIDE aggregate pass
    (all columns' stats in a single scan, the one-pass profile shape;
    Spark's own ANALYZE .. COMPUTE STATISTICS FOR COLUMNS runs this
    exact plan), then unpivoted to the (column, stat) grain the
    catalog stores.  Exact NDV here (count distinct); at 100 TB the
    same surface swaps in the HLL register sketch
    (q_rolling_distinct_hll's path) per column — documented, not
    silently approximated.  Scale shape: one scan, one wide partial
    aggregate; the unpivot is driver-free literal stacking."""
    od = T(spark, sf_dir, "orders")
    cols = {
        "o_orderkey": F.col("o_orderkey").cast("string"),
        "o_custkey": F.col("o_custkey").cast("string"),
        "o_orderstatus": F.col("o_orderstatus"),
        "o_orderpriority": F.col("o_orderpriority"),
        "o_orderdate": F.col("o_orderdate").cast("string"),
    }
    aggs = [F.count(F.lit(1)).cast("bigint").alias("__n")]
    for name, c in cols.items():
        aggs += [
            F.sum(F.when(c.isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias(f"{name}__nulls"),
            F.countDistinct(c).cast("bigint").alias(f"{name}__ndv"),
            F.min(c).alias(f"{name}__min"),
            F.max(c).alias(f"{name}__max"),
        ]
    wide = od.agg(*aggs)
    stacked = None
    for name in cols:
        row = wide.select(
            F.lit(name).alias("column"),
            F.col("__n").alias("n_rows"),
            F.col(f"{name}__nulls").alias("n_nulls"),
            F.col(f"{name}__ndv").alias("ndv"),
            F.col(f"{name}__min").alias("min_str"),
            F.col(f"{name}__max").alias("max_str"),
        )
        stacked = row if stacked is None else stacked.unionAll(row)
    return stacked.orderBy("column")


@q("q_skew_report")
def q_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JOIN-KEY SKEW pre-flight — the report a pipeline runs BEFORE a
    big shuffle decides between plain hash join, salting, and AQE skew
    handling (q_skew_join_salted and q_salted_groupby build the cures;
    this measures the disease): per candidate key, distinct keys, row
    count, the heaviest key's frequency and share, the floor-div average
    frequency, and how many keys exceed 10× average (the salting
    candidates).  A max/avg ratio near 1 means hash partitioning
    balances; a 100× ratio at 100 TB means one reducer gets 100× the
    data and the stage runs at straggler speed — this number IS the
    decision input.  Scale shape: one groupBy per key to the key grain
    then a broadcast-scalar second pass over the (small) frequency
    table; exact integers throughout."""

    def stats(df: DataFrame, col: str, label: str) -> DataFrame:
        freq = cut_lineage(
            df.groupBy(F.col(col)).agg(
                F.count(F.lit(1)).cast("bigint").alias("f")
            )
        )
        tot = freq.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_keys"),
            F.sum("f").cast("bigint").alias("n_rows"),
            F.max("f").cast("bigint").alias("max_freq"),
        ).select("*", F.expr("n_rows div n_keys").alias("avg_freq"))
        return (
            freq.join(F.broadcast(tot))
            .agg(
                F.lit(label).alias("join_key"),
                F.max("n_keys").alias("n_keys"),
                F.max("n_rows").alias("n_rows"),
                F.max("max_freq").alias("max_freq"),
                F.max("avg_freq").alias("avg_freq"),
                F.sum(
                    F.when(F.col("f") > 10 * F.col("avg_freq"), 1)
                    .otherwise(0)
                )
                .cast("bigint")
                .alias("keys_over_10x_avg"),
            )
            .select(
                "*",
                pround(
                    F.col("max_freq").cast("double")
                    / F.col("avg_freq").cast("double"),
                    6,
                ).alias("max_over_avg"),
            )
        )

    orders = T(spark, sf_dir, "orders")
    li = T(spark, sf_dir, "lineitem")
    return stats(orders, "o_custkey", "orders.o_custkey").unionByName(
        stats(li, "l_partkey", "lineitem.l_partkey")
    )


@q("q_session_paths")
def q_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PATH MINING — the whole-journey view q_markov_transitions'
    first-order matrix cannot give (a Markov chain forgets where the
    session started): sessionize with the 30-minute-gap rule (the
    q_sessionize islands), render each session's first 8 event types
    as an ordered `>`-joined path (total order: ts then event_id, so
    the string is deterministic), and report the top-10 most common
    journeys with support and distinct-user counts.  Tie-break on the
    path text — a total order, hash-stable.  Scale shape: one shuffle
    on user_id for sessionization, a ranked PRE-TRUNCATION to 8
    events per session before the collect (VERDICT r8 item 2 — the
    collect's per-group state is bounded by the constant 8, immune to
    bot sessions), one path-grain aggregation, and a
    TakeOrderedAndProject top-10 — the path cardinality, not the
    event volume, bounds the final stage.  Plan pin: the ranked
    filter precedes the aggregation (tests/test_round9_ops.py)."""
    ev = T(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ms = F.unix_millis(F.col("ts"))
    prev_ms = F.lag(ms).over(w)
    is_new = F.when(
        prev_ms.isNull() | ((ms - prev_ms) > 1800000), F.lit(1)
    ).otherwise(F.lit(0))
    sess = ev.withColumn("__is_new", is_new).withColumn(
        "session_seq",
        F.sum("__is_new").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    # VERDICT r8 item 2: pre-truncate to the first 8 events per session
    # BEFORE the collect — a ranked filter, not a slice after the fact —
    # so a degenerate bot session cannot funnel one task's memory and
    # the shuffle carries at most 8 structs per session.  No extra
    # shuffle: the rank window's partition keys (user_id, session_seq)
    # are a superset of the session window's hash keys (user_id), so
    # the existing distribution satisfies it — only a sort is added.
    wr = Window.partitionBy("user_id", "session_seq").orderBy(
        "ts", "event_id"
    )
    sess = sess.withColumn("__rn", F.row_number().over(wr))
    paths = (
        sess.filter(F.col("__rn") <= 8)
        .groupBy("user_id", "session_seq")
        .agg(
            F.expr(
                """array_join(
                     transform(
                       sort_array(collect_list(
                         struct(ts, event_id, event_type))),
                       x -> x.event_type), '>')"""
            ).alias("path"),
            F.count(F.lit(1)).cast("bigint").alias("truncated_len"),
        )
    )
    return (
        paths.groupBy("path")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_sessions"),
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
        )
        .orderBy(F.col("n_sessions").desc(), F.col("path").asc())
        .limit(10)
    )


@q("q_sequence_pairs")
def q_sequence_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEQUENTIAL PATTERN MINING, 2-sequences (the SPADE/GSP first
    rung): for every ordered pair of event types (a → b), in how many
    SESSIONS does a's first occurrence precede b's first occurrence —
    the "what leads to what" table q_markov_transitions' adjacent-step
    matrix cannot give (a → b here may have any number of steps
    between).  Sessionized with the 30-minute gap rule, then each
    session collapses to its FIRST occurrence per type (≤5 rows per
    session — the within-session pair frame is bounded 5×5 by the
    type alphabet, never by session length), ordered by the total
    (ts, event_id) key.  Support = pair sessions / total sessions,
    one pinned division.  Scale shape: one user shuffle for
    sessionization, a (session, type) aggregate, a bounded
    within-session self-join, a type-pair aggregate — nothing grows
    with session length."""
    ev = T(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ms = F.unix_millis(F.col("ts"))
    prev_ms = F.lag(ms).over(w)
    is_new = F.when(
        prev_ms.isNull() | ((ms - prev_ms) > 1800000), F.lit(1)
    ).otherwise(F.lit(0))
    sess = ev.withColumn("__is_new", is_new).withColumn(
        "session_seq",
        F.sum("__is_new").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    firsts = cut_lineage(
        sess.groupBy("user_id", "session_seq", "event_type").agg(
            F.min(F.struct("ts", "event_id")).alias("f")
        )
    )
    a = firsts.select(
        "user_id", "session_seq",
        F.col("event_type").alias("type_a"),
        F.col("f.ts").alias("ts_a"), F.col("f.event_id").alias("id_a"),
    )
    b = firsts.select(
        F.col("user_id").alias("u2"), F.col("session_seq").alias("s2"),
        F.col("event_type").alias("type_b"),
        F.col("f.ts").alias("ts_b"), F.col("f.event_id").alias("id_b"),
    )
    pairs = a.join(
        b,
        (F.col("user_id") == F.col("u2"))
        & (F.col("session_seq") == F.col("s2"))
        & (
            (F.col("ts_a") < F.col("ts_b"))
            | (
                (F.col("ts_a") == F.col("ts_b"))
                & (F.col("id_a") < F.col("id_b"))
            )
        ),
    )
    counts = pairs.groupBy("type_a", "type_b").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sessions")
    )
    total = firsts.select("user_id", "session_seq").distinct().agg(
        F.count(F.lit(1)).cast("bigint").alias("n_total")
    )
    return counts.crossJoin(F.broadcast(total)).select(
        "type_a",
        "type_b",
        "n_sessions",
        pround(
            F.col("n_sessions").cast("double")
            / F.col("n_total").cast("double"),
            6,
        ).alias("support"),
    )


@q("q_markov_transitions")
def q_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence modeling: first-order event-type transition matrix
    P(next | current) per user journey — lag within user (one shuffle),
    pair counts, probability = pair/row-total via a window over the
    (5×5) count table.  The building block behind journey simulation and
    next-event prediction."""
    ev = T(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.withColumn("prev_type", F.lag("event_type").over(w))
        .filter(F.col("prev_type").isNotNull())
        .groupBy(
            F.col("prev_type").alias("from_type"),
            F.col("event_type").alias("to_type"),
        )
        .agg(F.count(F.lit(1)).alias("n_trans"))
    )
    total = F.sum("n_trans").over(Window.partitionBy("from_type"))
    return pairs.select(
        "from_type",
        "to_type",
        "n_trans",
        pround(F.col("n_trans") / total, 6).alias("p_trans"),
    )


@q("q_ngram_novelty")
def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memorization/novelty metric: what fraction of each heldout
    document's bigrams never occur in the train split — the n-gram
    overlap check run before quoting eval numbers.  Train bigrams dedup
    to a probe set; the anti-join side carries (doc, bigram) so the
    novelty ratio is per-document; integer counts, exact division."""
    docs = (
        T(spark, sf_dir, "documents")
        .filter(F.trim(F.col("text")) != "")
        .withColumn("__toks", tokens("text"))
        .filter(F.size("__toks") >= 2)
    )
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("bigint") % 100
    )
    with_split = docs.withColumn(
        "split", F.when(bucket < 80, "train").otherwise("heldout")
    )
    bigrams = with_split.select(
        "doc_id",
        "split",
        F.explode(word_shingles("text", 2)).alias("bigram"),
    )
    train_set = (
        bigrams.filter(F.col("split") == "train").select("bigram").distinct()
    )
    held = bigrams.filter(F.col("split") == "heldout")
    novel = held.join(train_set, "bigram", "left_anti").groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_novel")
    )
    totals = held.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_bigrams"))
    return totals.join(novel, "doc_id", "left").select(
        "doc_id",
        "n_bigrams",
        F.coalesce(F.col("n_novel"), F.lit(0)).alias("n_novel"),
        pround(
            F.coalesce(F.col("n_novel"), F.lit(0))
            / F.col("n_bigrams").cast("double"),
            6,
        ).alias("novelty"),
    )


@q("q_hierarchy_paths")
def q_hierarchy_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical data: root and depth per node, resolved by ITERATED
    joins against an edge TABLE — the Spark shape for bounded-depth
    hierarchies (org charts, BOMs, category trees), checked against a
    DuckDB recursive CTE.  The synthetic forest is data-driven (parent =
    node div (2 + md5-nibble(node) % 7), strictly decreasing → acyclic);
    because the parent lives in a table, each level genuinely joins — at
    100 TB that is one broadcast-or-shuffle join per level over a
    shrinking frontier."""
    nodes = (
        T(spark, sf_dir, "part")
        .filter(F.col("p_partkey") <= 2000)
        .select(F.col("p_partkey").alias("node"))
    )
    nib = (
        F.conv(F.substring(F.md5(F.col("node").cast("string")), 1, 1), 16, 10)
        .cast("bigint") % 7
    )
    edges = nodes.select(
        "node",
        (F.col("node") / (F.lit(2) + nib)).cast("bigint").alias("parent"),
    )
    parent_of = edges.select(
        F.col("node").alias("e_node"), F.col("parent").alias("e_parent")
    )
    cur = nodes.select(
        "node", F.col("node").alias("cursor"), F.lit(0).alias("depth")
    )
    for _ in range(12):  # node at least halves per level: 2^12 > 2000
        step = cur.join(
            F.broadcast(parent_of), cur.cursor == F.col("e_node"), "left"
        )
        cur = step.select(
            "node",
            F.when(
                F.col("e_parent").isNotNull() & (F.col("e_parent") > 0),
                F.col("e_parent"),
            ).otherwise(F.col("cursor")).alias("cursor"),
            F.when(
                F.col("e_parent").isNotNull() & (F.col("e_parent") > 0),
                F.col("depth") + 1,
            ).otherwise(F.col("depth")).alias("depth"),
        )
    return cur.select(
        "node",
        F.col("cursor").alias("root"),
        F.col("depth").cast("int").alias("depth"),
    )


@q("q_bitmap_presence")
def q_bitmap_presence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitmap aggregation: per event_type, a 24-bit hour-of-day presence
    mask (bit h set iff any event occurred in hour h) plus the popcount —
    `bit_or` of per-row one-hot masks, the roaring-bitmap-style compact
    presence summary that set-intersects across segments without a
    distinct-join.  All integer ops, no bit-63 exposure."""
    ev = T(spark, sf_dir, "events")
    hour = ((F.unix_timestamp("ts") % 86400) / 3600).cast("int")
    return (
        ev.select("event_type", hour.alias("h"))
        .groupBy("event_type")
        .agg(
            F.bit_or(F.expr("shiftleft(CAST(1 AS BIGINT), h)")).alias(
                "hour_mask"
            )
        )
        .select(
            "event_type",
            "hour_mask",
            F.bit_count("hour_mask").alias("n_active_hours"),
        )
    )


@q("q_latest_per_key")
def q_latest_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC compaction: the latest event per user (row_number over a
    ts-descending window, event_id tie-break) — the log-to-table
    compaction every upsert pipeline runs.  Spark plans WindowGroupLimit
    (rank pushdown): partial top-1 per partition BEFORE the shuffle, so
    the exchange carries |keys| rows, not the log."""
    ev = T(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        ev.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            "user_id",
            F.col("event_id").alias("last_event_id"),
            F.col("event_type").alias("last_type"),
            F.unix_millis(F.col("ts")).alias("last_ms"),
        )
    )


@q("q_tpch_refresh")
def q_tpch_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H REFRESH stream (RF1/RF2) — the part of the benchmark
    beyond the 22 queries: the spec alternates query runs with an
    INSERT batch of new orders and a DELETE batch of old ones, because
    a warehouse that can only answer queries over a frozen snapshot is
    half a warehouse.  Deterministic fixture-scale refresh: RF2 deletes
    o_orderkey % 97 == 0 from the base; RF1 inserts a re-keyed copy of
    o_orderkey % 100 == 0 (key + 10^10 — collision-free at any SF
    without a driver max() pull — dates shifted +1 day, the spec's
    'new sales look like old sales' shape).  Output: the per-(year,
    priority) order count and exact cents BEFORE and AFTER with row
    deltas — the audit that certifies the refresh applied exactly
    (TPC-H's own ACID-ish check).  Scale shape: the delete is a
    modulus filter (at scale: an anti-join against a delete-key
    table), the insert a union — one aggregate over each side, joined
    on the bounded (year × 5) grain."""
    od = T(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.to_date("o_orderdate").alias("d"),
        "o_orderpriority",
        F.expr(
            "CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)"
        ).alias("cents"),
    )
    inserts = od.filter(F.col("o_orderkey") % 100 == 0).select(
        (F.col("o_orderkey") + F.lit(10_000_000_000)).alias("o_orderkey"),
        F.date_add(F.col("d"), 1).alias("d"),
        "o_orderpriority",
        "cents",
    )
    updated = od.filter(F.col("o_orderkey") % 97 != 0).unionByName(
        inserts
    )

    def summarize(df: DataFrame, n_name: str, c_name: str) -> DataFrame:
        return df.groupBy(
            F.year("d").alias("order_year"),
            F.col("o_orderpriority").alias("priority"),
        ).agg(
            F.count(F.lit(1)).cast("bigint").alias(n_name),
            F.sum("cents").cast("bigint").alias(c_name),
        )

    base = summarize(od, "n_base", "cents_base")
    upd = summarize(updated, "n_updated", "cents_updated")
    j = base.join(upd, ["order_year", "priority"], "full")
    return j.select(
        "order_year",
        "priority",
        F.coalesce("n_base", F.lit(0)).cast("bigint").alias("n_base"),
        F.coalesce("n_updated", F.lit(0))
        .cast("bigint")
        .alias("n_updated"),
        (
            F.coalesce("n_updated", F.lit(0))
            - F.coalesce("n_base", F.lit(0))
        )
        .cast("bigint")
        .alias("delta_rows"),
        F.coalesce("cents_base", F.lit(0))
        .cast("bigint")
        .alias("cents_base"),
        F.coalesce("cents_updated", F.lit(0))
        .cast("bigint")
        .alias("cents_updated"),
    ).orderBy("order_year", "priority")


@q("q_scd2_build")
def q_scd2_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD TYPE-2 dimension BUILD — the producing half of the pair
    whose consuming half is q_scd2_asof's point-in-time read: from the
    user event stream, materialize the slowly-changing attribute
    history of each user's event_type with CHANGE COLLAPSING — a
    version row opens only when the attribute actually changes
    (lag != current), not per event, which is what separates an SCD2
    build from a raw log copy (a 67-events/user log collapses to a
    handful of version rows).  Validity from change-ts to the next
    change's ts (epoch seconds; NULL = current), version numbers dense
    per user, is_current on the open row.  Output bounded to
    user_id % 7 == 0 for a stable showcase grain; counts of collapsed
    source rows ride along so the compression is visible data.  Scale
    shape: one shuffle on the user key, two window passes (lag to
    detect changes, lead to close intervals) — the canonical
    event-sourcing→dimension pipeline, no driver materialization."""
    ev = (
        T(spark, sf_dir, "events")
        .filter(F.col("user_id") % 7 == 0)
        .select(
            "user_id",
            F.col("ts").cast("long").alias("s"),
            "event_id",
            F.col("event_type").alias("attr"),
        )
    )
    w = Window.partitionBy("user_id").orderBy("s", "event_id")
    marked = ev.withColumn(
        "__chg",
        F.when(
            F.lag("attr").over(w).isNull()
            | (F.lag("attr").over(w) != F.col("attr")),
            1,
        ).otherwise(0),
    )
    grp = marked.withColumn(
        "__ver",
        F.sum("__chg").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    versions = grp.groupBy("user_id", "__ver").agg(
        # every row in a version group carries the SAME attr by
        # construction (a group is a maximal run of equal values)
        F.min("attr").alias("attr"),
        F.min("s").cast("bigint").alias("valid_from_s"),
        F.count(F.lit(1)).cast("bigint").alias("n_source_rows"),
    )
    w2 = Window.partitionBy("user_id").orderBy("valid_from_s", "__ver")
    return versions.select(
        "user_id",
        F.col("__ver").cast("int").alias("version"),
        "attr",
        "valid_from_s",
        F.lead("valid_from_s").over(w2).alias("valid_to_s"),
        F.lead("valid_from_s").over(w2).isNull().alias("is_current"),
        "n_source_rows",
    )


@q("q_scd2_asof")
def q_scd2_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal (point-in-time) read: reconstruct each customer's state AS
    OF 1997-07-01 from an order-derived change log — versions via
    row_number, validity intervals via lead(date), then the interval
    containing the cutoff.  The event-sourcing read every SCD2/audit
    table needs; one shuffle on the key, intervals never materialized
    driver-side.  Zero-length intervals from same-day changes resolve to
    the latest change (lead() makes the earlier one empty)."""
    cutoff = F.lit("1997-07-01").cast("date")
    od = T(spark, sf_dir, "orders").select(
        "o_custkey",
        F.to_date("o_orderdate").alias("d"),
        "o_orderkey",
        F.col("o_totalprice").cast("decimal(18,2)").alias("p"),
    )
    w = Window.partitionBy("o_custkey").orderBy("d", "o_orderkey")
    ver = od.select(
        "o_custkey",
        F.row_number().over(w).alias("version"),
        F.sum("p").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).alias("cum_spend_d"),
        F.col("d").alias("valid_from"),
        F.lead("d").over(w).alias("valid_to"),
    )
    return ver.filter(
        (F.col("valid_from") <= cutoff)
        & (F.col("valid_to").isNull() | (F.col("valid_to") > cutoff))
    ).select(
        "o_custkey",
        "version",
        F.col("cum_spend_d").cast("double").alias("cum_spend"),
    )


@q("q_ohlc")
def q_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series candles: open/high/low/close of event value per
    (hour, event_type).  High/low are plain min/max; open/close are
    time-arg-min/max resolved DETERMINISTICALLY via min/max over a
    ((ms, event_id), value) STRUCT — lexicographic struct ordering is
    identical in Spark and DuckDB, the unique (ms, event_id) prefix
    decides every comparison before the value field is reached, and the
    boundary value rides along in the struct so the whole candle is ONE
    scan + ONE hash aggregation (no join-back, and no bigint packing that
    would corrupt once event_id ≥ 1e6)."""
    ev = T(spark, sf_dir, "events")
    hour = (F.unix_timestamp("ts") / 3600).cast("bigint") * 3600
    key = F.struct(
        F.unix_millis(F.col("ts")).alias("ms"),
        F.col("event_id").alias("eid"),
        F.col("value").alias("v"),
    )
    base = ev.select(
        hour.alias("hour_start"),
        "event_type",
        key.alias("k"),
        "value",
    )
    return (
        base.groupBy("hour_start", "event_type")
        .agg(
            F.min("k").alias("o"),
            F.max("k").alias("c"),
            F.min("value").alias("low"),
            F.max("value").alias("high"),
        )
        .select(
            "hour_start",
            "event_type",
            F.col("o.v").alias("open"),
            "high",
            "low",
            F.col("c.v").alias("close"),
        )
    )


@q("q_path_trigrams")
def q_path_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Journey mining: the 10 most common 3-event paths across user
    timelines — two lags over one user_id partition (single shuffle),
    then a count over the tiny path vocabulary.  Deterministic top-k with
    a path-text tie-break."""
    ev = T(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    paths = (
        ev.withColumn("t1", F.lag("event_type", 2).over(w))
        .withColumn("t2", F.lag("event_type", 1).over(w))
        .filter(F.col("t1").isNotNull())
        .select(
            F.concat_ws(">", "t1", "t2", "event_type").alias("path")
        )
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_paths"))
        .orderBy(F.col("n_paths").desc(), F.col("path").asc())
        .limit(10)
    )


@q("q_benford")
def q_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fraud-analytics classic: first-significant-digit distribution of
    order totals vs the Benford expectation log10(1+1/d).  The digit is
    extracted arithmetically (a fixed CASE ladder of power-of-ten
    divisions + floor — identical IEEE on both engines; never via
    double→string casts, whose formatting is engine-specific)."""
    od = T(spark, sf_dir, "orders")
    x = F.col("o_totalprice")
    scaled = (
        F.when(x >= 100000.0, x / 100000.0)
        .when(x >= 10000.0, x / 10000.0)
        .when(x >= 1000.0, x / 1000.0)
        .when(x >= 100.0, x / 100.0)
        .when(x >= 10.0, x / 10.0)
        .otherwise(x)
    )
    digits = od.select(F.floor(scaled).cast("int").alias("digit"))
    counts = digits.groupBy("digit").agg(F.count(F.lit(1)).alias("n"))
    total = F.sum("n").over(Window.partitionBy())
    return counts.select(
        "digit",
        "n",
        pround(F.col("n") / total, 6).alias("share"),
        pround(F.log10(1.0 + 1.0 / F.col("digit")), 6).alias("benford"),
    )


@q("q_audience_overlap")
def q_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience overlap: Jaccard similarity of user sets between every
    event-type pair — distinct (type, user) once, self-join on user for
    intersections, per-type sizes via the same pos-unpivot join-once
    pattern.  The segment-overlap matrix BI tools chart as a chord
    diagram; exact integer counts, pinned ratio."""
    ua = (
        T(spark, sf_dir, "events")
        .select("event_type", "user_id")
        .distinct()
    )
    a = ua.select(F.col("event_type").alias("ta"), "user_id")
    b = ua.select(F.col("event_type").alias("tb"), F.col("user_id").alias("u2"))
    inter = (
        a.join(b, (a.user_id == b.u2) & (F.col("ta") < F.col("tb")))
        .groupBy("ta", "tb")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sizes = ua.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_u"))
    melted = inter.select(
        "ta",
        "tb",
        "n_inter",
        F.explode(
            F.array(
                F.struct(F.lit(1).alias("side"), F.col("ta").alias("t")),
                F.struct(F.lit(2).alias("side"), F.col("tb").alias("t")),
            )
        ).alias("s"),
    ).select("ta", "tb", "n_inter", "s.side", "s.t")
    joined = (
        melted.join(sizes, melted.t == sizes.event_type)
        .groupBy("ta", "tb", "n_inter")
        .agg(
            F.max(F.when(F.col("side") == 1, F.col("n_u"))).alias("n_a"),
            F.max(F.when(F.col("side") == 2, F.col("n_u"))).alias("n_b"),
        )
    )
    jac = F.col("n_inter") / (
        F.col("n_a") + F.col("n_b") - F.col("n_inter")
    )
    return joined.select(
        "ta", "tb", "n_inter", pround(jac, 6).alias("jaccard")
    )


@q("q_gaps_and_islands")
def q_gaps_and_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GAPS-AND-ISLANDS — the canonical consecutive-runs idiom (activity
    streaks, sensor uptime, session stitching at the day grain): per
    customer, collapse order dates to distinct active days, assign each
    day its island via the date-minus-row_number trick (consecutive
    days share epoch_day − rn), then report days active, number of
    streaks, and the longest streak.  Exact integers end to end.
    Scale shape: the window partitions BY CUSTOMER (distributed — no
    global window), islands collapse with one more keyed aggregation;
    three shuffles on the same key, all data-grain bounded."""
    od = T(spark, sf_dir, "orders")
    days = od.select(
        "o_custkey", F.to_date("o_orderdate").alias("d")
    ).distinct()
    w = Window.partitionBy("o_custkey").orderBy("d")
    islands = days.select(
        "o_custkey",
        "d",
        (
            F.datediff(F.col("d"), F.lit("1970-01-01"))
            - F.row_number().over(w)
        ).alias("grp"),
    )
    streaks = islands.groupBy("o_custkey", "grp").agg(
        F.count(F.lit(1)).cast("bigint").alias("len")
    )
    return (
        streaks.groupBy("o_custkey")
        .agg(
            F.sum("len").cast("bigint").alias("active_days"),
            F.count(F.lit(1)).cast("bigint").alias("n_streaks"),
            F.max("len").cast("bigint").alias("longest_streak"),
        )
        .filter(F.col("longest_streak") >= 2)
    )


@q("q_causal_ipw")
def q_causal_ipw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CAUSAL ADJUSTMENT under confounded assignment: inverse-propensity
    weighting with known design propensities — the estimator
    observational ML-data pipelines need when treatment correlates with
    a covariate.  The experiment is self-certifying: treatment assigns
    by deterministic hash with SEGMENT-dependent propensity (0.8 down
    to 0.2 — deliberately confounded), and the outcome is a
    segment-dependent base (k·1000¢ — a pure function of the
    CONFOUNDER, so the bias is visible rather than drowned in revenue
    noise) plus an injected +5000¢ true effect for the treated.  The
    naive treated-vs-control difference inherits the segment-mix bias;
    the Horvitz-Thompson IPW estimate recovers ≈ 5000¢ (pinned by
    tests/test_round8_ops.py — the residual is finite-sample
    assignment noise only).  Float discipline: per-row IPW terms are
    floored to ×1e3 bigints before summation (dsum), propensities are
    exact tenths.  Scale shape: codegen assignment over the customer
    frame, one global aggregate."""
    probs = {
        "AUTOMOBILE": 8, "BUILDING": 6, "FURNITURE": 5,
        "HOUSEHOLD": 4, "MACHINERY": 2,
    }
    base = T(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    k = F.coalesce(
        *[
            F.when(F.col("c_mktsegment") == s, F.lit(v))
            for s, v in probs.items()
        ],
        F.lit(5),
    ).cast("bigint")
    u = (
        _h32(
            F.concat_ws(
                "|", F.lit("ipw-v1"), F.col("c_custkey").cast("string")
            )
        )
        % 10
    )
    t = (u < k).cast("bigint")
    y = (k * F.lit(1000) + t * F.lit(5000)).cast("bigint")
    p = k.cast("double") / F.lit(10.0)
    term_t = F.floor(
        t.cast("double") * y.cast("double") / p * F.lit(1000.0)
    ).cast("bigint")
    term_c = F.floor(
        (F.lit(1) - t).cast("double")
        * y.cast("double")
        / (F.lit(1.0) - p)
        * F.lit(1000.0)
    ).cast("bigint")
    agg = base.select(
        t.alias("t"), y.alias("y"),
        term_t.alias("tt"), term_c.alias("tc"),
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("t").cast("bigint").alias("n_treated"),
        F.sum(F.when(F.col("t") == 1, F.col("y"))).cast("bigint").alias(
            "y_treated"
        ),
        F.sum(F.when(F.col("t") == 0, F.col("y"))).cast("bigint").alias(
            "y_control"
        ),
        F.sum("tt").cast("bigint").alias("sum_tt3"),
        F.sum("tc").cast("bigint").alias("sum_tc3"),
    )
    naive = F.col("y_treated").cast("double") / F.col(
        "n_treated"
    ).cast("double") - F.col("y_control").cast("double") / (
        F.col("n") - F.col("n_treated")
    ).cast("double")
    ipw = (F.col("sum_tt3") - F.col("sum_tc3")).cast("double") / (
        F.lit(1000.0) * F.col("n").cast("double")
    )
    return agg.select(
        "n",
        "n_treated",
        pround(naive / F.lit(100.0), 4).alias("naive_diff"),
        pround(ipw / F.lit(100.0), 4).alias("ate_ipw"),
    )


@q("q_phonetic_blocking")
def q_phonetic_blocking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RECORD-LINKAGE BLOCKING, the phonetic family: simplified
    American Soundex (functions/phonetic.py — letter classes, adjacent-
    duplicate collapse, zero strip; the h/w-transparency refinement is
    documented out: RE2 engines have no backreferences) applied to the
    first word of every part name, then the blocking profile the
    Fellegi-Sunter pipeline (q_linkage_weights) consumes: per phonetic
    block, the member count, distinct surface forms, the candidate
    pair count n·(n−1)/2 inside the block, and the lexically-first
    example.  The report's Σ pairs vs (N choose 2) is the reduction
    ratio a phonetic blocker buys — same evaluation discipline as
    q_blocking_quality for the MinHash blocker.  Scale shape: pure
    codegen map to a code column, one block-grain aggregation."""
    from .functions.phonetic import soundex_col

    pt = T(spark, sf_dir, "part").select(
        "p_partkey",
        F.regexp_extract(F.col("p_name"), "^([a-z]+)", 1).alias("w"),
    )
    coded = pt.select("p_partkey", "w", soundex_col("w").alias("code"))
    return (
        coded.groupBy("code")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_parts"),
            F.countDistinct("w").cast("bigint").alias("n_words"),
            F.min("w").alias("first_word"),
        )
        .withColumn(
            "candidate_pairs",
            F.expr("n_parts * (n_parts - 1) div 2").cast("bigint"),
        )
    )


@q("q_simpson_paradox")
def q_simpson_paradox(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AGGREGATION-REVERSAL GUARDRAIL (Simpson's paradox detector) —
    the BI sanity check that must run before any pooled trend ships:
    the discount↔quantity association computed per return-flag segment
    AND pooled, with the paradox flag raised when the pooled slope
    sign contradicts every segment's sign (the mix effect masquerading
    as a trend).  All association numerators are EXACT bigints
    (cov numerator n·Σxy − Σx·Σy over ×100-scaled discounts and raw
    quantities — sign-exact, no float covariance), so the verdict is
    engine-identical, not a rounding artifact.  Scale shape: one
    data-grain aggregation to the 3-segment grain; the pooled pass
    reuses the same power sums via a second tiny aggregate."""
    li = T(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("segment"),
        F.floor(F.col("l_discount") * F.lit(100.0) + F.lit(0.5))
        .cast("bigint")
        .alias("x"),
        F.col("l_quantity").cast("bigint").alias("y"),
    )
    g = li.groupBy("segment").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    cov_num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    seg = g.select(
        "segment",
        "n",
        cov_num.alias("cov_num"),
        F.signum(cov_num).cast("int").alias("slope_sign"),
    )
    pooled = g.agg(
        F.sum("n").alias("n"),
        F.sum("sx").alias("sx"),
        F.sum("sy").alias("sy"),
        F.sum("sxy").alias("sxy"),
    ).select(
        (
            F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
        ).alias("pooled_cov_num")
    )
    wall = Window.partitionBy()
    return (
        seg.crossJoin(F.broadcast(pooled))
        .select(
            "segment",
            "n",
            "cov_num",
            "slope_sign",
            F.signum(F.col("pooled_cov_num")).cast("int").alias(
                "pooled_sign"
            ),
        )
        .withColumn(
            "paradox",
            (
                (F.max("slope_sign").over(wall)
                 == F.min("slope_sign").over(wall))
                & (F.col("pooled_sign") != F.col("slope_sign"))
            ).cast("int"),
        )
    )


@q("q_theil_decomposition")
def q_theil_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inequality analytics, the DECOMPOSABLE index: Theil-T of customer
    revenue split into between-segment and within-segment components —
    the additive decomposition T = Σ s_g·T_g + Σ s_g·ln(μ_g/μ) that
    Gini famously lacks, and the reason Theil is the concentration
    metric for drill-downs ("is inequality driven by segment mix or
    within segments?").  Float discipline: revenue sums are exact
    decimals; every logarithmic term is floored to a ×1e9 bigint AT THE
    ROW GRAIN before any cross-row sum (the dsum discipline applied to
    entropy terms), so all aggregations are exact integer adds and the
    emitted numbers are engine-identical.  Scale shape: one data-grain
    aggregation (customer revenue), one join back for per-row terms,
    then everything lives at the 5-segment grain."""
    od = T(spark, sf_dir, "orders")
    cust = T(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    rev = od.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("x")
    )
    seg = rev.join(cust, rev.o_custkey == cust.c_custkey).select(
        F.col("c_mktsegment").alias("segment"), "x"
    )
    g = seg.groupBy("segment").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_g"),
        F.sum("x").alias("s_g"),
    )
    wall = Window.partitionBy()
    gm = g.select(
        "segment",
        "n_g",
        "s_g",
        F.sum("n_g").over(wall).alias("n"),
        F.sum("s_g").over(wall).alias("S"),
    ).select(
        "segment",
        "n_g",
        (F.col("s_g").cast("double") / F.col("n_g").cast("double")).alias(
            "mu_g"
        ),
        (F.col("S").cast("double") / F.col("n").cast("double")).alias(
            "mu"
        ),
        (F.col("s_g").cast("double") / F.col("S").cast("double")).alias(
            "share"
        ),
    )
    rows = seg.join(F.broadcast(gm.select("segment", "mu_g")), "segment")
    xr = F.col("x").cast("double") / F.col("mu_g")
    within = rows.groupBy("segment").agg(
        F.sum(
            F.floor(xr * F.log(xr) * F.lit(1000000000.0)).cast("bigint")
        ).alias("sum_t9")
    )
    out = gm.join(F.broadcast(within), "segment").select(
        "segment",
        F.col("n_g").alias("n_customers"),
        "share",
        (
            F.col("sum_t9").cast("double")
            / (F.col("n_g").cast("double") * F.lit(1000000000.0))
        ).alias("t_within"),
        F.floor(
            F.col("share")
            * F.log(F.col("mu_g") / F.col("mu"))
            * F.lit(1000000000.0)
        )
        .cast("bigint")
        .alias("b9"),
    )
    out = out.withColumn(
        "ww9",
        F.floor(F.col("share") * F.col("t_within") * F.lit(1000000000.0))
        .cast("bigint"),
    )
    return out.select(
        "segment",
        "n_customers",
        pround(F.col("share"), 6).alias("revenue_share"),
        pround(F.col("t_within"), 6).alias("theil_within"),
        pround(
            F.sum("b9").over(wall).cast("double") / F.lit(1000000000.0),
            6,
        ).alias("theil_between"),
        pround(
            (F.sum("b9").over(wall) + F.sum("ww9").over(wall)).cast(
                "double"
            )
            / F.lit(1000000000.0),
            6,
        ).alias("theil_total"),
    )


@q("q_gini")
def q_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inequality analytics: Gini coefficient of customer revenue via the
    rank formula G = 2·Σ(i·xᵢ)/(n·Σx) − (n+1)/n over ascending ranks —
    Σ(i·xᵢ) stays exact (bigint rank × decimal revenue), so the
    coefficient is engine-identical.  Rank ties on equal revenue don't
    matter: equal x contribute the same Σ regardless of rank order.  The
    rank itself is DISTRIBUTED (``operators.rank.global_rank``) — no
    single-partition window anywhere in the plan."""
    from .operators.rank import global_rank

    rev = (
        T(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("x")
        )
    )
    ranked = global_rank(
        rev, [F.col("x").asc(), F.col("o_custkey").asc()], rank_col="__i"
    ).withColumn("i", F.col("__i").cast("decimal(19,0)"))
    agg = ranked.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum(F.col("i") * F.col("x")).cast("double").alias("six"),
    )
    gini = (
        F.lit(2.0) * F.col("six") / (F.col("n") * F.col("sx"))
        - (F.col("n") + 1.0) / F.col("n")
    )
    return agg.select(
        F.col("n").cast("bigint").alias("n_customers"),
        pround(gini, 6).alias("gini"),
    )


def _tokenized_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, dl, __toks): the corpus tokenized ONCE and pinned — both
    the tf expansion and the corpus n_docs/avgdl aggregate of the BM25
    family read this frame, so the regex tokenization never re-runs per
    consumer branch (DataFrame lineage is not a CTE)."""
    return cut_lineage(
        T(spark, sf_dir, "documents")
        .filter(F.trim(F.col("text")) != "")
        .select("doc_id", tokens("text").alias("__toks"))
        .select(
            "doc_id",
            token_count_of(F.col("__toks")).alias("dl"),
            "__toks",
        ),
        eager=False,
    )


@q("q_vector_medoid")
def q_vector_medoid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROBUST CLUSTER CENTERS: the exact 1-medoid per label cell — the
    member vector minimizing total squared distance to its cell (k-
    medoids' assignment-fixed step, and the representative-selection
    primitive semantic-dedup pipelines use where a MEAN centroid can
    be off-manifold).  Computed WITHOUT the pair frame via the
    sum-of-squares expansion  Σ_b‖a−b‖² = n·‖a‖² + Σ_b‖b‖² − 2⟨a,S⟩
    (S = the cell's component-wise sum): one cell-grain aggregation
    for (n, Σ‖b‖², S), one broadcast join back, one dot product per
    vector — LINEAR in N·d.  The first implementation materialized
    within-cell pairs; the 10× volume sweep caught it quadratic (5k-
    vector cells → 250M pairs, >25 min) — the expansion is the scale
    fix, and the emitted integers are IDENTICAL (same exact micro-unit
    arithmetic, verified by unchanged hashes at all three SFs).
    Argmin ties break on vec_id — a total order.  Accumulators ride
    DECIMAL(38,0): n·‖a‖² alone is ~1.3e18 at 10× and would overflow
    bigint soon after.  SINGLETON CELLS (n=1) emit a row with
    sum_sq_dist_micro2=0, n_others=0 and mean_sq_dist NULL (0/0 is
    NULL in both engines) — the DuckDB oracle uses the SAME linear
    expansion (HUGEINT accumulators), so a 1-vector label produces
    the identical row there too (ADVICE r8: the old pairwise oracle
    dropped singleton cells AND was itself quadratic; pinned by
    tests/test_round9_ops.py::test_medoid_singleton_cell)."""
    from .operators.kmeans import quantize_micro

    em = T(spark, sf_dir, "embeddings").select(
        "vec_id", "label", quantize_micro("embedding").alias("qv")
    ).withColumn(
        "sq",
        F.expr(
            "aggregate(qv, CAST(0 AS BIGINT), (acc, u) -> acc + u * u)"
        ),
    )
    cell = em.groupBy("label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_c"),
        F.sum(F.col("sq").cast("decimal(38,0)")).alias("ssq_c"),
        F.array(
            *[
                F.sum(F.element_at("qv", d + 1)).alias(f"s{d}")
                for d in range(64)
            ]
        ).alias("s_c"),
    )
    j = em.join(F.broadcast(cell), "label")
    dot = F.expr(
        """aggregate(zip_with(qv, s_c, (u, v) -> u * v),
                     CAST(0 AS DECIMAL(38,0)),
                     (acc, w) -> acc + CAST(w AS DECIMAL(38,0)))"""
    )
    sums = j.select(
        "label",
        "vec_id",
        "n_c",
        (
            F.col("n_c").cast("decimal(38,0)")
            * F.col("sq").cast("decimal(38,0)")
            + F.col("ssq_c")
            - F.lit(2).cast("decimal(38,0)") * dot
        )
        .cast("bigint")
        .alias("sum_d"),
        (F.col("n_c") - 1).cast("bigint").alias("n_others"),
    )
    best = (
        sums.groupBy("label")
        .agg(F.min("sum_d").alias("best"))
        .select(F.col("label").alias("lbest"), "best")
    )
    return (
        sums.join(
            F.broadcast(best),
            (F.col("label") == F.col("lbest"))
            & (F.col("sum_d") == F.col("best")),
        )
        .groupBy("label", "best", "n_others")
        .agg(F.min("vec_id").alias("medoid_id"))
        .select(
            "label",
            "medoid_id",
            (F.col("n_others") + 1).alias("n_vectors"),
            F.col("best").alias("sum_sq_dist_micro2"),
            pround(
                F.try_divide(
                    F.col("best").cast("double"),
                    F.col("n_others").cast("double"),
                )
                / F.lit(1e12),
                6,
            ).alias("mean_sq_dist"),
        )
    )


@q("q_zipf_law")
def q_zipf_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOKENIZER/CORPUS DIAGNOSTIC, Heaps' companion: the ZIPF exponent
    — the log-log rank-frequency slope over the top-100 vocabulary
    (Zipf 1949: natural language sits near slope −1; a corpus of
    boilerplate or template spam bends much steeper, making this a
    cheap corpus-health gate before tokenizer training).  OLS fit of
    ln(freq) on ln(rank): ranks come from orderBy+limit(100) (plans
    TakeOrderedAndProject — per-partition heaps, never a data-grain
    global sort) followed by a row_number over the ≤100-row frame (the
    bounded-grain exemption); each per-point ln is pinned FIRST to the
    ×1e6 grid with +0.5 rounding (the q_moore_lewis discipline — JVM
    Math.log and libm log are not guaranteed bit-identical, so a bare
    floor of a downstream product could flip a grid cell; ADVICE r9),
    and every OLS moment is then an EXACT integer product/sum of those
    pinned values; slope/intercept are a single fixed-order IEEE
    expression over the four integer sums.  Scale shape: one
    token-grain shuffle with map-side combine (stopword skew absorbed
    partially), then constant-size arithmetic."""
    docs = T(spark, sf_dir, "documents").filter(F.trim(F.col("text")) != "")
    vocab = (
        docs.select(F.explode(tokens("text")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    top = vocab.orderBy(F.col("c").desc(), F.col("tok")).limit(100)
    wr = Window.orderBy(F.col("c").desc(), F.col("tok"))  # <=100 rows
    ranked = top.select(
        F.row_number().over(wr).cast("bigint").alias("r"), "c"
    )
    p6 = lambda e: (  # noqa: E731
        F.floor(e * F.lit(1e6) + F.lit(0.5)).cast("bigint")
    )
    pinned = ranked.select(
        p6(F.log(F.col("r").cast("double"))).alias("x6"),
        p6(F.log(F.col("c").cast("double"))).alias("y6"),
    )
    sums = pinned.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("x6").cast("bigint").alias("sx6"),
        F.sum("y6").cast("bigint").alias("sy6"),
        F.sum(F.col("x6") * F.col("x6")).cast("bigint").alias("sxx12"),
        F.sum(F.col("x6") * F.col("y6")).cast("bigint").alias("sxy12"),
    )
    kd = F.col("k").cast("double")
    sx = F.col("sx6").cast("double") / F.lit(1e6)
    sy = F.col("sy6").cast("double") / F.lit(1e6)
    sxx = F.col("sxx12").cast("double") / F.lit(1e12)
    sxy = F.col("sxy12").cast("double") / F.lit(1e12)
    slope = (kd * sxy - sx * sy) / (kd * sxx - sx * sx)
    return sums.select(
        F.col("k").alias("n_points"),
        pround(slope, 6).alias("zipf_slope"),
        pround((sy - slope * sx) / kd, 6).alias("log_intercept"),
    )


@q("q_embedding_dim_profile")
def q_embedding_dim_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EMBEDDING-SPACE PROFILING, per DIMENSION — the pre-index audit
    that catches dead dimensions (std≈0: wasted index bytes and a
    whitening division-by-zero waiting to happen), dominant dimensions
    (one coordinate swamping the L2 metric), and zero-inflation
    (ReLU-style sparsity changes which ANN layout wins): per dim,
    exact-micro-int mean, std, min, max, and the zero fraction, plus
    the dead-dim flag at the 1e-3 std floor.  One posexplode to the
    (dim, value) grain, one 64-group aggregate over exact integer
    power sums (DECIMAL(38,0) — Σx² at micro scale overflows bigint
    past ~10M vectors), every emitted double one pinned expression.
    The whitening/normalization decision input upstream of
    q_embed_normalize and the PQ family.  Scale shape: one scan, one
    bounded 64-group shuffle with map-side partials."""
    from .operators.kmeans import quantize_micro

    em = T(spark, sf_dir, "embeddings").select(
        F.posexplode(quantize_micro("embedding")).alias("dim0", "u")
    )
    dd = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    g = em.groupBy((F.col("dim0") + 1).alias("dim")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(dd(F.col("u"))).cast("decimal(38,0)").alias("s1"),
        F.sum(dd(F.col("u")) * dd(F.col("u"))).cast("decimal(38,0)")
        .alias("s2"),
        F.min("u").cast("bigint").alias("mn"),
        F.max("u").cast("bigint").alias("mx"),
        F.sum((F.col("u") == 0).cast("bigint")).cast("bigint")
        .alias("n_zero"),
    )
    n = F.col("n").cast("double")
    mean = F.col("s1").cast("double") / n / F.lit(1e6)
    # greatest(·,0): E[x²]−mean² can round to a tiny negative for a
    # constant (dead) dim — Spark sqrt(neg)=NaN but the DuckDB oracle
    # RAISES, so both sides clamp before sqrt (ADVICE r9).
    var = F.greatest(
        (
            F.col("s2").cast("double") / n
            - (F.col("s1").cast("double") / n)
            * (F.col("s1").cast("double") / n)
        ) / F.lit(1e12),
        F.lit(0.0),
    )
    return g.select(
        "dim",
        "n",
        pround(mean, 6).alias("mean"),
        pround(F.sqrt(var), 6).alias("std"),
        pround(F.col("mn").cast("double") / F.lit(1e6), 6).alias("min"),
        pround(F.col("mx").cast("double") / F.lit(1e6), 6).alias("max"),
        pround(
            F.col("n_zero").cast("double") / n, 6
        ).alias("zero_fraction"),
        (F.sqrt(var) < F.lit(1e-3)).alias("is_dead_dim"),
    )


def _embedding_gram_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared distributed core of q_embedding_covariance and
    q_pca_power_iteration: exact int64 Gram partials per Arrow batch
    (upper-triangle VᵀV + component sums + count, keyed (i, j) with the
    j = −1 / (−1, −1) sentinel rows), collapsed in DECIMAL(38,0) at the
    constant 2145-key grain."""
    from .operators.kmeans import quantize_micro

    em = T(spark, sf_dir, "embeddings").select(
        quantize_micro("embedding").alias("qv")
    )

    def _partials(batches):
        import numpy as np
        import pandas as pd

        iu = np.triu_indices(64)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.stack(
                [np.asarray(v, dtype=np.int64) for v in pdf["qv"]]
            )
            # int64 Gram overflow guard (ADVICE r10): the no-wrap bound
            # relies on Arrow's maxRecordsPerBatch default (10k rows)
            # and |component| <= 2e6 after the x1e6 quantization —
            # max |G_ij| <= 10k * (2e6)^2 = 4e16 < 2^63.  Assert both
            # so a config change or wider fixture FAILS LOUDLY instead
            # of wrapping silently.
            assert len(pdf) <= 10_000, (
                f"Arrow batch of {len(pdf)} rows exceeds the int64 "
                "Gram no-wrap bound (maxRecordsPerBatch changed?)"
            )
            vmax = int(np.abs(V).max()) if V.size else 0
            assert vmax <= 2_000_000, (
                f"|component| {vmax} exceeds the x1e6-grid bound the "
                "int64 Gram accumulation assumes"
            )
            G = V.T @ V
            S = V.sum(axis=0)
            yield pd.concat(
                [
                    pd.DataFrame(
                        {
                            "i": iu[0].astype("int32"),
                            "j": iu[1].astype("int32"),
                            "g": G[iu],
                        }
                    ),
                    pd.DataFrame(
                        {
                            "i": np.arange(64, dtype="int32"),
                            "j": np.full(64, -1, dtype="int32"),
                            "g": S,
                        }
                    ),
                    pd.DataFrame({"i": [-1], "j": [-1], "g": [len(pdf)]}),
                ]
            )

    parts = em.mapInPandas(_partials, schema="i int, j int, g long")
    return cut_lineage(
        parts.groupBy("i", "j").agg(
            F.sum(F.col("g").cast("decimal(38,0)"))
            .cast("decimal(38,0)")
            .alias("t")
        ),
        eager=False,
    )


@q("q_embedding_covariance")
def q_embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EMBEDDING CROSS-DIMENSION AUDIT — the top-20 most-covariant
    dimension PAIRS (q_embedding_dim_profile's off-diagonal companion):
    strongly covariant dims are redundant storage the PQ subspace
    split should not separate, and the input a whitening decision
    needs.  The distributed shape is the Arrow ESCAPE HATCH done
    exactly: each Arrow batch computes its int64 Gram partial VᵀV (one
    matmul over micro-quantized components — the assign_cells_arrow_int
    discipline; |x|≤2e6, dim 64, ≤10k rows/batch keeps every cell
    inside int64), partials collapse by (i,j) key in DECIMAL(38,0),
    and cov_ij = (n·G_ij − S_i·S_j) / (n²·1e12) is exact integers into
    ONE pinned division — so even the mapInPandas path hash-checks
    against the oracle's unnest-squared SQL (which materializes the
    (vec, i, j) grain the matmul never does).  Ranking on the pinned
    value, ties (i, j).  Scale shape: one scan, 2145 partial rows per
    batch regardless of batch size (2080 upper-triangle Gram cells +
    64 component sums + 1 count), a 2145-key shuffle (the Gram core is
    shared with q_pca_power_iteration via _embedding_gram_agg)."""
    agg = _embedding_gram_agg(spark, sf_dir)
    n_row = agg.filter((F.col("i") == -1) & (F.col("j") == -1)).select(
        F.col("t").alias("n")
    )
    s = agg.filter((F.col("j") == -1) & (F.col("i") >= 0))
    si = s.select(F.col("i").alias("i"), F.col("t").alias("s_i"))
    sj = s.select(F.col("i").alias("j"), F.col("t").alias("s_j"))
    gf = (
        agg.filter((F.col("j") >= 0) & (F.col("i") < F.col("j")))
        .join(F.broadcast(si), "i")
        .join(F.broadcast(sj), "j")
        .crossJoin(F.broadcast(n_row))
    )
    cov = pround(
        (F.col("n") * F.col("t") - F.col("s_i") * F.col("s_j")).cast(
            "double"
        )
        / (
            F.col("n").cast("double")
            * F.col("n").cast("double")
            * F.lit(1e12)
        ),
        8,
    )
    ranked = gf.select(
        (F.col("i") + 1).cast("int").alias("dim_i"),
        (F.col("j") + 1).cast("int").alias("dim_j"),
        cov.alias("cov"),
    )
    return ranked.orderBy(
        F.abs(F.col("cov")).desc(), "dim_i", "dim_j"
    ).limit(20)


@q("q_semantic_outliers")
def q_semantic_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EMBEDDING QA — the mislabel/outlier sweep run before semantic
    dedup or clustering trusts its labels: per label cell, the top-3
    vectors FARTHEST from the cell's centroid (high distance = likely
    mislabeled, corrupted, or out-of-distribution — the "prune the
    tail" heuristic SemDeDup-style pipelines apply inside a cluster).
    Exact arithmetic: vectors quantize to micro-int (the kmeans
    discipline), the centroid component is floor(s_i/n) computed as an
    exact double floor (component sums stay far under 2⁵³), and the
    squared distance is an integer fold — so the ranking is total-
    ordered (dist² desc, vec_id asc) and hash-checks.  Top-3 per cell
    via operators/rank.py::grouped_topk — per-partition heaps, never a
    full-cell window at data grain.  Scale shape: one cell-grain
    aggregate broadcast back, one integer fold per vector, bounded
    rank."""
    from .operators.kmeans import quantize_micro
    from .operators.rank import grouped_topk

    em = T(spark, sf_dir, "embeddings").select(
        "vec_id", "label", quantize_micro("embedding").alias("qv")
    )
    cell = em.groupBy("label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_c"),
        F.array(
            *[
                F.sum(F.element_at("qv", d + 1)).alias(f"s{d}")
                for d in range(64)
            ]
        ).alias("s_c"),
    )
    j = em.join(F.broadcast(cell), "label")
    dist2 = F.expr(
        """aggregate(
             zip_with(qv, s_c, (u, s)
               -> u - CAST(floor(CAST(s AS DOUBLE)
                                 / CAST(n_c AS DOUBLE)) AS BIGINT)),
             CAST(0 AS BIGINT), (acc, t) -> acc + t * t)"""
    )
    scored = j.select("label", "vec_id", dist2.alias("dist2_micro2"))
    top = grouped_topk(
        scored,
        ["label"],
        [F.col("dist2_micro2").desc(), F.col("vec_id").asc()],
        k=3,
        rank_col="outlier_rank",
    )
    return top.select(
        "label",
        F.col("outlier_rank").cast("int").alias("outlier_rank"),
        "vec_id",
        "dist2_micro2",
        pround(
            F.col("dist2_micro2").cast("double") / F.lit(1e12), 6
        ).alias("dist2"),
    )


@q("q_heaps_law")
def q_heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOKENIZER PLANNING: the Heaps'-law vocabulary-growth curve
    V(N) ≈ K·N^β measured on the corpus itself — the number that
    decides how large a vocabulary a tokenizer needs and how fast OOV
    decays as the corpus grows.  Four cumulative checkpoints (25/50/
    75/100% of the doc-id range): cumulative token count N_p (exact Σ
    dl) and cumulative vocabulary V_p via each type's FIRST-SEEN doc
    (min doc_id per token — one token-grain aggregation, then each
    checkpoint is a filter-count, never a re-tokenization), plus the
    inter-checkpoint growth exponent β = ln(V_p/V_{p−1})/ln(N_p/N_{p−1})
    — exact integer counts into two single logs, pinned.  Scale shape:
    one tokenize pass, one token-grain shuffle; the checkpoint frame is
    4 rows broadcast everywhere."""
    base = _tokenized_docs(spark, sf_dir)
    maxd = base.agg(F.max("doc_id").alias("m"))
    cps = (
        spark.range(1)
        .select(F.explode(F.array(*[F.lit(p) for p in (25, 50, 75, 100)])).alias("pct"))
        .crossJoin(F.broadcast(maxd))
        .select("pct", F.expr("(m * pct) div 100").alias("cut"))
    )
    fs = (
        base.select("doc_id", F.explode("__toks").alias("tok"))
        .groupBy("tok")
        .agg(F.min("doc_id").alias("fseen"))
    )
    vocab = (
        fs.crossJoin(F.broadcast(cps))
        .filter(F.col("fseen") <= F.col("cut"))
        .groupBy("pct", "cut")
        .agg(F.count(F.lit(1)).cast("bigint").alias("vocab_cum"))
    )
    ntok = (
        base.select("doc_id", "dl")
        .crossJoin(F.broadcast(cps))
        .filter(F.col("doc_id") <= F.col("cut"))
        .groupBy("pct", "cut")
        .agg(F.sum("dl").cast("bigint").alias("n_tokens_cum"))
    )
    joined = vocab.join(ntok, ["pct", "cut"])
    w = Window.orderBy("pct")
    return joined.select(
        "pct",
        "cut",
        "n_tokens_cum",
        "vocab_cum",
        pround(
            F.log(
                F.col("vocab_cum").cast("double")
                / F.lag("vocab_cum").over(w).cast("double")
            )
            / F.log(
                F.col("n_tokens_cum").cast("double")
                / F.lag("n_tokens_cum").over(w).cast("double")
            ),
            6,
        ).alias("beta"),
    )


@q("q_roc_curve")
def q_roc_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ROC CURVE itself — the 20-point operating-characteristic
    table behind q_auc_exact's single number (the threshold-picking
    view: which cutoff buys which TPR at which FPR): thresholds at the
    20 equal-width score-bucket boundaries, TP/FP/TN/FN as exact
    integers from DESCENDING cumulative sums over the bucket grain
    (one data-grain aggregation, then constant-size window arithmetic
    — never a per-threshold pass over the data), TPR/FPR/precision as
    pinned divisions.  Scale shape: identical to the calibration
    family — bucket aggregate + bounded-grain windows."""
    scored = _churn_scored_labeled(spark, sf_dir)
    g = (
        scored.withColumn(
            "bucket", F.expr("CAST(least(__s6 div 50000, 19) AS INT)")
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("label").cast("bigint").alias("pos"),
        )
    )
    wdesc = Window.orderBy(F.col("bucket").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wall = Window.partitionBy()
    cum = g.select(
        "bucket",
        F.sum("pos").over(wdesc).alias("tp"),
        (F.sum("n").over(wdesc) - F.sum("pos").over(wdesc)).alias("fp"),
        F.sum("pos").over(wall).alias("p_all"),
        (F.sum("n").over(wall) - F.sum("pos").over(wall)).alias(
            "n_all"
        ),
    )
    return cum.select(
        F.col("bucket").alias("threshold_bucket"),
        F.col("tp").cast("bigint").alias("tp"),
        F.col("fp").cast("bigint").alias("fp"),
        (F.col("p_all") - F.col("tp")).cast("bigint").alias("fn"),
        (F.col("n_all") - F.col("fp")).cast("bigint").alias("tn"),
        pround(
            F.col("tp").cast("double") / F.col("p_all").cast("double"),
            6,
        ).alias("tpr"),
        pround(
            F.col("fp").cast("double") / F.col("n_all").cast("double"),
            6,
        ).alias("fpr"),
        F.when(
            (F.col("tp") + F.col("fp")) > 0,
            pround(
                F.col("tp").cast("double")
                / (F.col("tp") + F.col("fp")).cast("double"),
                6,
            ),
        ).alias("precision"),
    )


@q("q_pr_curve")
def q_pr_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRECISION-RECALL curve + AVERAGE PRECISION — q_roc_curve's
    class-imbalance twin (on rare positives the ROC flatters a model;
    the PR view is what retrieval/fraud/safety teams threshold on):
    the same 20 score-bucket thresholds, TP/FP from descending
    cumulative sums over the bucket grain, precision/recall/F1 as
    pinned divisions, and AP = Σ_k Δrecall_k · precision_k folded with
    the dsum discipline (each bucket's term floored to a ×1e9 bigint
    before the order-free cross-bucket sum) — the step-function AP
    retrieval evals report (Manning et al., IR book §8.4).  Scale
    shape: one data-grain aggregation to 20 buckets, then
    constant-size window arithmetic; AP rides a full-frame window over
    the SAME bounded grain."""
    scored = _churn_scored_labeled(spark, sf_dir)
    g = (
        scored.withColumn(
            "bucket", F.expr("CAST(least(__s6 div 50000, 19) AS INT)")
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("label").cast("bigint").alias("pos"),
        )
    )
    wdesc = Window.orderBy(F.col("bucket").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wall = Window.partitionBy()
    cum = g.select(
        "bucket",
        F.sum("pos").over(wdesc).alias("tp"),
        (F.sum("n").over(wdesc) - F.sum("pos").over(wdesc)).alias("fp"),
        F.sum("pos").over(wall).alias("p_all"),
    )
    prec = F.when(
        (F.col("tp") + F.col("fp")) > 0,
        F.col("tp").cast("double")
        / (F.col("tp") + F.col("fp")).cast("double"),
    ).otherwise(F.lit(0.0))
    rec = F.col("tp").cast("double") / F.col("p_all").cast("double")
    d_tp = F.col("tp") - F.coalesce(
        F.lag("tp").over(Window.orderBy(F.col("bucket").desc())), F.lit(0)
    )
    term9 = F.floor(
        (d_tp.cast("double") / F.col("p_all").cast("double"))
        * prec
        * F.lit(1e9)
    ).cast("bigint")
    curved = cum.select(
        "bucket", "tp", "fp", "p_all",
        prec.alias("__prec"),
        rec.alias("__rec"),
        term9.alias("__t9"),
    )
    return curved.select(
        F.col("bucket").alias("threshold_bucket"),
        F.col("tp").cast("bigint").alias("tp"),
        F.col("fp").cast("bigint").alias("fp"),
        (F.col("p_all") - F.col("tp")).cast("bigint").alias("fn"),
        pround(F.col("__prec"), 6).alias("precision"),
        pround(F.col("__rec"), 6).alias("recall"),
        F.when(
            (F.col("__prec") + F.col("__rec")) > 0,
            pround(
                F.lit(2.0) * F.col("__prec") * F.col("__rec")
                / (F.col("__prec") + F.col("__rec")),
                6,
            ),
        ).alias("f1"),
        pround(
            F.sum("__t9").over(wall).cast("double") / F.lit(1e9), 6
        ).alias("avg_precision"),
    )


@q("q_threshold_selection")
def q_threshold_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPERATING-POINT SELECTION — the step after the ROC/PR tables
    that actually ships: pick the score threshold under three
    criteria a deployment might optimize — Youden's J = TPR − FPR
    (the screening/balanced choice), F1 (the retrieval choice), and
    minimum asymmetric cost with FN:FP = 5:1 (the churn-intervention
    choice: losing a customer costs ~5 outreach emails).  One bucket
    aggregation (the q_roc_curve cumulative machinery), then each
    criterion is an argmax/argmin over the 20-row bucket grain with
    bucket-ascending tie-break; J and F1 compare as identical pinned
    IEEE expressions, cost as exact integers.  Output: one row per
    criterion with the chosen bucket and its full confusion counts —
    the three rows disagreeing is the point (there is no single
    'best' threshold; the criterion is a business decision)."""
    scored = _churn_scored_labeled(spark, sf_dir)
    g = (
        scored.withColumn(
            "bucket", F.expr("CAST(least(__s6 div 50000, 19) AS INT)")
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("label").cast("bigint").alias("pos"),
        )
    )
    wdesc = Window.orderBy(F.col("bucket").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wall = Window.partitionBy()
    cum = g.select(
        "bucket",
        F.sum("pos").over(wdesc).cast("bigint").alias("tp"),
        (F.sum("n").over(wdesc) - F.sum("pos").over(wdesc))
        .cast("bigint")
        .alias("fp"),
        F.sum("pos").over(wall).cast("bigint").alias("p_all"),
        (F.sum("n").over(wall) - F.sum("pos").over(wall))
        .cast("bigint")
        .alias("n_all"),
    ).select(
        "*",
        (F.col("p_all") - F.col("tp")).cast("bigint").alias("fn"),
        (F.col("n_all") - F.col("fp")).cast("bigint").alias("tn"),
    )
    j_ = (
        F.col("tp").cast("double") / F.col("p_all").cast("double")
        - F.col("fp").cast("double") / F.col("n_all").cast("double")
    )
    f1_ = (
        F.lit(2.0) * F.col("tp").cast("double")
        / (2 * F.col("tp") + F.col("fp") + F.col("fn")).cast("double")
    )
    cost_ = (F.lit(5) * F.col("fn") + F.col("fp")).cast("bigint")
    metrics = cum.select(
        "bucket", "tp", "fp", "fn", "tn",
        j_.alias("__j"), f1_.alias("__f1"), cost_.alias("__cost"),
    )

    def pick(order_cols, criterion, value_col):
        w = Window.orderBy(*order_cols)
        return (
            metrics.withColumn("__r", F.row_number().over(w))  # 20 rows
            .filter(F.col("__r") == 1)
            .select(
                F.lit(criterion).alias("criterion"),
                F.col("bucket").alias("threshold_bucket"),
                pround(value_col.cast("double"), 6).alias("value"),
                "tp", "fp", "fn", "tn",
            )
        )

    return (
        pick([F.col("__j").desc(), F.col("bucket").asc()],
             "youden_j", F.col("__j"))
        .unionAll(
            pick([F.col("__f1").desc(), F.col("bucket").asc()],
                 "f1", F.col("__f1"))
        )
        .unionAll(
            pick([F.col("__cost").asc(), F.col("bucket").asc()],
                 "min_cost_fn5", F.col("__cost"))
        )
    )


@q("q_ece")
def q_ece(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MODEL CALIBRATION SUMMARY: Expected Calibration Error of the
    fused logistic score [Guo et al. 2017] — the single number model
    monitoring alerts on, completing the calibration family
    (q_score_calibration draws the diagram, q_isotonic_calibration
    fixes it, this one gates it): ECE = Σ_b (n_b/n)·|acc_b − conf_b|
    over the 20 equal-width score buckets, plus MCE (the worst
    bucket's gap).  Float discipline: per-bucket confidence is the
    exact Σ s6 integer over 10^6·n_b, each bucket's weighted gap is
    floored to a ×1e9 bigint before the cross-bucket sum (the dsum
    discipline), and MCE is a max over per-bucket pinned doubles —
    both order-free.  Scale shape: one data-grain aggregation to the
    20-bucket grain, then constant-size arithmetic."""
    scored = _churn_scored_labeled(spark, sf_dir)
    g = (
        scored.withColumn(
            "bucket", F.expr("CAST(least(__s6 div 50000, 19) AS INT)")
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_b"),
            F.sum("label").cast("bigint").alias("pos"),
            F.sum("__s6").cast("bigint").alias("s6_sum"),
        )
    )
    conf = F.col("s6_sum").cast("double") / (
        F.lit(1000000.0) * F.col("n_b").cast("double")
    )
    acc = F.col("pos").cast("double") / F.col("n_b").cast("double")
    gap = F.abs(acc - conf)
    agg = g.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
        F.sum("n_b").cast("bigint").alias("n"),
        F.sum(
            F.floor(
                F.col("n_b").cast("double") * gap * F.lit(1000000000.0)
            ).cast("bigint")
        ).alias("wgap9"),
        F.max(pround(gap, 6)).alias("mce"),
    )
    return agg.select(
        "n_buckets",
        "n",
        pround(
            F.col("wgap9").cast("double")
            / (F.col("n").cast("double") * F.lit(1000000000.0)),
            6,
        ).alias("ece"),
        "mce",
    )


def _qls_margins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, dl, margin_x1000): the hashed-linear-model margin per
    document — shared by q_quality_linear_scorer (the scoring surface)
    and q_preference_pairs (the DPO dataset construction), so the
    model arithmetic is single-sourced."""
    D = 1024
    base = _tokenized_docs(spark, sf_dir)
    model = spark.range(D).select(
        F.col("id").cast("int").alias("slot"),
        (
            _h32(
                F.concat_ws(
                    "|", F.lit("qls-w-v1"), F.col("id").cast("string")
                )
            )
            % 2001
            - 1000
        )
        .cast("bigint")
        .alias("w"),
    )
    slotted = base.select(
        "doc_id", "dl", F.explode("__toks").alias("tok")
    ).select(
        "doc_id",
        "dl",
        (_h32(F.concat_ws("|", F.lit("qls-v1"), F.col("tok"))) % D)
        .cast("int")
        .alias("slot"),
    )
    return (
        slotted.join(F.broadcast(model), "slot")
        .groupBy("doc_id", "dl")
        .agg(F.sum("w").alias("margin_x1000"))
    )


@q("q_preference_pairs")
def q_preference_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PREFERENCE-PAIR DATASET CONSTRUCTION (the DPO/RLHF data shape):
    within each (lang, source) stratum, pair the highest-margin
    document as `chosen` against the lowest-margin as `rejected`
    (quality margins from the shared hashed linear scorer
    ``_qls_margins``; ties total-ordered on doc_id), emitting the
    margin gap the preference loss will see.  Strata with fewer than
    2 documents cannot form a pair and are dropped — visible in
    n_docs, not silently.  Scale shape: one scorer pass, then two
    rank-1 window picks per stratum (windows PARTITIONED by stratum —
    distributed); at 100 TB this is exactly how preference corpora
    are assembled from quality-scored crawls."""
    m = _qls_margins(spark, sf_dir)
    docs = T(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source"
    )
    j = m.join(docs, "doc_id")
    wc = Window.partitionBy("lang", "source").orderBy(
        F.col("margin_x1000").desc(), F.col("doc_id").asc()
    )
    wr = Window.partitionBy("lang", "source").orderBy(
        F.col("margin_x1000").asc(), F.col("doc_id").asc()
    )
    ranked = j.select(
        "lang",
        "source",
        "doc_id",
        "margin_x1000",
        F.row_number().over(wc).alias("rc"),
        F.row_number().over(wr).alias("rr"),
        F.count(F.lit(1))
        .over(Window.partitionBy("lang", "source"))
        .alias("n_docs"),
    ).filter(F.col("n_docs") >= 2)
    chosen = ranked.filter(F.col("rc") == 1).select(
        "lang",
        "source",
        "n_docs",
        F.col("doc_id").alias("chosen_doc"),
        F.col("margin_x1000").alias("chosen_margin"),
    )
    rejected = ranked.filter(F.col("rr") == 1).select(
        "lang",
        "source",
        F.col("doc_id").alias("rejected_doc"),
        F.col("margin_x1000").alias("rejected_margin"),
    )
    return chosen.join(rejected, ["lang", "source"]).select(
        "lang",
        "source",
        F.col("n_docs").cast("bigint").alias("n_docs"),
        "chosen_doc",
        "chosen_margin",
        "rejected_doc",
        "rejected_margin",
        (F.col("chosen_margin") - F.col("rejected_margin")).alias(
            "margin_gap"
        ),
    )


@q("q_quality_linear_scorer")
def q_quality_linear_scorer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPLY A TRAINED TEXT CLASSIFIER AT CORPUS SCALE — the fastText
    shape [Joulin et al. 2016] that CCNet/LLaMA-style pipelines use for
    quality filtering: a linear model over hashed bag-of-words features,
    scored as one broadcast join + one aggregation.  The "model" is a
    1024-slot weight table generated deterministically (slot weights
    from the portable md5 slice, scaled integers in [-1000, 1000] — in
    production this frame IS the trained model, loaded instead of
    generated; the plumbing is identical).  Per doc: tokens hash to
    slots (hashing trick, no vocabulary pass), the margin accumulates
    as an EXACT bigint (Σ scaled weights — no float summation-order
    caveat), and only the final normalized score and its sigmoid are
    pinned divisions.  Scale shape: the model broadcasts (1024 rows
    regardless of corpus size), the only shuffle is the per-doc margin
    aggregation — the canonical inference plan for a 100 TB corpus."""
    scored = _qls_margins(spark, sf_dir)
    z = F.col("margin_x1000").cast("double") / (
        F.lit(1000.0) * F.col("dl").cast("double")
    )
    return scored.select(
        "doc_id",
        F.col("dl").alias("n_tokens"),
        "margin_x1000",
        pround(z, 6).alias("score"),
        pround(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 6).alias("prob"),
        F.when(F.col("margin_x1000") > 0, 1)
        .otherwise(0)
        .cast("int")
        .alias("quality_pass"),
    )


@q("q_bm25")
def q_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Search scoring: BM25 (k1=1.2, b=0.75) of the fixed query
    {the, and} over the corpus — tf per (doc, term) and df/avgdl from one
    tokenized scan (the shared pinned ``_tokenized_docs`` frame), every
    factor a fixed-order IEEE expression on exact counts, scores pinned.
    No ranking emitted — ordering raw floats across engines is the one
    unsafe step (q_bm25_topk_batch ranks on the PINNED score instead)."""
    terms = ("the", "and")
    base = _tokenized_docs(spark, sf_dir)
    tf = (
        base.select("doc_id", "dl", F.explode("__toks").alias("tok"))
        .filter(F.col("tok").isin(*terms))
        .groupBy("doc_id", "dl", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    stats = tf.withColumn(
        "df", F.count(F.lit(1)).over(Window.partitionBy("tok"))
    )
    corpus = base.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        (F.sum("dl") / F.count(F.lit(1))).alias("avgdl"),
    )
    k1, b = 1.2, 0.75
    idf = F.log(
        (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    score = idf * (
        F.col("tf") * (k1 + 1.0)
        / (F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl")))
    )
    return (
        stats.crossJoin(F.broadcast(corpus))
        .groupBy("doc_id")
        .agg(pround(F.sum(score), 4).alias("bm25"))
    )


@q("q_hybrid_search")
def q_hybrid_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HYBRID RETRIEVAL — min-max SCORE fusion of lexical BM25 and
    dense cosine, the production complement to q_rrf_fusion's
    rank-based fusion (score fusion preserves score GAPS that rank
    fusion flattens; min-max per candidate set is the standard
    normalization since the scales are incomparable — Bruch et al.
    2023 analyze exactly this pair).  Candidates pair the documents
    and embeddings tables on the shared id; BM25 is the pinned 2-term
    score (one IEEE addition — order-free), cosine the pinned
    vec_id=0 similarity (both already hash-proven standalone);
    min/max arrive as a 1-row broadcast; each normalized score is one
    fixed-order expression over pinned inputs with the degenerate
    max=min guarded; hybrid = their mean, ranked on the PINNED value
    with a doc_id tie-break (the q_vector_topk discipline — never
    order raw floats cross-engine).  Scale shape: one tokenized scan,
    one embedding scan, broadcast scalars, TakeOrderedAndProject."""
    terms = ("the", "and")
    base = _tokenized_docs(spark, sf_dir)
    tf = (
        base.select("doc_id", "dl", F.explode("__toks").alias("tok"))
        .filter(F.col("tok").isin(*terms))
        .groupBy("doc_id", "dl", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    stats = tf.withColumn(
        "df", F.count(F.lit(1)).over(Window.partitionBy("tok"))
    )
    corpus = base.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        (F.sum("dl") / F.count(F.lit(1))).alias("avgdl"),
    )
    k1, b = 1.2, 0.75
    idf = F.log(
        (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    sc = idf * (
        F.col("tf") * (k1 + 1.0)
        / (F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl")))
    )
    lex = (
        stats.crossJoin(F.broadcast(corpus))
        .groupBy("doc_id")
        .agg(pround(F.sum(sc), 4).alias("bm25"))
    )
    from .functions.vectors import cosine_similarity

    qv = F.array(
        *[F.lit(float(x)) for x in _query_vector(spark, sf_dir)]
    ).cast("array<double>")
    sem = T(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("doc_id"),
        pround(cosine_similarity(F.col("embedding"), qv), 6).alias(
            "cosine"
        ),
    )
    cand = sem.join(lex, "doc_id", "left").select(
        "doc_id", F.coalesce("bm25", F.lit(0.0)).alias("bm25"), "cosine"
    )
    mm = cand.agg(
        F.min("bm25").alias("l_mn"), F.max("bm25").alias("l_mx"),
        F.min("cosine").alias("s_mn"), F.max("cosine").alias("s_mx"),
    )
    j = cand.crossJoin(F.broadcast(mm))

    def norm(c, mn, mx):
        return F.when(
            F.col(mx) > F.col(mn),
            (F.col(c) - F.col(mn)) / (F.col(mx) - F.col(mn)),
        ).otherwise(F.lit(0.5))

    hybrid = pround(
        F.lit(0.5) * norm("bm25", "l_mn", "l_mx")
        + F.lit(0.5) * norm("cosine", "s_mn", "s_mx"),
        6,
    )
    return (
        j.select("doc_id", "bm25", "cosine", hybrid.alias("hybrid_score"))
        .orderBy(F.col("hybrid_score").desc(), F.col("doc_id").asc())
        .limit(10)
    )


@q("q_bm25_topk_batch")
def q_bm25_topk_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch retrieval (the RAG/eval-harness shape): top-5 BM25 docs for
    a SET of queries in one corpus pass — tf over the union of query
    terms, df before the query join (so shared terms don't inflate it),
    the tiny query-term table broadcast on.  Ranking is SAFE cross-engine
    because it orders by the PINNED score (pround 4) with a doc_id
    tie-break — the same discipline as q_vector_topk; and each query has
    exactly 2 terms, so the per-doc score sum is a single IEEE addition
    (commutative, order-free — ≥3 terms would need the stacked
    fixed-order fold q_chi2_cells demonstrates)."""
    qterms = [
        ("q1", "join"), ("q1", "hash"),
        ("q2", "vector"), ("q2", "scan"),
        ("q3", "data"), ("q3", "merge"),
    ]
    qt = spark.createDataFrame(qterms, "qid string, tok string")
    terms = sorted({t for _, t in qterms})
    base = _tokenized_docs(spark, sf_dir)
    tf = (
        base.select("doc_id", "dl", F.explode("__toks").alias("tok"))
        .filter(F.col("tok").isin(*terms))
        .groupBy("doc_id", "dl", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    stats = tf.withColumn(
        "df", F.count(F.lit(1)).over(Window.partitionBy("tok"))
    ).join(F.broadcast(qt), "tok")
    corpus = base.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        (F.sum("dl") / F.count(F.lit(1))).alias("avgdl"),
    )
    k1, b = 1.2, 0.75
    idf = F.log(
        (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    score = idf * (
        F.col("tf") * (k1 + 1.0)
        / (F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl")))
    )
    scored = (
        stats.crossJoin(F.broadcast(corpus))
        .groupBy("qid", "doc_id")
        .agg(pround(F.sum(score), 4).alias("bm25"))
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("bm25").desc(), F.col("doc_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 5)
        .select("qid", "rnk", "doc_id", "bm25")
    )


@q("q_rrf_fusion")
def q_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: reciprocal-rank fusion (RRF, k=60 — Cormack et
    al. 2009, the standard public recipe) of a lexical BM25 top-50 list
    and a semantic cosine top-50 list over the same corpus — the fusion
    step every hybrid RAG stack runs between its keyword and vector
    retrievers.

    Scale shape: each list is a TakeOrderedAndProject over its own
    corpus scan (per-partition heaps, only k rows cross an exchange), so
    the ranking windows and the full-outer fusion join touch 2×50 rows,
    never the corpus.  Cross-engine safety: both lists rank on PINNED
    scores (pround — the q_bm25 / q_vector_topk discipline) with id
    tie-breaks, and 1/(60+rank) on small integer ranks is per-row IEEE —
    emitted unrounded; the fused top-10 orders on those identical
    doubles with a doc_id tie-break."""
    lex50 = (
        q_bm25(spark, sf_dir)
        .orderBy(F.col("bm25").desc(), F.col("doc_id").asc())
        .limit(50)
    )
    sem50 = brute_force_topk(
        T(spark, sf_dir, "embeddings"), _query_vector(spark, sf_dir), k=50
    )
    # bounded 50-row frames: a plain ordered window here is one tiny
    # partition by construction, not a data-grain funnel
    lexr = lex50.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.col("bm25").desc(), F.col("doc_id").asc()))
        .cast("int")
        .alias("lex_rank"),
    )
    semr = sem50.select(
        F.col("vec_id").alias("doc_id"),
        F.row_number()
        .over(Window.orderBy(F.col("cosine").desc(), F.col("vec_id").asc()))
        .cast("int")
        .alias("sem_rank"),
    )
    fused = lexr.join(semr, "doc_id", "full")
    rrf = F.coalesce(
        F.lit(1.0) / (F.lit(60.0) + F.col("lex_rank").cast("double")),
        F.lit(0.0),
    ) + F.coalesce(
        F.lit(1.0) / (F.lit(60.0) + F.col("sem_rank").cast("double")),
        F.lit(0.0),
    )
    return (
        fused.select("doc_id", "lex_rank", "sem_rank", rrf.alias("rrf"))
        .orderBy(F.col("rrf").desc(), F.col("doc_id").asc())
        .limit(10)
    )


@q("q_mrr")
def q_mrr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking-quality evaluation, BATCH form: Mean Reciprocal Rank of
    the cosine retriever over a 5-query eval set (vec_id 0-4; relevant
    = same label, self excluded) — the eval-harness metric for "where
    does the first right answer land", complementing q_ndcg_at_10's
    graded single-query view.  Float discipline: per-pair cosines are
    pinned, ranks are exact integers from a total order (pinned cosine
    desc, vec_id asc), each reciprocal rank is ONE division, and the
    MRR aggregates floor(1e6/rank) as exact bigints before a single
    pinned division — no float summation order anywhere.  Scale shape:
    the 5-query set broadcasts; scoring is one pass over the
    embeddings (at 100 TB the candidate pass swaps to the IVF/PQ
    retrievers — same eval frame); ranks shuffle once on qid."""
    from .functions.vectors import cosine_similarity

    em = T(spark, sf_dir, "embeddings")
    qs = em.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").cast("array<double>").alias("qv"),
        F.col("label").alias("qlabel"),
    )
    cand = em.select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("cv"),
        "label",
    )
    scored = (
        cand.crossJoin(F.broadcast(qs))
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "qlabel",
            "vec_id",
            "label",
            pround(cosine_similarity("cv", "qv"), 6).alias("cos"),
        )
    )
    ranked = scored.withColumn(
        "r",
        F.row_number().over(
            Window.partitionBy("qid").orderBy(
                F.col("cos").desc(), F.col("vec_id").asc()
            )
        ),
    )
    fr = (
        ranked.filter(F.col("label") == F.col("qlabel"))
        .groupBy("qid", "qlabel")
        .agg(F.min("r").alias("first_rel_rank"))
    )
    return fr.select(
        "qid",
        "qlabel",
        "first_rel_rank",
        pround(
            F.lit(1.0) / F.col("first_rel_rank").cast("double"), 6
        ).alias("rr"),
        pround(
            F.sum(
                F.floor(
                    F.lit(1000000.0)
                    / F.col("first_rel_rank").cast("double")
                ).cast("bigint")
            )
            .over(Window.partitionBy())
            .cast("double")
            / F.lit(5000000.0),
            6,
        ).alias("mrr"),
    )


@q("q_ndcg_at_10")
def q_ndcg_at_10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking-quality evaluation: nDCG@10 of the cosine retriever
    against the graded labels — the eval-harness metric that closes the
    retrieval loop (q_rrf_fusion produces rankings; this scores one).
    DCG = Σ gain_r / log2(r+1) over the retrieved top-10; IDCG over the
    corpus-wide ideal ordering (label desc); nDCG = DCG/IDCG.

    Cross-engine float discipline: the 10 discount weights are FIXED
    repr-exact literals (one Python source feeds both the Column
    expressions and the oracle SQL text — no engine ever calls log), the
    top-10 gains pivot onto ONE row, and DCG is a 10-term
    left-associated chain of products — fixed-order IEEE on identical
    integers and literals, bit-identical cross-engine, so dcg/idcg/ndcg
    are emitted UNROUNDED.  Scale shape: both top-10s are
    TakeOrderedAndProject scans (per-partition heaps); everything after
    runs on ≤10 rows."""
    em = T(spark, sf_dir, "embeddings")
    top = brute_force_topk(em, _query_vector(spark, sf_dir), k=10)
    ranked = top.select(
        "vec_id",
        F.row_number()
        .over(Window.orderBy(F.col("cosine").desc(), F.col("vec_id").asc()))
        .alias("r"),
    ).join(em.select("vec_id", "label"), "vec_id")
    ideal = (
        em.select("vec_id", "label")
        .orderBy(F.col("label").desc(), F.col("vec_id").asc())
        .limit(10)
        .select(
            "label",
            F.row_number()
            .over(
                Window.orderBy(F.col("label").desc(), F.col("vec_id").asc())
            )
            .alias("r"),
        )
    )

    def gains_row(df: DataFrame, prefix: str) -> DataFrame:
        return df.agg(
            *[
                F.max(F.when(F.col("r") == k, F.col("label"))).alias(
                    f"{prefix}{k}"
                )
                for k in range(1, 11)
            ]
        )

    def dcg_expr(prefix: str) -> Column:
        expr = None
        for k in range(1, 11):
            term = F.coalesce(
                F.col(f"{prefix}{k}").cast("double"), F.lit(0.0)
            ) * F.lit(NDCG_WEIGHTS[k - 1])
            expr = term if expr is None else expr + term
        return expr

    g = gains_row(ranked, "g").crossJoin(gains_row(ideal, "i"))
    out = g.select(
        dcg_expr("g").alias("dcg"), dcg_expr("i").alias("idcg")
    )
    return out.select(
        "dcg",
        "idcg",
        F.when(
            F.col("idcg") > F.lit(0.0), F.col("dcg") / F.col("idcg")
        ).alias("ndcg"),
    )


@q("q_chi2_cells")
def q_chi2_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Categorical independence profile: the chi-square contingency table
    of order status × priority — observed counts, expected under
    independence (row·col/N via window sums over the 15-cell table), and
    each cell's (O−E)²/E contribution.  Emitted per cell (the total is a
    trivial downstream sum; summing 15 doubles in-engine would be
    evaluation-order-dependent, the per-cell terms are fixed-order
    IEEE)."""
    od = T(spark, sf_dir, "orders")
    cells = od.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("observed")
    )
    row_t = F.sum("observed").over(Window.partitionBy("o_orderstatus"))
    col_t = F.sum("observed").over(Window.partitionBy("o_orderpriority"))
    tot = F.sum("observed").over(Window.partitionBy())
    with_t = cells.select(
        "o_orderstatus",
        "o_orderpriority",
        "observed",
        (row_t * col_t / tot).alias("expected"),
    )
    contrib = (
        (F.col("observed") - F.col("expected"))
        * (F.col("observed") - F.col("expected"))
        / F.col("expected")
    )
    return with_t.select(
        "o_orderstatus",
        "o_orderpriority",
        "observed",
        pround(F.col("expected"), 6).alias("expected"),
        pround(contrib, 6).alias("chi2_contrib"),
    )


@q("q_cramers_v")
def q_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Effect size for q_chi2_cells' independence test: Cramér's
    V = √(χ²/(N·min(r−1,c−1))) of order status × priority.  χ² is a SUM
    of per-cell doubles — order-dependent if left to a distributed
    aggregate — so the contingency pivots to ONE row via 15 conditional
    counts against the PINNED category sets (the q_onehot contract: a
    drifting category set reshapes the statistic silently) and χ² is an
    explicit left-to-right 15-term chain, fixed-order IEEE in both
    engines.  Each term is algebraically cleared of the early division:
    (O·N − R·C)²/(N·R·C), numerator and denominator exact DECIMAL
    products cast to double only for the final division."""
    from functools import reduce

    od = T(spark, sf_dir, "orders")
    sts = ["F", "O", "P"]
    pris = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    aggs = [
        F.sum(
            F.when(
                (F.col("o_orderstatus") == s)
                & (F.col("o_orderpriority") == p),
                1,
            ).otherwise(0)
        ).alias(f"o_{i}_{j}")
        for i, s in enumerate(sts)
        for j, p in enumerate(pris)
    ]
    one = od.agg(*aggs)
    d19 = lambda c: c.cast("decimal(19,0)")  # noqa: E731
    obs = {
        (i, j): F.col(f"o_{i}_{j}")
        for i in range(len(sts))
        for j in range(len(pris))
    }
    rows = {
        i: reduce(lambda a, b: a + b, [obs[(i, j)] for j in range(len(pris))])
        for i in range(len(sts))
    }
    cols = {
        j: reduce(lambda a, b: a + b, [obs[(i, j)] for i in range(len(sts))])
        for j in range(len(pris))
    }
    n = reduce(lambda a, b: a + b, [rows[i] for i in range(len(sts))])
    terms = []
    for i in range(len(sts)):
        for j in range(len(pris)):
            num = d19(obs[(i, j)]) * d19(n) - d19(rows[i]) * d19(cols[j])
            den = d19(n) * d19(rows[i]) * d19(cols[j])
            terms.append((num * num).cast("double") / den.cast("double"))
    chi2 = reduce(lambda a, b: a + b, terms)
    v = F.sqrt(chi2 / (n.cast("double") * F.lit(2.0)))
    return one.select(
        n.cast("bigint").alias("n_orders"),
        pround(chi2, 6).alias("chi2"),
        pround(v, 6).alias("cramers_v"),
    )


@q("q_mutual_information")
def q_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus QA: per-cell pointwise mutual-information contributions of
    the language × source contingency — "is a source language-skewed?"
    quantified as the (lang, source) decomposition whose sum is I(L;S).
    Complements q_chi2_cells (independence test statistic) and
    q_entropy_profile (marginal entropy) with the dependence MEASURE.

    Counts are exact integers; marginals come from window sums over the
    bounded |langs|×|sources| cell table (never the corpus); each cell's
    term p·log2(N·n_xy/(n_x·n_y)) is per-row IEEE on exact counts,
    pinned.  Emitted per cell — summing the handful of float terms
    in-engine would be evaluation-order-dependent (the q_chi2_cells
    discipline)."""
    docs = T(spark, sf_dir, "documents")
    cells = docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    n_l = F.sum("n_docs").over(Window.partitionBy("lang"))
    n_s = F.sum("n_docs").over(Window.partitionBy("source"))
    tot = F.sum("n_docs").over(Window.partitionBy())
    ln2 = F.lit(0.6931471805599453)
    mi = (
        F.col("n_docs").cast("double")
        / F.col("__n").cast("double")
        * (
            F.log(
                F.col("n_docs").cast("double")
                * F.col("__n").cast("double")
                / (F.col("__nl").cast("double") * F.col("__ns").cast("double"))
            )
            / ln2
        )
    )
    return (
        cells.select(
            "lang",
            "source",
            "n_docs",
            n_l.alias("__nl"),
            n_s.alias("__ns"),
            tot.alias("__n"),
        )
        .select(
            "lang",
            "source",
            "n_docs",
            pround(mi, 6).alias("mi_contrib"),
        )
    )


@q("q_entropy_profile")
def q_entropy_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-profiling: per-category probability and surprisal
    (−p·ln p) of the order-priority distribution — the Shannon-entropy
    decomposition a profiler reports per column.  Counts exact, terms
    per-row IEEE, pinned."""
    od = T(spark, sf_dir, "orders")
    counts = od.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n")
    )
    p = F.col("n") / F.sum("n").over(Window.partitionBy())
    return counts.select(
        "o_orderpriority",
        "n",
        pround(p, 6).alias("p"),
        pround(-p * F.log(p), 6).alias("surprisal"),
    )


@q("q_source_profile")
def q_source_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation dashboard row: per ingestion source — document count,
    mean quality (exact micro-unit pinned sum), mean token length, and
    within-source exact-duplicate rate, in one aggregation pass (the
    quality expression and dup hash share the scan)."""
    docs = T(spark, sf_dir, "documents").withColumn("__toks", tokens("text"))
    qmicro = F.floor(
        quality_score("text", F.col("__toks")) * 1000000.0 + 0.5
    ).cast("bigint")
    per = docs.select(
        "source",
        qmicro.alias("qm"),
        token_count_of(F.col("__toks")).alias("n_tok"),
        F.sha2(F.col("text"), 256).alias("hash"),
    )
    return per.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        pround(
            F.sum("qm").cast("double") / F.count(F.lit(1)) / 1000000.0, 6
        ).alias("mean_quality"),
        pround(
            F.sum("n_tok").cast("double") / F.count(F.lit(1)), 6
        ).alias("mean_tokens"),
        (
            F.count(F.lit(1)) - F.count_distinct(F.col("hash"))
        ).alias("n_dup_docs"),
    )


@q("q_cross_source_dedup")
def q_cross_source_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-source contamination matrix: for every source pair, how many
    content hashes appear in BOTH — the check that catches one crawl
    mirroring another before both are counted as independent data.
    Distinct (source, hash) once, then a self-join keyed on hash
    (bounded per hash by the number of sources, not corpus size).

    Non-vacuity seed (round-6 verdict task 1): the fixture corpus has
    zero naturally shared hashes across sources, so the bare matrix
    certified an EMPTY frame — a hash-match that could not catch an
    inverted join.  The query therefore unions in a deterministic
    mirror crawl (every ``doc_id % 25 == 0`` text re-appears under
    source ``mirror:<source>`` — the `_media_blobs` in-query fixture
    idiom), guaranteeing known non-empty (src, mirror:src) cells at
    every sf while still reporting any genuine cross-source duplicates
    the corpus does contain.  tests/test_dedup_similarity.py pins exact
    pair counts on a synthetic frame with known shared hashes."""
    docs = T(spark, sf_dir, "documents")
    mirror = docs.filter(F.col("doc_id") % 25 == 0).select(
        F.concat(F.lit("mirror:"), F.col("source")).alias("source"),
        "text",
    )
    sh = (
        docs.select("source", "text")
        .unionByName(mirror)
        .select("source", F.sha2(F.col("text"), 256).alias("hash"))
        .distinct()
    )
    a = sh.select(F.col("source").alias("src_a"), "hash")
    b = sh.select(F.col("source").alias("src_b"), F.col("hash").alias("h2"))
    return (
        a.join(b, (a.hash == b.h2) & (F.col("src_a") < F.col("src_b")))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).alias("n_shared_hashes"))
    )


@q("q_dedup_prefix")
def q_dedup_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate signal: documents sharing their first 20 tokens
    (prefix-hash groups with >1 member) — catches template/header
    duplication that exact-hash dedup misses when tails differ.  One
    hash + one aggregation; keeper = min doc_id."""
    docs = (
        T(spark, sf_dir, "documents")
        .filter(F.trim(F.col("text")) != "")
        .withColumn("__toks", tokens("text"))
    )
    prefix_hash = F.substring(
        F.sha2(F.array_join(F.slice(F.col("__toks"), 1, 20), " "), 256), 1, 16
    )
    return (
        docs.select("doc_id", prefix_hash.alias("prefix_hash"))
        .groupBy("prefix_hash")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("keeper"),
        )
        .filter(F.col("n_docs") > 1)
    )


@q("q_repetition_filter")
def q_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition metrics per document: top-token share and
    distinct-token ratio — the within-doc repetition signals pretraining
    filters threshold on.  One explode + two aggregations of the
    (doc, token, count) table; exact integer ratios, pinned."""
    docs = T(spark, sf_dir, "documents").filter(F.trim(F.col("text")) != "")
    tok_counts = (
        docs.select("doc_id", F.explode(tokens("text")).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    per_doc = tok_counts.groupBy("doc_id").agg(
        F.max("cnt").alias("max_cnt"),
        F.sum("cnt").alias("n_tok"),
        F.count(F.lit(1)).alias("n_unique"),
    )
    return per_doc.select(
        "doc_id",
        pround(
            F.col("max_cnt") / F.col("n_tok").cast("double"), 6
        ).alias("top_token_share"),
        pround(
            F.col("n_unique") / F.col("n_tok").cast("double"), 6
        ).alias("distinct_ratio"),
    )


@q("q_minhash_accuracy")
def q_minhash_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-quality evaluation: MinHash Jaccard estimate (fraction of 16
    agreeing signature slots) vs the exact 2-gram Jaccard, per candidate
    pair — the calibration run before trusting LSH thresholds at scale.
    Signatures computed once (persisted: both join branches reuse them);
    exact values from the shingle-intersection path; |error| emitted per
    pair, all deterministic integer/ratio arithmetic."""
    from .operators.dedup import minhash_signatures

    docs = T(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 0)
    exact = ngram_jaccard_pairs(docs, "text", "doc_id", n=2, threshold=0.05)
    sig = minhash_signatures(docs, "text", "doc_id", num_hashes=16, shingle_n=2)
    sig = sig.persist()
    sa = sig.select(
        F.col("doc_id").alias("id_a"),
        *[F.col(f"mh_{i}").alias(f"a_{i}") for i in range(16)],
    )
    sb = sig.select(
        F.col("doc_id").alias("id_b"),
        *[F.col(f"mh_{i}").alias(f"b_{i}") for i in range(16)],
    )
    agree = sum(
        F.when(F.col(f"a_{i}") == F.col(f"b_{i}"), 1).otherwise(0)
        for i in range(16)
    )
    est = agree.cast("double") / 16.0
    return (
        exact.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            "jaccard",
            pround(est, 6).alias("mh_estimate"),
            pround(F.abs(est - F.col("jaccard")), 6).alias("abs_err"),
        )
    )


@q("q_fulfillment_latency")
def q_fulfillment_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supply-chain metric: days from order to FIRST shipment, as a
    histogram — lineitem collapses to per-order min(shipdate) before the
    join (eager agg, the q_star_flagship pattern), datediff is exact
    integer arithmetic."""
    od = T(spark, sf_dir, "orders")
    li = T(spark, sf_dir, "lineitem")
    first_ship = li.groupBy("l_orderkey").agg(
        F.min(F.to_date("l_shipdate")).alias("first_ship")
    )
    lat = od.join(first_ship, od.o_orderkey == first_ship.l_orderkey).select(
        F.datediff(F.col("first_ship"), F.to_date("o_orderdate")).alias(
            "latency_days"
        )
    )
    return lat.groupBy("latency_days").agg(
        F.count(F.lit(1)).alias("n_orders")
    )


@q("q_interval_merge")
def q_interval_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval coalescing (gaps-and-islands on date ranges): merge each
    customer's overlapping-or-adjacent [orderdate, first-ship] open-order
    windows into maximal busy spans — the coverage/uptime question
    ("when did this customer have anything on order at all?") that
    per-interval rows can't answer.  Standard layout: per key, order by
    start, an island opens where start > running max of preceding ends
    (+1 day adjacency); island id = running count of opens; one groupBy
    to the span grain.  Customer-partitioned windows are already
    parallel (data-grain keys); integer epoch-day arithmetic
    end-to-end."""
    od = T(spark, sf_dir, "orders")
    li = T(spark, sf_dir, "lineitem")
    first_ship = li.groupBy("l_orderkey").agg(
        F.min(F.to_date("l_shipdate")).alias("first_ship")
    )
    iv = (
        od.join(first_ship, od.o_orderkey == first_ship.l_orderkey)
        .select(
            F.col("o_custkey").alias("custkey"),
            F.datediff(F.to_date("o_orderdate"), F.lit("1970-01-01")).alias(
                "s"
            ),
            F.datediff(F.col("first_ship"), F.lit("1970-01-01")).alias("e"),
        )
    )
    from .operators.intervals import coalesce_intervals

    return coalesce_intervals(iv, ["custkey"], "s", "e").select(
        "custkey",
        "island",
        F.col("span_start").alias("span_start_day"),
        F.col("span_end").alias("span_end_day"),
        "n_intervals",
    )


@q("q_join_interval_overlap")
def q_join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LARGE×LARGE interval-overlap join via bucketization
    (operators/intervals.py::interval_overlap_pairs): pairs of orders in
    the same nation whose [orderdate, first-ship] open windows overlap —
    the co-open-exposure question — counted per nation.  A plain theta
    join between two fact-sized interval sets plans as a nested loop;
    here each window explodes to its 30-day buckets and candidates come
    from an EQUI-join on (nation, bucket) with the exact overlap
    predicate verifying candidates, so the join shuffles on hash keys
    like any other and the result is IDENTICAL to the theta join (the
    oracle IS the theta formulation).  The orderkey %4 subset bounds the
    quadratic TRUE pair count for the differential check — the join shape,
    not the volume, is what scales."""
    od = T(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 4 == 0)
    li = T(spark, sf_dir, "lineitem")
    cu = T(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    first_ship = li.groupBy("l_orderkey").agg(
        F.min(F.to_date("l_shipdate")).alias("first_ship")
    )
    iv = (
        od.join(first_ship, od.o_orderkey == first_ship.l_orderkey)
        .join(F.broadcast(cu), od.o_custkey == cu.c_custkey)
        .select(
            F.col("c_nationkey").alias("nation"),
            F.col("o_orderkey").alias("okey"),
            F.datediff(F.to_date("o_orderdate"), F.lit("1970-01-01")).alias(
                "d1"
            ),
            F.datediff(F.col("first_ship"), F.lit("1970-01-01")).alias("d2"),
        )
        # the synthetic generator does not order the two dates — the OPEN
        # WINDOW is the span between them, whichever comes first
        .select(
            "nation",
            "okey",
            F.least("d1", "d2").alias("s"),
            F.greatest("d1", "d2").alias("e"),
        )
    )
    from .operators.intervals import interval_overlap_pairs

    pairs = interval_overlap_pairs(
        iv, ["nation"], "okey", "s", "e", bucket_width=30
    )
    return pairs.groupBy("nation").agg(
        F.count(F.lit(1)).alias("n_overlapping_pairs")
    )


@q("q_knn_grid_join")
def q_knn_grid_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-bucketed nearest-neighbor join: every customer finds its
    nearest supplier on a synthetic 2-D plane — the spatial-join shape
    (nearest store, sensor locality, 2-D embeddings) whose naive
    formulation is an all-pairs cross join with an argmin.

    Coordinates derive deterministically from the keys (hundredth-unit
    integers on a 10×10 plane), so both engines synthesize identical
    points with pure integer arithmetic.  Points bucket into 1×1 grid
    cells; the SUPPLIER side replicates to its 3×3 cell neighborhood (a
    bounded ×9 explode of the small side — the interval twin of
    operators/intervals.py bucketization, in two dimensions), candidates
    come from an EQUI-join on the cell — |candidates| ≈ density ×
    |customers|, never |customers|×|suppliers| — and the winner per
    customer is one groupBy min(struct(d2, suppkey)) over an exact
    integer squared distance: no trig, no floats, no cross-engine libm
    risk.  Customers with an empty neighborhood keep NULLs via the left
    join back.  Semantics (pinned by the oracle): nearest WITHIN the 3×3
    neighborhood — the bounded-radius contract of grid KNN."""
    cell = lambda c: F.floor(F.col(c) / F.lit(100.0))  # noqa: E731
    cu = T(spark, sf_dir, "customer").select(
        "c_custkey",
        (F.col("c_custkey") * 37 % 1000).alias("clat"),
        (F.col("c_custkey") * 73 % 1000).alias("clon"),
    )
    su = T(spark, sf_dir, "supplier").select(
        "s_suppkey",
        (F.col("s_suppkey") * 41 % 1000).alias("slat"),
        (F.col("s_suppkey") * 59 % 1000).alias("slon"),
    )
    offs = F.array(*[F.lit(i) for i in (-1, 0, 1)])
    su9 = (
        su.withColumn("dx", F.explode(offs))
        .withColumn("dy", F.explode(offs))
        .select(
            "s_suppkey",
            "slat",
            "slon",
            (cell("slat") + F.col("dx")).alias("cx"),
            (cell("slon") + F.col("dy")).alias("cy"),
        )
    )
    cand = cu.join(
        su9,
        (cell("clat") == su9.cx) & (cell("clon") == su9.cy),
    ).select(
        "c_custkey",
        "s_suppkey",
        (
            (F.col("clat") - F.col("slat"))
            * (F.col("clat") - F.col("slat"))
            + (F.col("clon") - F.col("slon"))
            * (F.col("clon") - F.col("slon"))
        ).alias("d2"),
    )
    best = cand.groupBy("c_custkey").agg(
        F.min(
            F.struct(F.col("d2").alias("d2"), F.col("s_suppkey").alias("sk"))
        ).alias("b")
    )
    return (
        cu.select("c_custkey")
        .join(best, "c_custkey", "left")
        .select(
            "c_custkey",
            F.col("b.sk").alias("nearest_suppkey"),
            F.col("b.d2").alias("d2"),
        )
    )


@q("q_grid_density_clusters")
def q_grid_density_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Density-based spatial clustering (grid DBSCAN): customers on the
    same deterministic 2-D plane as q_knn_grid_join, bucketed into 50×50
    cells; cells holding ≥ 5 points are CORE, 8-adjacent core cells are
    density-connected, and each connected component of core cells is one
    cluster (reported with its cell and point counts).  This is the
    grid-DBSCAN formulation that scales: the point-grain work is ONE
    groupBy down to cell counts; adjacency is the bounded ×9
    neighborhood explode + equi-join of q_knn_grid_join (never a
    point-pair or cell-theta join at data grain); components come from
    `operators.graph.connected_components` (large-star/small-star
    edge contraction, lineage-cut per round) on the bounded core-cell
    graph.  The DuckDB
    oracle rebuilds the identical graph and closes it with a recursive
    CTE.  At tiny SFs no cell reaches density 5 and the result is
    legitimately empty — the driver-gate SF (0.01) yields a non-trivial
    multi-cluster map (verified non-empty there)."""
    from .operators.graph import connected_components

    pts = T(spark, sf_dir, "customer").select(
        "c_custkey",
        (F.col("c_custkey") * 37 % 1000).alias("lat"),
        (F.col("c_custkey") * 73 % 1000).alias("lon"),
    )
    celled = pts.select(
        F.floor(F.col("lat") / F.lit(50.0)).alias("cx"),
        F.floor(F.col("lon") / F.lit(50.0)).alias("cy"),
    )
    core = cut_lineage(
        celled.groupBy("cx", "cy")
        .agg(F.count(F.lit(1)).alias("n_pts"))
        .filter(F.col("n_pts") >= 5)
        .select(
            (F.col("cx") * 100 + F.col("cy")).alias("cell"),
            "cx",
            "cy",
            "n_pts",
        ),
        eager=False,
    )
    offs = F.array(*[F.lit(i) for i in (-1, 0, 1)])
    nb = core.select(
        F.col("cell").alias("id_a"),
        F.explode(offs).alias("dx"),
        F.col("cx"),
        F.col("cy"),
    ).select(
        "id_a",
        (F.col("cx") + F.col("dx")).alias("nx"),
        F.explode(offs).alias("dy"),
        F.col("cy"),
    ).select("id_a", "nx", (F.col("cy") + F.col("dy")).alias("ny"))
    edges = nb.join(
        core.select(
            F.col("cell").alias("id_b"),
            F.col("cx").alias("nx"),
            F.col("cy").alias("ny"),
        ),
        ["nx", "ny"],
    ).select("id_a", "id_b")
    comp = connected_components(edges)
    return (
        comp.join(core, comp.node == core.cell)
        .groupBy(F.col("component").alias("cluster_id"))
        .agg(
            F.count(F.lit(1)).alias("n_cells"),
            F.sum("n_pts").alias("n_points"),
        )
    )


@q("q_overlap_count_sweepline")
def q_overlap_count_sweepline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ENUMERATE-FREE twin of q_join_interval_overlap: the same
    per-nation overlapping-pair count computed by a sweep-line instead of
    materializing pairs — each pair is attributed to its LATER start, so
    the count is Σ over intervals of (# active strictly-earlier-started
    intervals at my start) + (# equal-start intervals with a smaller
    key).  The active count comes from a ±1 event stream (+1 at s, −1 at
    e+1, a 0-delta probe at s) run through the distributed grouped
    cumsum with a (pos, kind, key) total order: ends sort before probes
    before starts at equal positions, which encodes exactly the
    strictly-before/still-open predicate.  Cost is O(n log n) events —
    measured at 10× volume: 3.0 s here vs 43.6 s for the
    pair-enumerating join twin, BOTH returning the identical
    2,185,368,760-pair total (the join materializes those 2.2e9
    intermediate rows; this never does).  The join remains the shape
    when the pairs THEMSELVES are the output.  Same theta-count oracle
    as the join twin — two independent Spark plans and DuckDB all
    agreeing on one number."""
    from .operators.rank import grouped_cumsum

    od = T(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 4 == 0)
    li = T(spark, sf_dir, "lineitem")
    cu = T(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    first_ship = li.groupBy("l_orderkey").agg(
        F.min(F.to_date("l_shipdate")).alias("first_ship")
    )
    iv = (
        od.join(first_ship, od.o_orderkey == first_ship.l_orderkey)
        .join(F.broadcast(cu), od.o_custkey == cu.c_custkey)
        .select(
            F.col("c_nationkey").alias("nation"),
            F.col("o_orderkey").alias("okey"),
            F.datediff(F.to_date("o_orderdate"), F.lit("1970-01-01")).alias(
                "d1"
            ),
            F.datediff(F.col("first_ship"), F.lit("1970-01-01")).alias("d2"),
        )
        # the synthetic generator does not order the two dates — the OPEN
        # WINDOW is the span between them, whichever comes first
        .select(
            "nation",
            "okey",
            F.least("d1", "d2").alias("s"),
            F.greatest("d1", "d2").alias("e"),
        )
    )
    iv = cut_lineage(iv, eager=False)  # three event projections, one scan
    starts = iv.select(
        "nation", F.col("s").alias("pos"), F.lit(2).alias("kind"),
        "okey", F.lit(1).alias("delta"),
    )
    ends = iv.select(
        "nation", (F.col("e") + 1).alias("pos"), F.lit(0).alias("kind"),
        "okey", F.lit(-1).alias("delta"),
    )
    probes = iv.select(
        "nation", F.col("s").alias("pos"), F.lit(1).alias("kind"),
        "okey", F.lit(0).alias("delta"),
    )
    ev = starts.unionAll(ends).unionAll(probes)
    cum = grouped_cumsum(
        ev,
        ["nation"],
        [F.col("pos"), F.col("kind"), F.col("okey")],
        "delta",
        cum_col="active",
    )
    term1 = (
        cum.filter(F.col("kind") == 1)
        .groupBy("nation")
        .agg(F.sum("active").alias("n1"))
    )
    # equal-start pairs: every same-(nation, s) pair overlaps (e >= s),
    # counted once at the larger key
    wts = Window.partitionBy("nation", "s").orderBy("okey")
    term2 = (
        iv.withColumn("r", F.row_number().over(wts) - 1)
        .groupBy("nation")
        .agg(F.sum("r").alias("n2"))
    )
    return (
        term1.join(term2, "nation")
        .select(
            "nation",
            (F.col("n1") + F.col("n2")).alias("n_overlapping_pairs"),
        )
        # match the pair-join twin's frame: nations with zero pairs have
        # no pair rows to group there, so they don't appear here either
        .filter(F.col("n_overlapping_pairs") > 0)
    )


@q("q_backlog_sweepline")
def q_backlog_sweepline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval counting via sweep-line: how many orders are OPEN (ordered
    but not yet first-shipped) on each day — +1/−1 deltas at the interval
    endpoints, one aggregation to per-day net change, one running sum
    over the (days-sized) delta table.  The standard
    concurrent-intervals layout: never a day×order range join."""
    od = T(spark, sf_dir, "orders")
    li = T(spark, sf_dir, "lineitem")
    first_ship = li.groupBy("l_orderkey").agg(
        F.min(F.to_date("l_shipdate")).alias("first_ship")
    )
    spans = od.join(first_ship, od.o_orderkey == first_ship.l_orderkey).select(
        F.to_date("o_orderdate").alias("open_d"), "first_ship"
    )
    deltas = spans.select(
        F.col("open_d").alias("d"), F.lit(1).alias("delta")
    ).unionByName(
        spans.select(
            F.col("first_ship").alias("d"), F.lit(-1).alias("delta")
        )
    )
    daily = deltas.groupBy("d").agg(F.sum("delta").alias("net"))
    return daily.select(
        "d",
        F.sum("net")
        .over(
            Window.orderBy("d").rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
        )
        .alias("open_orders"),
    )


@q("q_hhi")
def q_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market concentration: Herfindahl–Hirschman index of supplier share
    per part, HHI = Σqᵢ²/(Σqᵢ)² from exact decimal power sums — a
    cross-supplier Σshare² would sum doubles in partition order; the
    power-sum form is order-free.  Emits parts supplied by ≥2
    suppliers."""
    li = T(spark, sf_dir, "lineitem")
    per_supp = (
        li.groupBy("l_partkey", "l_suppkey")
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("q")
        )
    )
    per_part = per_supp.groupBy("l_partkey").agg(
        F.count(F.lit(1)).alias("n_suppliers"),
        F.sum("q").cast("double").alias("sq"),
        F.sum(F.col("q") * F.col("q")).cast("double").alias("sqq"),
    )
    return (
        per_part.filter(F.col("n_suppliers") >= 2)
        .select(
            "l_partkey",
            "n_suppliers",
            pround(
                F.col("sqq") / (F.col("sq") * F.col("sq")), 6
            ).alias("hhi"),
        )
    )


@q("q_lorenz_deciles")
def q_lorenz_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz curve points: cumulative revenue share of customer deciles
    (poorest→richest) — DISTRIBUTED decile assignment (global_rank +
    closed-form NTILE, no single-partition window), per-decile DECIMAL
    sums, cumulative share from exact partials over the 10-row decile
    table.  The chartable companion to q_gini."""
    from .operators.rank import global_rank, ntile_from_rank

    rev = (
        T(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("x")
        )
    )
    dec = global_rank(
        rev,
        [F.col("x").asc(), F.col("o_custkey").asc()],
        rank_col="__rank",
        total_col="__n",
    ).withColumn("decile", ntile_from_rank(F.col("__rank"), F.col("__n"), 10))
    per = dec.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum("x").alias("rev_d"),
    )
    cum = F.sum("rev_d").over(
        Window.orderBy("decile").rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
    )
    with_cum = per.withColumn("cum_d", cum).withColumn(
        "total_d", F.max("cum_d").over(Window.partitionBy())
    )
    return with_cum.select(
        "decile",
        "n_customers",
        F.col("rev_d").cast("double").alias("decile_revenue"),
        pround(
            F.col("cum_d").cast("double") / F.col("total_d").cast("double"), 6
        ).alias("cum_share"),
    )


@q("q_referential_audit")
def q_referential_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ETL data-quality audit: orphan foreign keys across the star —
    child rows whose FK misses the parent table, one left-anti count per
    relationship, unioned into a (relation, n_rows, n_orphans) report.
    The conformance check a dimensional load runs before publishing."""
    li = T(spark, sf_dir, "lineitem")
    od = T(spark, sf_dir, "orders")
    cu = T(spark, sf_dir, "customer")
    na = T(spark, sf_dir, "nation")

    def audit(child, fk, parent, pk, name):
        n = child.agg(F.count(F.lit(1)).alias("n_rows"))
        orphans = child.join(
            parent.select(F.col(pk).alias(fk)), fk, "left_anti"
        ).agg(F.count(F.lit(1)).alias("n_orphans"))
        return n.crossJoin(orphans).select(
            F.lit(name).alias("relation"), "n_rows", "n_orphans"
        )

    return (
        audit(li.select("l_orderkey"), "l_orderkey", od, "o_orderkey",
              "lineitem->orders")
        .unionByName(
            audit(od.select("o_custkey"), "o_custkey", cu, "c_custkey",
                  "orders->customer")
        )
        .unionByName(
            audit(cu.select(F.col("c_nationkey").cast("int").alias("c_nationkey")),
                  "c_nationkey", na, "n_nationkey", "customer->nation")
        )
    )


@q("q_weighted_median")
def q_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted median per group: the lineitem quantity at which half the
    revenue weight accumulates (lower weighted median) — the smallest q
    with 2·cum_weight(≤q) ≥ total_weight.  Because the crossing only
    depends on CLASS-cumulative weight, the fact table collapses to
    (returnflag, quantity) grain FIRST (one map-side-combined shuffle,
    ~50 distinct quantities per flag); the ordered DECIMAL cumulative sum
    then runs over that tiny grouped table, not the fact — the previous
    form's ``Window.partitionBy(l_returnflag)`` funneled the whole fact
    through 3 partitions.  Exact decimal weights keep the crossing row
    engine-unambiguous.  The robust-estimator shape percentile() cannot
    express."""
    li = T(spark, sf_dir, "lineitem")
    per_qty = (
        li.groupBy("l_returnflag", "l_quantity")
        .agg(
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias("w")
        )
    )
    ordw = Window.partitionBy("l_returnflag").orderBy(
        F.col("l_quantity").asc()
    )
    cum = per_qty.withColumn(
        "cumw",
        F.sum("w").over(
            ordw.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    ).withColumn(
        "total",
        F.sum("w").over(Window.partitionBy("l_returnflag")),
    )
    return (
        cum.filter(F.col("cumw") * 2 >= F.col("total"))
        .groupBy("l_returnflag")
        .agg(F.min("l_quantity").alias("weighted_median_qty"))
    )


@q("q_weighted_quantile_ladder")
def q_weighted_quantile_ladder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHTED quantile ladder — q_weighted_median generalized to
    p ∈ {10, 25, 50, 75, 90}: the smallest quantity at which p% of the
    REVENUE weight accumulates (what "median order size" should mean
    when orders differ 100× in value; the inventory-planning ladder).
    Same collapse-first shape: the fact table folds to the ~50-row
    (quantity, Σweight) grain before any ordered work, the DECIMAL
    cumulative sum runs on that tiny frame, and each rung is the exact
    integer crossing 100·cumw ≥ p·total — no interpolation, no float
    rank, engine-unambiguous.  The p-rung table is a 5-row literal
    exploded against the grain (never a driver loop).  total_weight is
    emitted as the canonical scale-2 decimal STRING (r10: the registry
    bans DecimalType outputs after the r9 driver-canonicalization
    regression; both engines render DECIMAL(18,2) as identical
    '123.45' strings)."""
    li = T(spark, sf_dir, "lineitem")
    per_qty = li.groupBy("l_quantity").agg(
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias("w")
    )
    ordw = Window.orderBy(F.col("l_quantity").asc())  # ~50-row grain
    cum = per_qty.withColumn(
        "cumw",
        F.sum("w").over(
            ordw.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    ).withColumn("total", F.sum("w").over(Window.partitionBy()))
    ps = F.explode(F.array(*[F.lit(p) for p in (10, 25, 50, 75, 90)]))
    rungs = cum.select("*", ps.alias("p"))
    return (
        rungs.filter(F.col("cumw") * 100 >= F.col("p") * F.col("total"))
        .groupBy("p")
        .agg(
            F.min("l_quantity").alias("weighted_quantile_qty"),
            F.max(F.col("total").cast("decimal(18,2)"))
            .cast("string")
            .alias("total_weight"),
        )
        .orderBy("p")
    )


@q("q_skyline")
def q_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline (Pareto-frontier) operator: customers not dominated on
    (order frequency, total spend) — a point survives iff its spend
    exceeds the max spend of every strictly-higher-frequency point.
    Instead of a quadratic dominance self-join OR a customer-grain global
    range-frame window (single partition), the dominance test collapses to
    the FREQUENCY-CLASS level first: per-class max spend (one shuffle on
    frequency, dozens of classes), a suffix-max window over that tiny
    class table, then a broadcast join back to customers.  Equal-frequency
    points DO dominate on the spend axis, so a survivor must also hold its
    frequency class's max spend (exact ties on both axes are mutually
    non-dominating and all survive)."""
    base = (
        T(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("frequency"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("monetary"),
        )
    )
    cls = base.groupBy("frequency").agg(F.max("monetary").alias("__max_same"))
    # suffix max over the tiny frequency-class table (not the data)
    w = Window.orderBy(F.col("frequency").asc()).rangeBetween(
        1, Window.unboundedFollowing
    )
    cls = cls.withColumn("__max_higher", F.max("__max_same").over(w))
    return (
        base.join(F.broadcast(cls), "frequency")
        .filter(
            (F.col("monetary") == F.col("__max_same"))
            & (
                F.col("__max_higher").isNull()
                | (F.col("monetary") > F.col("__max_higher"))
            )
        )
        .select("o_custkey", "frequency", "monetary")
    )


@q("q_proportional_allocation")
def q_proportional_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-remainder (Hamilton) allocation: split exactly 1000 slots
    across nations proportionally to revenue — floor quotas in pure
    integer arithmetic (revenue in exact cents), the leftover slots going
    to the largest remainders (rank with nation tie-break).  The
    quota/budget op where the parts MUST sum to the whole; every step
    integer, engine-identical."""
    od = T(spark, sf_dir, "orders")
    cu = T(spark, sf_dir, "customer")
    rev = (
        od.join(cu, od.o_custkey == cu.c_custkey)
        .groupBy("c_nationkey")
        .agg(
            (F.sum(F.col("o_totalprice").cast("decimal(18,2)")) * 100)
            .cast("bigint")
            .alias("cents")
        )
    )
    tot = F.sum("cents").over(Window.partitionBy())
    quot = rev.select(
        "c_nationkey",
        "cents",
        F.expr("cents * 1000").alias("num"),
        tot.alias("den"),
    ).select(
        "c_nationkey",
        F.expr("num DIV den").alias("floor_slots"),
        (F.col("num") % F.col("den")).alias("rem"),
    )
    deficit = F.lit(1000) - F.sum("floor_slots").over(Window.partitionBy())
    ranked = quot.withColumn(
        "__rk",
        F.row_number().over(
            Window.orderBy(F.col("rem").desc(), F.col("c_nationkey").asc())
        ),
    ).withColumn("__deficit", deficit)
    return ranked.select(
        "c_nationkey",
        (
            F.col("floor_slots")
            + F.when(F.col("__rk") <= F.col("__deficit"), 1).otherwise(0)
        ).alias("slots"),
    )


@q("q_survivorship")
def q_survivorship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MDM survivorship: merge each exact-duplicate cluster into one golden
    record — keeper = min doc_id, best quality across members (micro-unit
    exact max), provenance = sorted distinct sources.  One aggregation
    per content hash; the merge rules every master-data pipeline encodes."""
    docs = T(spark, sf_dir, "documents").withColumn("__toks", tokens("text"))
    per = docs.select(
        F.sha2(F.col("text"), 256).alias("hash"),
        "doc_id",
        "source",
        F.floor(
            quality_score("text", F.col("__toks")) * 1000000.0 + 0.5
        ).cast("bigint").alias("qm"),
    )
    return per.groupBy("hash").agg(
        F.min("doc_id").alias("keeper"),
        F.count(F.lit(1)).alias("n_members"),
        pround(F.max("qm").cast("double") / 1000000.0, 6).alias(
            "best_quality"
        ),
        F.array_join(
            F.array_sort(F.collect_set("source")), "|"
        ).alias("sources"),
    )


@q("q_ascii_ratio")
def q_ascii_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multilingual corpus QA: per-document non-ASCII character count and
    ratio — the encoding/mojibake tripwire run before tokenizer training.
    A single regexp_replace strips the ASCII range; both engines count
    codepoints."""
    docs = T(spark, sf_dir, "documents").filter(F.length("text") > 0)
    non_ascii = F.length(
        F.regexp_replace(F.col("text"), r"[\x00-\x7F]", "")
    )
    return docs.select(
        "doc_id",
        non_ascii.alias("n_non_ascii"),
        pround(
            non_ascii / F.length("text").cast("double"), 6
        ).alias("non_ascii_ratio"),
    )


@q("q_dedup_threshold_curve")
def q_dedup_threshold_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup threshold tuning curve: candidate-pair counts at a ladder
    of Jaccard cutoffs, from ONE pass over the shingle-intersection pairs
    (conditional aggregation — never one scan per threshold).  The curve
    that picks the LSH banding operating point before a corpus-wide
    run."""
    docs = T(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 0)
    pairs = ngram_jaccard_pairs(docs, "text", "doc_id", n=2, threshold=0.02)
    return pairs.agg(
        F.count(F.lit(1)).alias("pairs_ge_002"),
        F.sum(F.when(F.col("jaccard") >= 0.05, 1).otherwise(0)).alias(
            "pairs_ge_005"
        ),
        F.sum(F.when(F.col("jaccard") >= 0.10, 1).otherwise(0)).alias(
            "pairs_ge_010"
        ),
        F.sum(F.when(F.col("jaccard") >= 0.20, 1).otherwise(0)).alias(
            "pairs_ge_020"
        ),
    )


@q("q_quantile_normalize")
def q_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature engineering: quantile (rank) normalization of event values
    within each event type — map every value to its within-group ECDF
    position (rank − ½)/n, the transform that makes a heavy-tailed
    feature uniform for downstream models.  Event types are
    low-cardinality with data-grain members — exactly the shape a plain
    ``Window.partitionBy(event_type)`` would funnel through ~5 partitions
    — so the rank and the group size come from ONE pass of
    ``operators.rank.grouped_rank`` (range-partitioned, broadcast
    offsets).  The emitted quantile is a per-row division of exact
    integers, pinned."""
    from .operators.rank import grouped_rank

    ev = T(spark, sf_dir, "events").select("event_id", "event_type", "value")
    ranked = grouped_rank(
        ev,
        ["event_type"],
        [F.col("value").asc(), F.col("event_id").asc()],
        rank_col="__rk",
        total_col="__n",
    )
    return ranked.select(
        "event_id",
        "event_type",
        "value",
        pround(
            (F.col("__rk").cast("double") - F.lit(0.5))
            / F.col("__n").cast("double"),
            6,
        ).alias("qnorm"),
    )


@q("q_spearman_by_group")
def q_spearman_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between quantity and extended price per
    return flag — the monotone-association monitor (robust to outliers
    and nonlinearity) that model-monitoring pipelines prefer over Pearson
    for heavy-tailed features.

    Proper average-rank tie handling WITHOUT a single-partition window:
    for a tied run, avg_rank = cum_count − (cnt−1)/2 over per-distinct-
    value counts, so each variable needs one groupBy down to (flag,
    value, cnt) plus one ``operators.rank.grouped_cumsum``
    (range-partitioned) over that already-collapsed frame — the cumsum
    never sees data grain.  Doubling the rank (r2 = 2·cum − cnt + 1)
    keeps it integer; Pearson on ranks is scale-invariant so the 2×
    cancels.

    Shuffle discipline: quantity is a bounded domain (~50 values/flag),
    so its rank table BROADCASTS onto the fact and Σr2x/Σr2x² come from
    that tiny table weighted by counts; the price side then needs NO
    data-grain join-back at all — the per-(flag, price) aggregation
    CARRIES Σr2x within each tie group, so every cross power sum falls
    out of the per-value frame (Σ cy·r2y, Σ r2y·Σr2x, …).  One fact
    shuffle + one range-partitioned cumsum total.  Power sums accumulate
    in DECIMAL(38,0) products (r2 ≈ 2n ⇒ Σr2² ≈ 4n³ — exact past 1e9
    rows/group, and DuckDB's HUGEINT matches); the one float correlation
    at the end is fixed-order IEEE on identical exact sums,
    pround-pinned.  Contrast q_rolling_corr (Pearson, windowed) and
    q_quantile_normalize (ECDF positions from the same rank
    machinery)."""
    from .operators.rank import grouped_cumsum

    li = T(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.floor(F.col("l_quantity") * 100 + F.lit(0.5))
        .cast("bigint")
        .alias("x"),
        F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
        .cast("bigint")
        .alias("y"),
    )
    d12 = lambda c: F.col(c).cast("decimal(12,0)")  # noqa: E731
    d13 = lambda c: F.col(c).cast("decimal(13,0)")  # noqa: E731
    dec = lambda c: F.col(c).cast("decimal(19,0)")  # noqa: E731

    def attach_r2(cum: DataFrame, cnt: str) -> DataFrame:
        """2·avg_rank from a per-value cumulative count — ONE copy of
        the tie identity, whichever machinery produced the cumsum."""
        return cum.withColumn(
            "r2",
            F.lit(2) * F.col("__cum") - F.col(cnt) + F.lit(1),
        )

    def doubled_avg_rank(per: DataFrame, col: str, cnt: str) -> DataFrame:
        return attach_r2(
            grouped_cumsum(
                per,
                ["l_returnflag"],
                [F.col(col).asc()],
                cnt,
                cum_col="__cum",
            ),
            cnt,
        )

    # x side: per-value counts collapse to the bounded domain; the rank
    # table is tiny, so its power sums are count-weighted and the rank
    # map broadcasts onto the fact.  Being VALUE-grain (~50 quantities
    # per flag at any corpus size), its cumsum runs as a plain window —
    # the distributed machinery would spend a range exchange plus a
    # lineage cut on a 150-row frame (the y side, data-grain in distinct
    # values, keeps the range-partitioned form).
    px = li.groupBy("l_returnflag", "x").agg(F.count(F.lit(1)).alias("cx"))
    rx = attach_r2(
        px.withColumn(
            "__cum",
            F.sum("cx").over(
                Window.partitionBy("l_returnflag")
                .orderBy("x")
                .rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        ),
        "cx",
    )
    gx = rx.groupBy("l_returnflag").agg(
        F.sum(dec("cx") * dec("r2")).alias("sx"),
        F.sum(d12("cx") * d13("r2") * d13("r2")).alias("sxx"),
    )

    # y side: carry each tie group's Σr2x through the per-value agg —
    # no join back to data grain.
    lix = li.join(
        F.broadcast(rx.select("l_returnflag", "x", F.col("r2").alias("r2x"))),
        ["l_returnflag", "x"],
    )
    # pre-cut lineage: the cumsum's range exchange runs a boundary-
    # sampling job over its input first — without the cut, the whole
    # upstream (scan -> broadcast join -> shuffle agg) executes twice
    py = cut_lineage(
        lix.groupBy("l_returnflag", "y").agg(
            F.count(F.lit(1)).alias("cy"),
            F.sum("r2x").alias("sr2x"),
        ),
        eager=False,
    )
    ry = doubled_avg_rank(py, "y", "cy")
    gy = ry.groupBy("l_returnflag").agg(
        F.sum("cy").alias("n"),
        F.sum(dec("cy") * dec("r2")).alias("sy"),
        F.sum(d12("cy") * d13("r2") * d13("r2")).alias("syy"),
        F.sum(dec("sr2x") * dec("r2")).alias("sxy"),
    )
    g = gy.join(F.broadcast(gx), "l_returnflag")
    n = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    cov = n * F.col("sxy").cast("double") - sx * sy
    vx = n * F.col("sxx").cast("double") - sx * sx
    vy = n * F.col("syy").cast("double") - sy * sy
    return g.select(
        "l_returnflag",
        F.col("n").cast("bigint").alias("n_rows"),
        pround(
            F.when((vx > F.lit(0.0)) & (vy > F.lit(0.0)), cov / F.sqrt(vx * vy)),
            6,
        ).alias("spearman"),
    )


@q("q_kendall_tau")
def q_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall's τ-b between quantity and discount per return flag — the
    third rank-association lens next to q_spearman_by_group (Spearman)
    and q_rolling_corr (Pearson).  τ is the naive O(n²)-pairs statistic,
    but BOTH variables here have bounded domains (~50 quantities × 11
    discounts), so the scale-correct form collapses the fact table to
    the joint CONTINGENCY TABLE first (one shuffle, ≤550 cells/flag) and
    enumerates concordant/discordant CELL pairs, weighting by cnt·cnt —
    the pair join runs on the bounded cell grain, never on data grain.
    C, D and the tie terms accumulate in DECIMAL(38,0) (pair counts are
    O(N²) — past bigint at ~1e10 rows; DuckDB's HUGEINT matches), and
    the concordant/discordant OUTPUTS are emitted as canonical decimal
    STRINGS (r10 hardening): at 100 TB (~2e11 rows/flag) pair counts
    reach ~1e22 so a BIGINT output would ANSI-overflow, and driver
    result-canonicalization renders Spark DECIMAL(38,0) differently
    from DuckDB HUGEINT (the confirmed r9 board regression) — the
    plain digit string is engine-neutral at every scale; the
    doubled-tie identity τ = 2(C−D)/√((t0−t1)(t0−t2)) with
    t = N(N−1)-style terms avoids any integer halving, and the one float
    expression at the end is fixed-order IEEE on identical exact sums,
    pround-pinned."""
    li = T(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.floor(F.col("l_quantity") + F.lit(0.5)).cast("bigint").alias("x"),
        F.floor(F.col("l_discount") * 100 + F.lit(0.5))
        .cast("bigint")
        .alias("y"),
    )
    cells = cut_lineage(
        li.groupBy("l_returnflag", "x", "y").agg(
            F.count(F.lit(1)).alias("cnt")
        ),
        eager=False,
    )
    d19 = lambda c: c.cast("decimal(19,0)")  # noqa: E731
    a, b = cells.alias("a"), cells.alias("b")
    pairs = a.join(
        b,
        (F.col("a.l_returnflag") == F.col("b.l_returnflag"))
        & (F.col("a.x") < F.col("b.x")),
    ).select(
        F.col("a.l_returnflag").alias("l_returnflag"),
        (d19(F.col("a.cnt")) * d19(F.col("b.cnt"))).alias("w"),
        F.signum((F.col("b.y") - F.col("a.y")).cast("double")).alias("s"),
    )
    cd = pairs.groupBy("l_returnflag").agg(
        F.sum(F.when(F.col("s") > 0, F.col("w")).otherwise(F.lit(0)))
        .cast("decimal(38,0)")
        .alias("c_pairs"),
        F.sum(F.when(F.col("s") < 0, F.col("w")).otherwise(F.lit(0)))
        .cast("decimal(38,0)")
        .alias("d_pairs"),
    )
    tx = (
        cells.groupBy("l_returnflag", "x")
        .agg(F.sum("cnt").alias("t"))
        .groupBy("l_returnflag")
        .agg(
            F.sum(d19(F.col("t")) * d19(F.col("t") - 1))
            .cast("decimal(38,0)")
            .alias("t1"),
            F.sum("t").alias("n"),
        )
    )
    ty = (
        cells.groupBy("l_returnflag", "y")
        .agg(F.sum("cnt").alias("t"))
        .groupBy("l_returnflag")
        .agg(
            F.sum(d19(F.col("t")) * d19(F.col("t") - 1))
            .cast("decimal(38,0)")
            .alias("t2"),
        )
    )
    g = cd.join(F.broadcast(tx), "l_returnflag").join(
        F.broadcast(ty), "l_returnflag"
    )
    t0 = d19(F.col("n")) * d19(F.col("n") - 1)
    den = F.sqrt(
        (t0 - F.col("t1")).cast("double") * (t0 - F.col("t2")).cast("double")
    )
    return g.select(
        "l_returnflag",
        F.col("n").cast("bigint").alias("n_rows"),
        F.col("c_pairs").cast("decimal(38,0)").cast("string")
        .alias("concordant"),
        F.col("d_pairs").cast("decimal(38,0)").cast("string")
        .alias("discordant"),
        pround(
            F.lit(2.0)
            * (F.col("c_pairs") - F.col("d_pairs")).cast("double")
            / den,
            6,
        ).alias("kendall_tau"),
    )


@q("q_ks_test")
def q_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov: the largest ECDF gap between
    URGENT-priority and LOW-priority order totals — the standard
    distribution-drift test a model-monitoring pipeline runs on scores.

    Fully integer until the last row: values become exact cents, one
    groupBy collapses to per-distinct-value counts (c1, c2), and the
    signed gap n2·cum1 − n1·cum2 is ONE cumulative sum of the per-value
    bigint delta d = n2·c1 − n1·c2 (the cross-multiplied form — no float
    ECDFs, no two cumsums).  The cumsum runs range-partitioned
    (``operators.rank.global_cumsum``), never a single-partition window;
    the final argmax is a struct max (largest |gap|, then smallest value).
    D = max|gap| / (n1·n2) only becomes a double in the emitted row.
    Bounds (round-5 verdict task 8 discipline): the cross-multiplied gap
    peaks near n1·n2, overflowing bigint at ~3e9 rows PER ARM — ANSI
    mode fails loudly there; rescale counts (or sample arms) beyond it.
    Separately, past ~9.5e7 rows per arm n1·n2 exceeds 2^53 and the
    final int→double conversions round — a ≤2^-52 RELATIVE error on D,
    invisible at 6-dp display and parity-safe either way (int64→double
    rounds half-even identically on both engines)."""
    from .operators.rank import global_cumsum

    pri = F.col("o_orderpriority")
    od = T(spark, sf_dir, "orders").filter(pri.isin("1-URGENT", "5-LOW"))
    v = F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5)).cast(
        "bigint"
    )
    g = (
        od.select(
            v.alias("v"),
            F.when(pri == "1-URGENT", 1).otherwise(0).alias("g1"),
            F.when(pri == "5-LOW", 1).otherwise(0).alias("g2"),
        )
        .groupBy("v")
        .agg(
            F.sum("g1").cast("bigint").alias("c1"),
            F.sum("g2").cast("bigint").alias("c2"),
        )
    )
    tot = g.agg(
        F.sum("c1").cast("bigint").alias("n1"),
        F.sum("c2").cast("bigint").alias("n2"),
    )
    gd = g.crossJoin(F.broadcast(tot)).select(
        "v",
        (F.col("n2") * F.col("c1") - F.col("n1") * F.col("c2")).alias("d"),
        "n1",
        "n2",
    )
    cum = global_cumsum(gd, [F.col("v")], "d", cum_col="gap")
    best = cum.agg(
        F.max(
            F.struct(F.abs(F.col("gap")).alias("a"), (-F.col("v")).alias("nv"))
        ).alias("s"),
        F.max("n1").alias("n1"),
        F.max("n2").alias("n2"),
    )
    return best.select(
        "n1",
        "n2",
        pround(
            F.col("s.a").cast("double")
            / (F.col("n1") * F.col("n2")).cast("double"),
            6,
        ).alias("ks"),
        ((-F.col("s.nv")).cast("double") / F.lit(100.0)).alias("at_value"),
    )


@q("q_ks_by_segment")
def q_ks_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_ks_test sliced by customer market segment — the fairness/drift
    view (a distribution shift invisible in aggregate can sit inside one
    segment).  Inherits q_ks_test's bounds (bigint gap overflow ~3e9
    rows/arm/segment; ≤2^-52 relative D error past n1·n2 > 2^53, both
    documented there).  Same integer cross-multiplied form, but the signed-gap
    cumsum runs per segment via ``operators.rank.grouped_cumsum`` (the
    grouped twin of the global two-phase cumsum): segments are
    low-cardinality with data-grain members, exactly the shape a plain
    ``Window.partitionBy(segment)`` would funnel through 5 partitions.
    One row per segment: n1, n2, D, and the value where the gap peaks."""
    from .operators.rank import grouped_cumsum

    pri = F.col("o_orderpriority")
    od = T(spark, sf_dir, "orders").filter(pri.isin("1-URGENT", "5-LOW"))
    cu = T(spark, sf_dir, "customer").select(
        F.col("c_custkey"), F.col("c_mktsegment").alias("segment")
    )
    v = F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5)).cast(
        "bigint"
    )
    g = (
        od.join(cu, od.o_custkey == cu.c_custkey)
        .select(
            "segment",
            v.alias("v"),
            F.when(pri == "1-URGENT", 1).otherwise(0).alias("g1"),
            F.when(pri == "5-LOW", 1).otherwise(0).alias("g2"),
        )
        .groupBy("segment", "v")
        .agg(
            F.sum("g1").cast("bigint").alias("c1"),
            F.sum("g2").cast("bigint").alias("c2"),
        )
    )
    tot = g.groupBy("segment").agg(
        F.sum("c1").cast("bigint").alias("n1"),
        F.sum("c2").cast("bigint").alias("n2"),
    )
    gd = g.join(F.broadcast(tot), "segment").select(
        "segment",
        "v",
        (F.col("n2") * F.col("c1") - F.col("n1") * F.col("c2")).alias("d"),
        "n1",
        "n2",
    )
    cum = grouped_cumsum(gd, ["segment"], [F.col("v")], "d", cum_col="gap")
    return (
        cum.groupBy("segment")
        .agg(
            F.max(
                F.struct(
                    F.abs(F.col("gap")).alias("a"), (-F.col("v")).alias("nv")
                )
            ).alias("s"),
            F.max("n1").alias("n1"),
            F.max("n2").alias("n2"),
        )
        .select(
            "segment",
            "n1",
            "n2",
            pround(
                F.col("s.a").cast("double")
                / (F.col("n1") * F.col("n2")).cast("double"),
                6,
            ).alias("ks"),
            ((-F.col("s.nv")).cast("double") / F.lit(100.0)).alias("at_value"),
        )
    )


@q("q_psi_drift")
def q_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between 1995 and 1996 order totals, per
    fixed bin — the model-monitoring drift score, emitted PER BIN (which
    bin moved is the actionable output; a scalar PSI would also need a
    cross-row float sum, which is exactly what engine-stable pipelines
    avoid).  Counts are exact integers with add-one smoothing (empty bins
    stay finite), every probability is an exact-rational double, and the
    contribution (p−q)·ln(p/q) is a fixed-order per-row IEEE expression
    pinned at 6 dp.  One scan, one 10-row groupBy, totals broadcast."""
    od = T(spark, sf_dir, "orders")
    yr = F.year("o_orderdate")
    bin_ = F.least(F.lit(9), F.floor(F.col("o_totalprice") / F.lit(50000.0))).cast(
        "bigint"
    )
    g = (
        od.filter(yr.isin(1995, 1996))
        .select(
            bin_.alias("bin"),
            F.when(yr == 1995, 1).otherwise(0).alias("r"),
            F.when(yr == 1996, 1).otherwise(0).alias("c"),
        )
        .groupBy("bin")
        .agg(
            F.sum("r").cast("bigint").alias("c_ref"),
            F.sum("c").cast("bigint").alias("c_cur"),
        )
    )
    tot = g.agg(
        F.sum("c_ref").cast("bigint").alias("n_ref"),
        F.sum("c_cur").cast("bigint").alias("n_cur"),
    )
    k = 10  # smoothing classes: one per bin
    p = (F.col("c_ref") + F.lit(1)).cast("double") / (
        F.col("n_ref") + F.lit(k)
    ).cast("double")
    q_ = (F.col("c_cur") + F.lit(1)).cast("double") / (
        F.col("n_cur") + F.lit(k)
    ).cast("double")
    return (
        g.crossJoin(F.broadcast(tot))
        .select(
            "bin",
            "c_ref",
            "c_cur",
            pround(p, 6).alias("p_ref"),
            pround(q_, 6).alias("p_cur"),
            pround((p - q_) * F.log(p / q_), 6).alias("psi_contrib"),
        )
    )


@q("q_js_divergence")
def q_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon divergence between the 1995 and 1996 order-total
    distributions, per fixed bin — the symmetric, bounded companion to
    q_psi_drift (PSI blows up on rare bins; JS is capped at 1 bit and is
    the distance LLM data work quotes for distribution shift).  Same
    scaffold: exact integer bin counts, add-one smoothing, per-row
    pinned contribution ½·p·log2(p/m) + ½·q·log2(q/m) with m=(p+q)/2 —
    emitted PER BIN so no cross-row float sum exists anywhere."""
    od = T(spark, sf_dir, "orders")
    yr = F.year("o_orderdate")
    bin_ = F.least(F.lit(9), F.floor(F.col("o_totalprice") / F.lit(50000.0))).cast(
        "bigint"
    )
    g = (
        od.filter(yr.isin(1995, 1996))
        .select(
            bin_.alias("bin"),
            F.when(yr == 1995, 1).otherwise(0).alias("r"),
            F.when(yr == 1996, 1).otherwise(0).alias("c"),
        )
        .groupBy("bin")
        .agg(
            F.sum("r").cast("bigint").alias("c_ref"),
            F.sum("c").cast("bigint").alias("c_cur"),
        )
    )
    tot = g.agg(
        F.sum("c_ref").cast("bigint").alias("n_ref"),
        F.sum("c_cur").cast("bigint").alias("n_cur"),
    )
    k = 10
    p = (F.col("c_ref") + F.lit(1)).cast("double") / (
        F.col("n_ref") + F.lit(k)
    ).cast("double")
    q_ = (F.col("c_cur") + F.lit(1)).cast("double") / (
        F.col("n_cur") + F.lit(k)
    ).cast("double")
    m = (p + q_) / F.lit(2.0)
    # ln(2) as a literal: engines need not round log(2.0) identically
    ln2 = F.lit(0.6931471805599453)
    js = (
        F.lit(0.5) * p * (F.log(p / m) / ln2)
        + F.lit(0.5) * q_ * (F.log(q_ / m) / ln2)
    )
    return (
        g.crossJoin(F.broadcast(tot))
        .select(
            "bin",
            "c_ref",
            "c_cur",
            pround(js, 6).alias("js_contrib"),
        )
    )


@q("q_mix_shift")
def q_mix_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BI variance decomposition (mix-shift analysis): per nation, split
    the 1996→1997 revenue change into a volume effect ((v₁−v₀)·p₀) and a
    price/mix effect (v₁·(p₁−p₀)) — the two-factor bridge that explains
    WHY a total moved.  Volumes are exact counts, revenues exact decimal
    sums, the effects fixed-order IEEE on those; the identity
    volume+price = Δrevenue holds exactly in the emitted (pinned)
    values."""
    od = T(spark, sf_dir, "orders")
    cu = T(spark, sf_dir, "customer")
    na = T(spark, sf_dir, "nation")
    yr = F.year("o_orderdate")
    base = (
        od.filter(yr.isin(1996, 1997))
        .join(cu, od.o_custkey == cu.c_custkey)
        .join(F.broadcast(na), cu.c_nationkey == na.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.sum(F.when(yr == 1996, 1).otherwise(0)).alias("v0"),
            F.sum(F.when(yr == 1997, 1).otherwise(0)).alias("v1"),
            F.sum(
                F.when(
                    yr == 1996, F.col("o_totalprice").cast("decimal(18,2)")
                ).otherwise(F.lit(0).cast("decimal(18,2)"))
            ).cast("double").alias("r0"),
            F.sum(
                F.when(
                    yr == 1997, F.col("o_totalprice").cast("decimal(18,2)")
                ).otherwise(F.lit(0).cast("decimal(18,2)"))
            ).cast("double").alias("r1"),
        )
        .filter((F.col("v0") > 0) & (F.col("v1") > 0))
    )
    p0 = F.col("r0") / F.col("v0")
    p1 = F.col("r1") / F.col("v1")
    return base.select(
        "n_name",
        pround((F.col("v1") - F.col("v0")) * p0, 4).alias("volume_effect"),
        pround(F.col("v1") * (p1 - p0), 4).alias("price_effect"),
        pround(F.col("r1") - F.col("r0"), 4).alias("total_change"),
    )


@q("q_business_days")
def q_business_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SLA metric: BUSINESS days (Mon-Fri) from order to first shipment,
    as a histogram — closed-form integer weekday arithmetic (full weeks ×5
    plus a ≤6-day remainder scanned with a filtered sequence), no calendar
    join, no UDF.  Epoch-day math keeps both engines bucket-identical
    (epoch day 0 = Thursday → dow 0 = Monday via +3 mod 7)."""
    od = T(spark, sf_dir, "orders")
    li = T(spark, sf_dir, "lineitem")
    first_ship = li.groupBy("l_orderkey").agg(
        F.min(F.to_date("l_shipdate")).alias("first_ship")
    )
    spans = (
        od.join(first_ship, od.o_orderkey == first_ship.l_orderkey)
        .select(
            F.datediff(
                F.col("first_ship"), F.to_date("o_orderdate")
            ).alias("days"),
            (
                (F.unix_timestamp(F.to_date("o_orderdate")) / 86400)
                .cast("bigint") + 3
            ).alias("sd"),
        )
        # the synthetic dates include ship-before-order rows; negative
        # spans are invalid SLAs (and make DIV/% engine-divergent) — a
        # production pipeline quarantines them (q_referential_audit style)
        .filter(F.col("days") >= 0)
    )
    rem = F.col("days") % 7
    start_dow = F.col("sd") % 7
    extra = F.when(rem == 0, F.lit(0)).otherwise(
        F.size(
            F.filter(
                F.sequence(F.lit(0), rem - 1),
                lambda i: (start_dow + i) % 7 < 5,
            )
        )
    )
    busdays = (F.expr("days DIV 7") * 5 + extra).alias("business_days")
    return spans.groupBy(busdays).agg(F.count(F.lit(1)).alias("n_orders"))


# ---------------------------------------------------------------------------
# Flagship star query (entry + declared)
# ---------------------------------------------------------------------------

@q("q_star_flagship")
def q_star_flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star-schema rollup: revenue per region/nation/year — the reference's
    BI target query shape (readme.md:3) over the TPC-H-ish star.

    Eager aggregation: lineitem collapses to per-order partials BEFORE the
    join chain (Catalyst does not push aggregates below joins itself), so
    the join probes |orders| rows instead of |lineitem| — a 4x measured
    win here and the dominant saving when the fact side is 100 TB.  Final
    sums re-aggregate the partials; results are identical.
    """
    li = T(spark, sf_dir, "lineitem")
    od = T(spark, sf_dir, "orders")
    cu = T(spark, sf_dir, "customer")
    na = T(spark, sf_dir, "nation")
    re = T(spark, sf_dir, "region")
    # Scaled-bigint partials: integer sums associate exactly, so partial-
    # then-final summation equals the oracle's single-level sum bit-for-bit
    # (and stays in codegen — see functions/rounding.py::dsum).
    disc = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    per_order = li.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("nl"),
        F.sum(F.floor(disc * F.lit(1e4) + F.lit(0.5))).alias("rev_scaled"),
    )
    return (
        per_order.join(od, per_order.l_orderkey == od.o_orderkey)
        .join(cu, od.o_custkey == cu.c_custkey)
        .join(F.broadcast(na), cu.c_nationkey == na.n_nationkey)
        .join(F.broadcast(re), na.n_regionkey == re.r_regionkey)
        .groupBy(
            "r_name", "n_name", F.year("o_orderdate").alias("order_year")
        )
        .agg(
            F.sum("nl").alias("n_lines"),
            (F.sum("rev_scaled") / F.lit(1e4)).alias("revenue"),
        )
    )


# ---------------------------------------------------------------------------
# Deterministic sketches & physical-layout operators (round 2).
#
# The builtin Spark sketches (q_approx_count_distinct / q_approx_percentile)
# are rows-only because their estimators are engine-specific.  The sketches
# below are built from FIRST PRINCIPLES as DataFrame expressions over an
# explicit md5 hash, so the identical algorithm runs in DuckDB and the
# results are hash-checked — the sketch itself becomes portable state that a
# 1000-executor cluster can merge associatively (registers / k-mins /
# counters / bit positions are all plain rows).


def _h32(col: "F.Column") -> "F.Column":
    """First 32 bits of md5 of a string column as a non-negative bigint —
    the portable hash every sketch below keys on (bit 63 never set, so no
    signed-overflow divergence between engines)."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("bigint")


@q("q_hll_distinct")
def q_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct-count built from scratch (Flajolet et al. 2007):
    m=256 registers, bucket = top 8 hash bits, rho = leading-zero rank of the
    next 32 bits via length(bin(h)) — exact integer ops, so unlike the
    builtin approx_count_distinct this sketch is engine-identical and
    hash-checked.  The register table is the mergeable state: at 100 TB each
    executor emits 256 rows and a single 256-row reduce finishes the job.
    The 2^-reg harmonic sum is computed as an exact bigint sum of
    2^(32-reg), so the only float ops are two fixed-order scalar divides."""
    li = T(spark, sf_dir, "lineitem").select(
        F.concat_ws("-", "l_orderkey", "l_linenumber").alias("k")
    )
    h = F.md5(F.col("k"))
    h1 = F.conv(F.substring(h, 1, 8), 16, 10).cast("bigint")
    h2 = F.conv(F.substring(h, 9, 8), 16, 10).cast("bigint")
    regs = (
        li.select(
            (h1 % 256).alias("bucket"),
            (F.lit(33) - F.length(F.bin(h2))).alias("rho"),
        )
        .groupBy("bucket")
        .agg(F.max("rho").alias("reg"))
    )
    alpha = 0.7213 / (1.0 + 1.079 / 256.0)
    summary = regs.agg(
        F.count(F.lit(1)).alias("m_obs"),
        F.sum(
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(32 - reg AS INT))")
        ).alias("s_obs"),
    ).select(
        (F.lit(256) - F.col("m_obs")).alias("m_empty"),
        (
            F.col("s_obs")
            + (F.lit(256) - F.col("m_obs")) * F.lit(4294967296)
        ).alias("s_total"),
    )
    exact = li.agg(F.countDistinct("k").alias("exact_distinct"))
    est = F.lit(alpha) * F.lit(65536.0) * F.lit(4294967296.0) / F.col(
        "s_total"
    )
    return summary.crossJoin(exact).select(
        F.lit(256).alias("m"),
        "m_empty",
        pround(est, 4).alias("est_distinct"),
        "exact_distinct",
        pround(
            (est - F.col("exact_distinct")) / F.col("exact_distinct"), 4
        ).alias("rel_err"),
    )


@q("q_kmv_distinct")
def q_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-minimum-values distinct sketch (Bar-Yossef et al. 2002) per
    l_returnflag: keep the k=64 smallest 32-bit hashes of the distinct
    order keys; est = (k-1)·2^32 / kth_min.  The k-min set is mergeable
    state, and the evaluation matches: ``operators.rank.grouped_topk``
    keeps each partition's local 64 smallest (the per-executor sketch),
    then ranks only the ≤ 64·P survivors per group — the final per-group
    window is bounded by construction, never distinct-key-grain.  Integer
    hashes and a deterministic (hash, key) tie-break keep both engines
    identical."""
    from .operators.rank import grouped_topk

    d = (
        T(spark, sf_dir, "lineitem")
        .select("l_returnflag", "l_orderkey")
        .distinct()
        .withColumn("h", _h32(F.col("l_orderkey").cast("string")))
    )
    kth = (
        grouped_topk(
            d, ["l_returnflag"], [F.col("h"), F.col("l_orderkey")], 64
        )
        .filter(F.col("rn") == 64)
        .select("l_returnflag", F.col("h").alias("kth_hash"))
    )
    exact = d.groupBy("l_returnflag").agg(
        F.countDistinct("l_orderkey").alias("exact_distinct")
    )
    est = F.lit(63.0) * F.lit(4294967296.0) / F.col("kth_hash")
    return kth.join(exact, "l_returnflag").select(
        "l_returnflag",
        "kth_hash",
        pround(est, 4).alias("est_distinct"),
        "exact_distinct",
        pround(
            (est - F.col("exact_distinct")) / F.col("exact_distinct"), 4
        ).alias("rel_err"),
    )


@q("q_kmv_set_ops")
def q_kmv_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV sketch SET OPERATIONS (Beyer et al., "On Synopses for
    Distinct-Value Estimation Under Multiset Operations", SIGMOD 2007;
    public): union and intersection cardinality estimated from two
    mergeable k-min sketches WITHOUT rescanning the data — the
    cross-population question ("how many customers ordered in 1997 OR
    1998 / AND both?") that per-population sketches answer by merging
    64-row states.  Union sketch = k smallest of the merged k-min sets
    (a superset of the true union's k-mins, so exact); intersection via
    the Jaccard-style ratio rho = |union-sketch members in BOTH
    sketches| / k, est_inter = rho * est_union.  Each sketch is a
    TakeOrderedAndProject (no global sort); everything after runs on
    <= 128-row frames.  Deterministic md5 hashes keep both engines
    identical; exact counts ride along for calibration."""
    od = T(spark, sf_dir, "orders")
    k = 64

    def pop(year: int) -> DataFrame:
        return (
            od.filter(F.year("o_orderdate") == year)
            .select("o_custkey")
            .distinct()
            .withColumn("h", _h32(F.col("o_custkey").cast("string")))
        )

    a, b = pop(1997), pop(1998)
    # each 64-row sketch feeds the union sketch AND an in-both semi-join,
    # and the union sketch two consumers — pin the tiny frames so the
    # orders scan behind each TakeOrdered runs once, not per consumer
    # (cut_lineage, not persist(): self-freeing RDD blocks, no
    # CacheManager entry left behind per sweep invocation)
    ska = cut_lineage(a.orderBy("h", "o_custkey").limit(k), eager=False)
    skb = cut_lineage(b.orderBy("h", "o_custkey").limit(k), eager=False)
    usk = cut_lineage(
        ska.unionAll(skb).distinct().orderBy("h", "o_custkey").limit(k),
        eager=False,
    )
    kth = usk.agg(F.max("h").alias("kth_hash"))
    n_both = (
        usk.join(ska.select("o_custkey"), "o_custkey", "left_semi")
        .join(skb.select("o_custkey"), "o_custkey", "left_semi")
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    exact = (
        a.select("o_custkey")
        .unionAll(b.select("o_custkey"))
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_pops"))
        .agg(
            F.count(F.lit(1)).alias("exact_union"),
            F.sum(F.when(F.col("n_pops") == 2, 1).otherwise(0)).alias(
                "exact_inter"
            ),
        )
    )
    est_u = F.lit(63.0) * F.lit(4294967296.0) / F.col("kth_hash")
    est_i = F.col("n_both").cast("double") * est_u / F.lit(64.0)
    return (
        kth.crossJoin(n_both)
        .crossJoin(exact)
        .select(
            F.lit(64).alias("k"),
            "kth_hash",
            "n_both",
            pround(est_u, 4).alias("est_union"),
            "exact_union",
            pround(est_i, 4).alias("est_inter"),
            "exact_inter",
        )
    )


@q("q_countmin_heavy")
def q_countmin_heavy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch (Cormode & Muthukrishnan 2005) over order
    customers: d=4 hash rows × w=256 counters, point estimate = min over
    rows — always an overcount, never under.  The counter table (≤1024
    rows) is the mergeable state: counters add across executors.  Output
    compares sketch estimate vs exact count for the top-10 heaviest
    customers (deterministic custkey tie-break)."""
    od = T(spark, sf_dir, "orders").select("o_custkey")
    js = F.explode(F.array(*[F.lit(i) for i in range(4)])).alias("j")
    rows = od.select("o_custkey", js)
    slot = (
        _h32(F.concat_ws(":", "j", "o_custkey")) % 256
    ).alias("slot")
    counters = rows.select("j", slot).groupBy("j", "slot").agg(
        F.count(F.lit(1)).alias("c")
    )
    probes = od.distinct().select("o_custkey", js).select(
        "o_custkey", "j", slot
    )
    est = (
        probes.join(counters, ["j", "slot"])
        .groupBy("o_custkey")
        .agg(F.min("c").alias("est_count"))
    )
    exact = od.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("exact_count")
    )
    # top-10 via orderBy().limit() — plans TakeOrderedAndProject
    # (per-partition heaps, 10 rows per partition cross the wire), not a
    # single-partition row_number window.
    return (
        est.join(exact, "o_custkey")
        .orderBy(F.col("exact_count").desc(), "o_custkey")
        .limit(10)
        .select(
            "o_custkey",
            "est_count",
            "exact_count",
            (F.col("est_count") - F.col("exact_count")).alias("overcount"),
        )
    )


@q("q_bloom_semijoin")
def q_bloom_semijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter semi-join pre-filter: high-balance customers
    (c_acctbal > 9000) populate a m=65536, k=3 bloom bitmap (distinct bit
    positions as rows — the broadcastable state); order customers pass if
    all 3 probe positions are set.  Output = passing customers with the
    exact-membership flag, so false positives are visible data, not
    hidden error.  At 100 TB this is the classic shuffle-avoider: ship the
    ~64k-row bit set to every executor instead of shuffling the fact
    table for an early semi-join."""
    members = (
        T(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 9000)
        .select("c_custkey")
    )
    ks = F.explode(F.array(*[F.lit(i) for i in range(3)])).alias("i")
    pos = (_h32(F.concat_ws(":", "i", "c_custkey")) % 65536).alias("pos")
    bits = members.select("c_custkey", ks).select(pos).distinct()
    probe_keys = T(spark, sf_dir, "orders").select("o_custkey").distinct()
    probes = probe_keys.select(
        "o_custkey", ks
    ).select(
        "o_custkey",
        (_h32(F.concat_ws(":", "i", "o_custkey")) % 65536).alias("pos"),
    )
    passing = (
        probes.join(F.broadcast(bits), "pos")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("hits"))
        .filter(F.col("hits") == 3)
        .select("o_custkey")
    )
    return passing.join(
        members.withColumn("__m", F.lit(1)),
        passing.o_custkey == members.c_custkey,
        "left",
    ).select(
        "o_custkey",
        F.col("__m").isNotNull().alias("is_member"),
    )


@q("q_littles_law")
def q_littles_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QUEUEING SANITY CHECK — Little's law L = λ·W on the order→
    first-ship pipeline, with the law's failure mode made measurable:
    λ = arrivals per day over the observed arrival span, W = mean
    time-in-system (synthetic ship dates can precede the order —
    clamped to same-day fulfillment, documented), and L = the TIME-
    AVERAGE backlog actually integrated inside the window (each
    order's open-interval overlap with [first, last arrival] — exact
    integer day counts).  The ratio L/(λ·W) equals Σoverlap/Σwait: it
    is 1 exactly when no order's service extends past the window and
    drops below 1 by exactly the CENSORED tail mass — the
    right-truncation bias every latency dashboard suffers, here as a
    first-class number (censored_days).  Scale shape: one line-grain
    aggregation, one global aggregate."""
    li = T(spark, sf_dir, "lineitem")
    first_ship = li.groupBy("l_orderkey").agg(
        F.min(F.to_date("l_shipdate")).alias("ship")
    )
    od = T(spark, sf_dir, "orders").select(
        "o_orderkey", F.to_date("o_orderdate").alias("od")
    )
    j = od.join(
        first_ship, od.o_orderkey == first_ship.l_orderkey
    ).select("od", F.greatest("ship", "od").alias("ship2"))
    b = j.agg(F.max("od").alias("d1")).select("d1")
    jj = j.crossJoin(F.broadcast(b)).select(
        "od",
        F.datediff("ship2", "od").alias("wait"),
        F.greatest(
            F.least(
                F.datediff("ship2", "od"), F.datediff("d1", "od")
            ),
            F.lit(0),
        ).alias("overlap"),
    )
    agg = jj.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum("wait").cast("bigint").alias("wait_days_total"),
        F.sum("overlap").cast("bigint").alias("overlap_days_total"),
        F.datediff(F.max("od"), F.min("od")).cast("bigint").alias(
            "span_days"
        ),
    )
    lam = F.col("n_orders").cast("double") / F.col("span_days").cast(
        "double"
    )
    wmean = F.col("wait_days_total").cast("double") / F.col(
        "n_orders"
    ).cast("double")
    lmeas = F.col("overlap_days_total").cast("double") / F.col(
        "span_days"
    ).cast("double")
    return agg.select(
        "n_orders",
        "span_days",
        pround(lam, 6).alias("lambda_per_day"),
        pround(wmean, 6).alias("w_mean_days"),
        pround(lmeas, 6).alias("l_measured"),
        pround(
            F.col("overlap_days_total").cast("double")
            / F.col("wait_days_total").cast("double"),
            6,
        ).alias("littles_ratio"),
        (F.col("wait_days_total") - F.col("overlap_days_total")).alias(
            "censored_days"
        ),
    )


@q("q_encoding_advisor")
def q_encoding_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PHYSICAL-DESIGN ADVISOR — the run-length/dictionary encoding
    profile that decides a sort key (the q_zorder_key question asked
    column-by-column): for orders laid out in the candidate order
    (o_orderdate, o_orderkey — a total order, so the profile is
    deterministic), each categorical column reports NDV, the number of
    RUNS the layout would produce (1 + Σ value-changes via lag over
    the candidate order), average run length, and the implied RLE
    ratio — rows per run is exactly what parquet's RLE/dictionary
    encoders harvest.  A column with n_runs ≈ n_rows gains nothing
    from this sort; priority/status columns with long runs justify it, and the
    high-NDV o_custkey is the deliberate counterexample (runs ≈ rows
    — no sort order helps it).
    Exact integers + one pinned division.  Scale shape (ADVICE r8 —
    the first form ran ONE unpartitioned window, funneling the whole
    fact table through a single reducer): runs are now counted
    DISTRIBUTED with boundary stitching — the data-grain lag runs
    inside Window.partitionBy(o_orderdate) (the repo's bounded
    day-grain exemption; the candidate order is day-major so per-day
    runs are exact), each day emits (runs, first-value, last-value)
    per column, and a DAY-grain lag (≤ ~2.4k rows regardless of data
    volume) subtracts one run wherever a day's first value equals the
    previous day's last — total runs identical to the global-sort
    form (hashes unchanged), no single-task data-grain sort left."""
    od = T(spark, sf_dir, "orders")
    wd = Window.partitionBy("o_orderdate").orderBy("o_orderkey")
    cols = ["o_orderpriority", "o_orderstatus", "o_custkey"]
    flagged = od.select(
        "o_orderdate",
        "o_orderkey",
        *[
            F.when(
                F.lag(c).over(wd).isNull()
                | (F.col(c) != F.lag(c).over(wd)),
                1,
            )
            .otherwise(0)
            .alias(f"chg_{c}")
            for c in cols
        ],
        *[F.col(c).cast("string").alias(f"v_{c}") for c in cols],
    )
    day = flagged.groupBy("o_orderdate").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows_d"),
        *[
            F.sum(f"chg_{c}").cast("bigint").alias(f"runs_{c}_d")
            for c in cols
        ],
        *[
            F.min_by(f"v_{c}", "o_orderkey").alias(f"first_{c}")
            for c in cols
        ],
        *[
            F.max_by(f"v_{c}", "o_orderkey").alias(f"last_{c}")
            for c in cols
        ],
    )
    wday = Window.orderBy("o_orderdate")  # day grain: bounded exemption
    stitched = day.select(
        "n_rows_d",
        *[
            (
                F.col(f"runs_{c}_d")
                - F.when(
                    F.lag(f"last_{c}").over(wday)
                    == F.col(f"first_{c}"),
                    1,
                ).otherwise(0)
            ).alias(f"runs_{c}_s")
            for c in cols
        ],
    )
    runs = stitched.agg(
        F.sum("n_rows_d").cast("bigint").alias("n_rows"),
        *[
            F.sum(f"runs_{c}_s").cast("bigint").alias(f"runs_{c}")
            for c in cols
        ],
    )
    ndv = od.agg(
        *[
            F.countDistinct(c).cast("bigint").alias(f"ndv_{c}")
            for c in cols
        ]
    )
    agg = runs.crossJoin(F.broadcast(ndv))  # two 1-row frames
    stacked = agg.select(
        "n_rows",
        F.expr(
            "stack(3, "
            + ", ".join(
                f"'{c}', runs_{c}, ndv_{c}" for c in cols
            )
            + ") AS (column_name, n_runs, ndv)"
        ),
    )
    return stacked.select(
        "column_name",
        "n_rows",
        "ndv",
        "n_runs",
        pround(
            F.col("n_rows").cast("double") / F.col("n_runs").cast(
                "double"
            ),
            4,
        ).alias("avg_run_length"),
    )


@q("q_table_checksum")
def q_table_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDER-INVARIANT TABLE CHECKSUM — the replication/migration
    verification primitive (pt-table-checksum's job, Spark-first):
    every row canonicalizes to a pinned string (ints, cents, ISO
    dates — never engine-formatted floats), hashes through the
    portable md5 slice, and folds into TWO commutative digests — a
    wide-integer SUM (catches any multiset change; accumulated in
    DECIMAL(38,0) so 10^12 rows cannot overflow) and a BIT-XOR
    (catches value corruption independent of the sum) — plus the row
    count.  Both digests are mergeable across partitions/shards with
    no ordering requirement: two sides of a replication agree iff the
    triple agrees.  checksum_sum is EMITTED as its canonical decimal
    string (r10 hardening): the value passes int64 at ~2e9 rows
    (Σ of 32-bit hashes), and driver result-canonicalization renders
    Spark DECIMAL(38,0) differently from DuckDB HUGEINT (the r9 board
    regression) — the plain digit string is identical in both engines
    at every scale.  Scale shape: one scan, one 1-row aggregate —
    map-side combinable, no shuffle of data rows."""
    od = T(spark, sf_dir, "orders")
    canon = F.concat_ws(
        "|",
        F.col("o_orderkey").cast("string"),
        F.col("o_custkey").cast("string"),
        F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5))
        .cast("bigint")
        .cast("string"),
        F.to_date("o_orderdate").cast("string"),
        F.col("o_orderpriority"),
    )
    h = _h32(canon)
    return od.select(h.alias("h")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(F.col("h").cast("decimal(38,0)"))
        .cast("decimal(38,0)")
        .cast("string")
        .alias("checksum_sum"),
        F.expr("bit_xor(h)").cast("bigint").alias("checksum_xor"),
    )


@q("q_join_cardinality_estimate")
def q_join_cardinality_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JOIN-SIZE PREDICTION — the cost-based-optimizer calculation as a
    first-class query (what ANALYZE feeds and AQE re-derives at
    runtime): the EXACT output cardinality of orders ⋈ lineitem on
    orderkey is Σ_k cA(k)·cB(k) over the key-frequency tables, computed
    WITHOUT running the join, next to the naive independence estimate
    |A|·|B|/max(ndv) every textbook optimizer starts from and the top
    heavy key's contribution (the skew share AQE's skew-join handling
    keys on).  All counts exact bigints.  Scale shape: two key-grain
    aggregations and one key-grain join — linear in the frequency
    tables, never materializing the join itself (the entire point at
    100 TB: predict a 10¹² -row blowup for the cost of two groupBys)."""
    a = (
        T(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderkey").alias("k"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("ca"))
    )
    b = (
        T(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_orderkey").alias("k"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("cb"))
    )
    j = a.join(b, "k")
    agg = j.agg(
        F.sum(F.col("ca") * F.col("cb")).cast("bigint").alias(
            "exact_join_rows"
        ),
        F.max(F.col("ca") * F.col("cb")).cast("bigint").alias(
            "max_key_contribution"
        ),
        F.count(F.lit(1)).cast("bigint").alias("n_matching_keys"),
    )
    tot = (
        a.agg(
            F.sum("ca").cast("bigint").alias("na"),
            F.count(F.lit(1)).cast("bigint").alias("ndv_a"),
        )
        .crossJoin(
            b.agg(
                F.sum("cb").cast("bigint").alias("nb"),
                F.count(F.lit(1)).cast("bigint").alias("ndv_b"),
            )
        )
    )
    return agg.crossJoin(F.broadcast(tot)).select(
        "na",
        "nb",
        "ndv_a",
        "ndv_b",
        "n_matching_keys",
        "exact_join_rows",
        F.expr("(na * nb) div greatest(ndv_a, ndv_b)").alias(
            "independence_estimate"
        ),
        "max_key_contribution",
        pround(
            F.col("max_key_contribution").cast("double")
            / F.col("exact_join_rows").cast("double"),
            6,
        ).alias("top_key_share"),
    )


@q("q_burstiness")
def q_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRAFFIC-SHAPE diagnostic: the Fano factor (variance-to-mean
    ratio of daily counts) per event type — the burstiness number
    capacity planning reads: ≈1 is Poisson arrivals, ≫1 is bursty
    (flash crowds, batch upstreams), ≪1 is metronomic.  Variance from
    exact integer power sums (n·Σx² − (Σx)² over daily counts — no
    float accumulation), one pinned division pair at the end.  Scale
    shape: data grain collapses to (type, day) then to type — two
    keyed aggregations, both map-side combinable."""
    ev = T(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("d")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    g = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.sum("c").cast("bigint").alias("sx"),
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("sxx"),
    )
    mean = F.col("sx").cast("double") / F.col("n_days").cast("double")
    var = (
        F.col("n_days") * F.col("sxx") - F.col("sx") * F.col("sx")
    ).cast("double") / (
        F.col("n_days") * (F.col("n_days") - 1)
    ).cast("double")
    return g.select(
        "event_type",
        "n_days",
        "sx",
        pround(mean, 6).alias("mean_daily"),
        pround(var, 6).alias("var_daily"),
        pround(var / mean, 6).alias("fano_factor"),
    )


@q("q_bloom_fpr_eval")
def q_bloom_fpr_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The bloom filter's OWN EVAL (the ship-your-own-eval discipline of
    the ANN recall gates, applied to q_bloom_semijoin): measured
    false-positive rate — passing non-members over probed non-members —
    next to the load-factor prediction (bits_set/m)^k, so a planner can
    decide whether m=65536/k=3 is safe for THIS key distribution before
    trusting the pre-filter at 100 TB.  Every count is exact (same md5
    bit positions as the filter itself); the two rates are pinned
    divisions, expected = cubed load factor written as explicit
    products (no engine pow)."""
    m, k = 65536, 3
    members = (
        T(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 9000)
        .select("c_custkey")
    )
    ks = F.explode(F.array(*[F.lit(i) for i in range(k)])).alias("i")
    bits = (
        members.select("c_custkey", ks)
        .select(
            (_h32(F.concat_ws(":", "i", "c_custkey")) % m).alias("pos")
        )
        .distinct()
    )
    probe_keys = (
        T(spark, sf_dir, "orders").select("o_custkey").distinct()
    )
    probes = probe_keys.select("o_custkey", ks).select(
        "o_custkey",
        (_h32(F.concat_ws(":", "i", "o_custkey")) % m).alias("pos"),
    )
    passing = (
        probes.join(F.broadcast(bits), "pos")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("hits"))
        .filter(F.col("hits") == k)
        .select("o_custkey", F.lit(1).alias("__pass"))
    )
    flagged = (
        probe_keys.join(F.broadcast(passing), "o_custkey", "left")
        .join(
            members.withColumn("__m", F.lit(1)),
            probe_keys.o_custkey == members.c_custkey,
            "left",
        )
        .select(
            F.coalesce("__pass", F.lit(0)).alias("p"),
            F.coalesce("__m", F.lit(0)).alias("mm"),
        )
    )
    nbits = bits.agg(F.count(F.lit(1)).cast("bigint").alias("bits_set"))
    agg = flagged.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_probed"),
        F.sum("mm").cast("bigint").alias("n_members_probed"),
        F.sum(
            F.when((F.col("p") == 1) & (F.col("mm") == 0), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("fp_count"),
    ).crossJoin(F.broadcast(nbits))
    load = F.col("bits_set").cast("double") / F.lit(float(m))
    return agg.select(
        "n_probed",
        "n_members_probed",
        "fp_count",
        "bits_set",
        pround(
            F.col("fp_count").cast("double")
            / (F.col("n_probed") - F.col("n_members_probed")).cast(
                "double"
            ),
            6,
        ).alias("fpr_measured"),
        pround(load * load * load, 6).alias("fpr_expected"),
    )


@q("q_partition_balance")
def q_partition_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHUFFLE-BALANCE pre-flight, the entropy view (q_skew_report's
    max/avg ratio sees the single worst key; this sees the whole
    distribution): hash the candidate shuffle key into 32 portable
    buckets (md5 — never the engine's internal hash) and report the
    normalized partition entropy H/ln(32) plus the max bucket share.
    balance = 1 means perfectly even reducers; 0.8 at 100 TB means the
    effective parallelism of every downstream stage is a fraction of
    the cluster — the number capacity planning reads.  Entropy terms
    are floored to ×1e9 bigints per bucket before summation (dsum);
    shares are exact counts."""
    B = 32
    ev = T(spark, sf_dir, "events")
    g = (
        ev.select(
            (
                _h32(
                    F.concat_ws(
                        "|", F.lit("pb-v1"), F.col("user_id").cast("string")
                    )
                )
                % B
            ).alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    wall = Window.partitionBy()
    withn = g.select(
        "bucket", "c", F.sum("c").over(wall).alias("n"),
        F.max("c").over(wall).alias("cmax"),
        F.count(F.lit(1)).over(wall).alias("nb"),
    )
    p = F.col("c").cast("double") / F.col("n").cast("double")
    terms = withn.select(
        "n", "cmax", "nb",
        F.floor(-(p * F.log(p)) * F.lit(1000000000.0))
        .cast("bigint")
        .alias("h9"),
    )
    agg = terms.groupBy("n", "cmax", "nb").agg(
        F.sum("h9").cast("bigint").alias("h9_sum")
    )
    import math

    return agg.select(
        F.col("nb").cast("bigint").alias("n_buckets"),
        F.col("n").alias("n_rows"),
        pround(
            F.col("cmax").cast("double") / F.col("n").cast("double"), 6
        ).alias("max_share"),
        pround(
            F.col("h9_sum").cast("double")
            / F.lit(1000000000.0)
            / F.lit(math.log(B)),
            6,
        ).alias("balance"),
    )


@q("q_reconciliation")
def q_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS-TABLE RECONCILIATION — the dual-source consistency audit
    every finance-grade pipeline runs: the order header's o_totalprice
    against the line-level reconstruction Σ extendedprice·(1−discount)·
    (1+tax) per order, both in exact cents (per-line charge floored to
    cents before the sum — the auditable rounding rule), reported as
    match/mismatch counts and the mismatch magnitude profile (max and
    total absolute drift).  A non-zero mismatch count is DATA, not
    error — the report is how you find out whether the generator (or a
    real upstream) maintains the invariant.  Scale shape: one line-
    grain aggregation, one key-grain join, one global rollup."""
    li = T(spark, sf_dir, "lineitem")
    line = li.groupBy("l_orderkey").agg(
        F.sum(
            F.floor(
                F.col("l_extendedprice")
                * (F.lit(1.0) - F.col("l_discount"))
                * (F.lit(1.0) + F.col("l_tax"))
                * F.lit(100.0)
                + F.lit(0.5)
            )
        )
        .cast("bigint")
        .alias("line_cents")
    )
    hdr = T(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5))
        .cast("bigint")
        .alias("hdr_cents"),
    )
    j = hdr.join(line, hdr.o_orderkey == line.l_orderkey, "left").select(
        "hdr_cents",
        F.coalesce("line_cents", F.lit(0)).alias("line_cents"),
    )
    diff = F.abs(F.col("hdr_cents") - F.col("line_cents"))
    return j.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum(F.when(diff == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_match"),
        F.sum(F.when(diff != 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_mismatch"),
        F.max(diff).cast("bigint").alias("max_abs_diff_cents"),
        F.sum(diff).cast("bigint").alias("total_abs_diff_cents"),
    )


# Morton / Z-order interleave of two 8-bit dims into a 16-bit key — the
# expression is generated once here and mirrored verbatim (div → //) in the
# oracle so both engines evaluate the same integer arithmetic.
_Z_EXPR = " + ".join(
    f"((x div {1 << b}) % 2) * {1 << (2 * b + 1)}"
    f" + ((y div {1 << b}) % 2) * {1 << (2 * b)}"
    for b in range(8)
)


@q("q_zorder_key")
def q_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering key over orders: interleave 8 bits of
    customer and 8 bits of price-bucket into one 16-bit sort key — the
    multi-dimensional data-layout trick behind Delta/Iceberg OPTIMIZE
    ZORDER.  Output proves the locality property: each of the 64 coarse
    z-ranges covers a ≤32×32 tile of (customer, price) space, so a scan
    filtered on EITHER dimension prunes most z-ranges.  Pure integer
    div/mod arithmetic, bit-identical across engines."""
    od = T(spark, sf_dir, "orders").select(
        (F.col("o_custkey") % 256).alias("x"),
        F.least(
            F.floor(F.col("o_totalprice") / 2500.0), F.lit(255)
        ).cast("bigint").alias("y"),
    )
    z = od.withColumn("zkey", F.expr(_Z_EXPR))
    return (
        z.groupBy(F.expr("zkey div 1024").alias("zbucket"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("x").alias("x_min"),
            F.max("x").alias("x_max"),
            F.min("y").alias("y_min"),
            F.max("y").alias("y_max"),
        )
    )


@q("q_ivm_merge")
def q_ivm_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance: a materialized per-status aggregate
    (orders before 1997) absorbs a delta batch (1997 onward) by MERGING
    partial aggregates — counts add, decimal sums add — and the result is
    proven equal to a full recompute in the same query (match column).
    This is the scale pattern for 100 TB rollups: never re-scan history,
    just combine associative state with the new partition's partials."""
    od = T(spark, sf_dir, "orders").select(
        "o_orderstatus",
        F.to_date("o_orderdate").alias("d"),
        "o_totalprice",
    )
    cutoff = F.lit("1997-01-01").cast("date")

    def partial(df: DataFrame) -> DataFrame:
        # Partial-aggregate state stays DECIMAL (exact, associative) —
        # casting to double before the merge would reintroduce the float
        # summation-order problem dsum exists to avoid.
        return df.groupBy("o_orderstatus").agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("s"),
        )

    state = partial(od.filter(F.col("d") < cutoff))
    delta = partial(od.filter(F.col("d") >= cutoff))
    merged = (
        state.unionByName(delta)
        .groupBy("o_orderstatus")
        .agg(F.sum("cnt").alias("order_cnt"), F.sum("s").alias("s_m"))
    )
    full = od.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("f_cnt"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("f_s"),
    )
    return merged.join(full, "o_orderstatus").select(
        "o_orderstatus",
        "order_cnt",
        F.col("s_m").cast("double").alias("total_price"),
        (
            (F.col("order_cnt") == F.col("f_cnt"))
            & (F.col("s_m") == F.col("f_s"))
        ).alias("match"),
    )


@q("q_skew_join_salted")
def q_skew_join_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-resistant join via dimension salting: the customer dim is
    replicated across 8 salt values and orders pick a deterministic salt
    (orderkey % 8), so a hot customer's rows spread over 8 reducers
    instead of one — the manual fallback when AQE skew-join can't split a
    single key.  The oracle is the UNSALTED join, proving salting is
    result-invariant; output is revenue per market segment."""
    cu = T(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    dim = cu.select(
        "c_custkey",
        "c_mktsegment",
        F.explode(F.array(*[F.lit(i) for i in range(8)])).alias("salt"),
    )
    fact = T(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_totalprice",
        (F.col("o_orderkey") % 8).alias("salt"),
    )
    return (
        fact.join(
            dim,
            (fact.o_custkey == dim.c_custkey) & (fact.salt == dim.salt),
        )
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum(F.col("o_totalprice")).alias("revenue"),
        )
    )


@q("q_runlength_encode")
def q_runlength_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run-length encoding of event streams: collapse consecutive
    same-type events per user into runs (lag-compare → run-start flag →
    running sum = run id — one shuffle on user_id), then profile run
    lengths per event type.  The run-id assignment is the distributed
    form of RLE compression and of 'collapse repeated states' session
    logic; avg is an exact int-sum / count divide, pinned."""
    ev = T(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    runs = (
        ev.withColumn("prev", F.lag("event_type").over(w))
        .withColumn(
            "is_new",
            F.when(
                F.col("prev").isNull()
                | (F.col("prev") != F.col("event_type")),
                1,
            ).otherwise(0),
        )
        .withColumn(
            "run_id",
            F.sum("is_new").over(
                w.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        .groupBy("user_id", "run_id", "event_type")
        .agg(F.count(F.lit(1)).alias("run_len"))
    )
    return runs.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_runs"),
        F.max("run_len").alias("max_run_len"),
        pround(F.avg("run_len"), 4).alias("avg_run_len"),
    )


@q("q_percentile_bands")
def q_percentile_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth decile bands over order prices (ntile with a full
    deterministic tie-break), each band reporting its row count, price
    range, and exact decimal sum — the data-profiling twin of the
    fixed-width q_histogram, and the binning step feature-bucketizers
    use.  This one runs at FACT grain, so the naive
    ``ntile(10).over(Window.orderBy(...))`` — every order row through one
    partition — is the worst global-window offender in the suite; instead
    ``operators.rank.global_rank`` range-partitions on (price, orderkey),
    ranks in parallel, and NTILE's closed form on (rank, N) reproduces the
    band ids exactly.  The aggregation then collapses to 10 rows."""
    from .operators.rank import global_rank, ntile_from_rank

    od = T(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    ranked = global_rank(
        od,
        [F.col("o_totalprice"), F.col("o_orderkey")],
        rank_col="__rank",
        total_col="__n",
    )
    return (
        ranked.withColumn(
            "band", ntile_from_rank(F.col("__rank"), F.col("__n"), 10)
        )
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.min("o_totalprice").alias("min_price"),
            F.max("o_totalprice").alias("max_price"),
            dsum(F.col("o_totalprice")).alias("band_sum"),
        )
    )


# ---------------------------------------------------------------------------
# Graph analytics + physical-layout roundtrips (round 3)
# ---------------------------------------------------------------------------

def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical (src < dst, distinct) co-purchase edges over the bounded
    part subset (l_partkey % 10 == 0) — node count scales with SF but the
    within-basket expansion stays quadratic-per-basket, never corpus-wide.
    A basket-build ``spread`` was A/B'd here twice (r11 change 20, and
    r12 in a quiet window: q_bfs_levels 2.56-2.66 s unpinned vs
    3.14-4.56 s pinned; q_shortest_path_weighted 2.78-2.95 vs 3.43-3.44,
    two fresh-process seats each) — the iterative consumers of this
    frame are task-latency bound and the extra exchange LOSES; do not
    re-add it."""
    li = (
        T(spark, sf_dir, "lineitem")
        .filter(F.col("l_partkey") % 10 == 0)
        .select("l_orderkey", "l_partkey")
    )
    return (
        _basket_pair_rows(li)
        .distinct()
        .select(F.col("p1").alias("src"), F.col("p2").alias("dst"))
    )


@q("q_kcore")
def q_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative graph peel: bounded 4-round 3-core over the undirected
    co-purchase graph (operators/graph.py::kcore_peel) — the dense-
    subgraph extractor (spam rings, tight communities) that degree
    filtering alone can't produce, because removing one weak node can
    expose another.  Pure integer counting, so the bounded trajectory is
    bit-identical to the oracle's unrolled 4-level CTE chain; if the
    peel converges in-budget the output is the exact 3-core."""
    from .operators.graph import kcore_peel

    return kcore_peel(_copurchase_sym(spark, sf_dir), k=3, rounds=4)


@q("q_pagerank")
def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative graph algorithm: 5-step PageRank over the undirected
    co-purchase graph, EXACT integer arithmetic (scaled bigint ranks,
    truncating division) so the fixpoint trajectory is bit-identical to
    the DuckDB oracle's unrolled 5-level CTE — no float summation-order
    sensitivity.  One shuffle per iteration; degree table broadcast."""
    from .operators.graph import pagerank_integer

    e = _copurchase_edges(spark, sf_dir)
    sym = e.unionAll(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    return pagerank_integer(sym, iterations=5, symmetric=True).select(
        "node", F.col("rank").alias("rank_scaled")
    )


@q("q_hits")
def q_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs & authorities [Kleinberg 1999] — the link-analysis
    companion to PageRank, completing the pair: 2 full unnormalized
    iterations (a←Aᵀh, h←Aa twice) over the canonically ORIENTED
    co-purchase graph (src < dst — HITS needs direction; the canonical
    orientation is deterministic and documented as the fixture's
    convention), in EXACT int64 (h₀=1, so a₁=in-degree, and each
    half-step is one sum — no normalization, which only rescales the
    ranking and would force float division; magnitudes after 2 rounds
    are bounded by N·d_max³, safe in int64 at any realistic degree —
    at extreme scale periodic integer rescaling slots in per round).
    Top-20 by (authority, hub, node).  One edge-grain shuffle per
    half-step, degree-bounded — the q_pagerank scale shape; the edge
    frame is lineage-cut because FOUR half-steps consume it (the
    re-expansion lesson)."""
    e = cut_lineage(_copurchase_edges(spark, sf_dir), eager=False)
    a1 = e.groupBy("dst").agg(
        F.count(F.lit(1)).cast("bigint").alias("a")
    )
    h1 = e.join(a1, "dst").groupBy("src").agg(
        F.sum("a").cast("bigint").alias("h")
    )
    a2 = e.join(h1, "src").groupBy("dst").agg(
        F.sum("h").cast("bigint").alias("a2")
    )
    h2 = e.join(a2, "dst").groupBy("src").agg(
        F.sum("a2").cast("bigint").alias("h2")
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    out = (
        nodes.join(a2.withColumnRenamed("dst", "node"), "node", "left")
        .join(h2.withColumnRenamed("src", "node"), "node", "left")
        .select(
            "node",
            F.coalesce("a2", F.lit(0)).cast("bigint").alias("authority"),
            F.coalesce("h2", F.lit(0)).cast("bigint").alias("hub"),
        )
    )
    return out.orderBy(
        F.col("authority").desc(), F.col("hub").desc(), "node"
    ).limit(20)


@q("q_triangle_count")
def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle participation via the oriented wedge join
    (a<b<c): two equi-joins, each triangle found exactly once."""
    from .operators.graph import triangle_counts

    return triangle_counts(_copurchase_edges(spark, sf_dir))


def _copurchase_sym(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetrized co-purchase edges (both directions of every pair)."""
    e = _copurchase_edges(spark, sf_dir)
    return e.unionAll(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )


def _hub_sources(sym: DataFrame) -> DataFrame:
    """Deterministic multi-source seed set: every graph node whose part
    key is a multiple of 100 (1/10th of the %10-filtered node set).
    SAFE ONLY for per-node-state algorithms (q_bfs_levels /
    q_shortest_path_weighted keep ONE row per node regardless of how
    many seeds there are — more seeds just start more fronts); the
    probe-KEYED family (state per (probe, node) pair) must use the
    COUNT-bounded ``_hub_probes`` instead, or state grows ~N²/100."""
    return (
        sym.select(F.col("src").alias("node"))
        .filter(F.col("node") % 100 == 0)
        .distinct()
    )


#: Hard bound on the probe-keyed BFS seed set: per-probe state is then
#: O(PROBE_CAP · N) at ANY data scale — never N²/100 (VERDICT r10 #1).
PROBE_CAP = 32


def _hub_probes(sym: DataFrame, k: int = PROBE_CAP) -> DataFrame:
    """COUNT-bounded probe set for the probe-keyed BFS family
    (q_harmonic_centrality / q_graph_path_counts): the top-k
    highest-DEGREE nodes of the symmetrized graph, ties broken to the
    smaller node id so the set is deterministic and oracle-matchable.
    Replaces the %100 rule whose probe count grew linearly with the
    catalog (the r10 sweep measured 10.1× wall growth at 10× volume —
    probes×nodes state is quadratic under that rule).  Plan shape:
    one degree agg (map-side combine) then TakeOrderedAndProject —
    k rows, no full sort shuffle.  Column: ``probe``."""
    return (
        sym.groupBy(F.col("src").alias("probe"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("deg"))
        .orderBy(F.col("deg").desc(), F.col("probe").asc())
        .limit(k)
        .select("probe")
    )


@q("q_bfs_levels")
def q_bfs_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS hop levels over the undirected co-purchase graph
    from the hub seed set — 6 bounded Bellman-Ford rounds with unit
    weights (``operators.graph.bellman_ford``), exact integer hop counts
    hash-checked against an unrolled 6-level CTE oracle.  One shuffle
    per round; the frontier-closure filter keeps unreached sentinel rows
    off the relaxation join.  Seed-rule audit (VERDICT r10 #1): the
    %100 seed set is safe HERE because state is one row per NODE —
    seed count never multiplies it (unlike the probe-keyed family,
    which uses the capped ``_hub_probes``)."""
    from .operators.graph import bellman_ford

    sym = _copurchase_sym(spark, sf_dir)
    return bellman_ford(sym, _hub_sources(sym), iterations=6).select(
        "node", F.col("dist").alias("hops")
    )


@q("q_shortest_path_weighted")
def q_shortest_path_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded weighted shortest paths (5-round Bellman-Ford) from the
    hub seed set, integer edge weights w = (src+dst) % 7 + 1 derived
    deterministically from the endpoints — exact bigint distances,
    bit-identical to the oracle's unrolled relaxation.  Seed-rule
    audit (VERDICT r10 #1): %100 seeds are safe here — per-NODE
    state, seed count never multiplies it."""
    from .operators.graph import bellman_ford

    sym = _copurchase_sym(spark, sf_dir).withColumn(
        "w", ((F.col("src") + F.col("dst")) % 7 + 1).cast("bigint")
    )
    return bellman_ford(
        sym, _hub_sources(sym), iterations=5, weight_col="w"
    ).select("node", F.col("dist").alias("distance"))


@q("q_harmonic_centrality")
def q_harmonic_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HARMONIC CENTRALITY [Boldi & Vigna 2014, "Axioms for
    Centrality"] of the hub probe set — H(p) = Σ_v 1/d(p,v), the
    closeness variant that handles disconnected graphs (unreached
    nodes contribute 0, no infinite-distance pathology).  PER-SOURCE
    distances via a probe-keyed BFS: state is (probe, node, dist),
    4 bounded rounds, each round one frontier⋈edges shuffle and an
    anti-join against seen state (a node enters at its first — i.e.
    minimal — distance, so the hop count is exact).  Exact arithmetic:
    with d ∈ {1..4}, 12/d is an INTEGER (12 = lcm(1..4)), so the
    centrality accumulates as the exact bigint Σ(12 div d) — the
    q_attribution_positional scaling trick — and the float value is
    ONE pinned division.  Probes are the COUNT-bounded top-PROBE_CAP
    degree hubs (``_hub_probes`` — deterministic tie-break on node
    id), so state is O(PROBE_CAP·N) at any data scale: the %100 rule
    this replaces grew the probe set linearly with the catalog and
    measured 10.1× wall growth at 10× volume (VERDICT r10 #1)."""
    sym = cut_lineage(_copurchase_sym(spark, sf_dir), eager=False)
    probes = _hub_probes(sym)
    state = probes.select(
        "probe",
        F.col("probe").alias("node"),
        F.lit(0).cast("bigint").alias("dist"),
    )
    frontier = state.select("probe", "node")
    for k in range(1, 5):
        nxt = (
            frontier.join(sym, frontier.node == sym.src)
            .select("probe", F.col("dst").alias("node"))
            .distinct()
        )
        # Cut NEW (lazily), not the union: ``new`` has TWO consumers —
        # the accumulated state and the next round's frontier — and the
        # old eager union cut left the frontier re-deriving the whole
        # frontier⋈edges + distinct + anti-join from lineage each round
        # (every BFS level executed twice), plus one materialization
        # job per round.  With the pinned ``new``, state is a union of
        # ≤4 cached-RDD scans and the terminal action computes each
        # level exactly once (profiled: q_harmonic_centrality was the
        # top cpu stage of the headline set, 46 cpu-s at sf0.1).
        new = cut_lineage(
            nxt.join(state, ["probe", "node"], "left_anti").withColumn(
                "dist", F.lit(k).cast("bigint")
            ),
            eager=False,
        )
        state = state.unionByName(new)
        frontier = new.select("probe", "node")
    reached = state.filter(F.col("dist") > 0)
    return (
        reached.groupBy("probe")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_reached"),
            F.sum(F.expr("12 div dist")).cast("bigint").alias("h12"),
        )
        .select(
            "probe",
            "n_reached",
            "h12",
            pround(F.col("h12").cast("double") / F.lit(12.0), 6).alias(
                "harmonic_centrality"
            ),
        )
        .orderBy("probe")
    )


@q("q_graph_path_counts")
def q_graph_path_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHORTEST-PATH MULTIPLICITY — the σ stage of Brandes' betweenness
    [Brandes 2001 §3]: per probe, HOW MANY distinct shortest paths
    reach each hop level (σ(v) = Σ σ(pred) over dist-(k−1)
    predecessors — path multiplicity is the redundancy/robustness
    measure a single BFS distance hides: σ=1 means a bridge-like
    reachability, large σ a richly connected one).  Pure integer
    arithmetic end to end: σ accumulates as exact bigint sums along
    the same probe-keyed 4-round BFS as q_harmonic_centrality (a node
    enters at its first hop, so every predecessor is in the PREVIOUS
    frontier and the σ recurrence is exact); output collapses to the
    bounded (probe, dist) grain — node count, total/min/max σ — so
    the frame certifies the whole trajectory in probes×4 rows.  ANSI
    mode makes a σ overflow LOUD (multiplicities multiply with hub
    degree; past ~1e18 switch σ to DECIMAL).  Scale shape: one
    frontier⋈edges shuffle + anti-join per round; probes are the
    COUNT-bounded top-PROBE_CAP degree hubs (``_hub_probes``), so
    state is O(PROBE_CAP·N) — the unbounded %100 rule was the r10
    verdict's one substantiated scale-killer."""
    sym = cut_lineage(_copurchase_sym(spark, sf_dir), eager=False)
    probes = _hub_probes(sym)
    state = probes.select(
        "probe",
        F.col("probe").alias("node"),
        F.lit(0).cast("bigint").alias("dist"),
        F.lit(1).cast("bigint").alias("sigma"),
    )
    frontier = state.select("probe", "node", "sigma")
    for k in range(1, 5):
        cand = (
            frontier.join(sym, frontier.node == sym.src)
            .groupBy("probe", F.col("dst").alias("node"))
            .agg(F.sum("sigma").cast("bigint").alias("sigma"))
        )
        # Same pinning as q_harmonic_centrality: cut NEW (two consumers
        # — state union and next frontier), not the union, so each BFS
        # level computes once and no eager per-round job is scheduled.
        new = cut_lineage(
            cand.join(state, ["probe", "node"], "left_anti").withColumn(
                "dist", F.lit(k).cast("bigint")
            ),
            eager=False,
        )
        state = state.unionByName(new.select("probe", "node", "dist", "sigma"))
        frontier = new.select("probe", "node", "sigma")
    return (
        state.filter(F.col("dist") > 0)
        .groupBy("probe", "dist")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
            F.sum("sigma").cast("bigint").alias("paths_total"),
            F.min("sigma").cast("bigint").alias("sigma_min"),
            F.max("sigma").cast("bigint").alias("sigma_max"),
        )
        .orderBy("probe", "dist")
    )


@q("q_lpa_communities")
def q_lpa_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection: 4 rounds of synchronous mode-label
    propagation [Raghavan 2007] over the undirected co-purchase graph
    (operators/graph.py::label_propagation_mode — most-frequent
    neighbor label, ties to the smallest).  Completes the graph family
    (components / k-core / PageRank / BFS / triangles) with the
    community detector: unlike q_dedup_clusters' connected components,
    a single bridge edge does NOT merge two dense regions.  Integer
    counts + deterministic tie-break make the bounded trajectory
    bit-identical to the unrolled 4-level CTE oracle.  Output: (node,
    community)."""
    from .operators.graph import label_propagation_mode

    return label_propagation_mode(
        _copurchase_sym(spark, sf_dir), rounds=4
    ).select("node", F.col("label").alias("community"))


@q("q_graph_modularity")
def q_graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community QUALITY — Newman modularity [Newman & Girvan 2004] of
    the q_lpa_communities partition, closing the detect→evaluate loop
    the way q_ann_recall does for retrieval: Q = Σ_c [L_c/m −
    (D_c/2m)²] with L_c = intra-community edges, D_c = community degree
    mass, m = edge count.  Every term is a rational with denominator
    4m², so the statistic is computed EXACTLY as the integer
    Q·4m² = Σ_c (4m·L_c − D_c²) and divided ONCE, pinned, at the end —
    cross-engine equality of a float graph statistic via the
    cross-multiplication discipline.  Output one row: m, communities,
    intra-edge total, the exact scaled integer, and Q.  Scale shape:
    the LPA rounds dominate (edge-grain shuffles); the evaluation
    itself is two broadcasts of (label) aggregates and a ≤|C|-row
    sum."""
    from .operators.graph import label_propagation_mode

    e = cut_lineage(_copurchase_edges(spark, sf_dir))
    sym = e.unionAll(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    labels = cut_lineage(
        label_propagation_mode(sym, rounds=4).select(
            "node", F.col("label").alias("c")
        )
    )
    lsrc = labels.withColumnRenamed("node", "src").withColumnRenamed(
        "c", "c_src"
    )
    ldst = labels.withColumnRenamed("node", "dst").withColumnRenamed(
        "c", "c_dst"
    )
    intra = (
        e.join(lsrc, "src")
        .join(ldst, "dst")
        .filter(F.col("c_src") == F.col("c_dst"))
        .groupBy(F.col("c_src").alias("c"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("l_c"))
    )
    deg = sym.groupBy("src").agg(
        F.count(F.lit(1)).cast("bigint").alias("d")
    )
    dmass = (
        deg.join(labels.withColumnRenamed("node", "src"), "src")
        .groupBy("c")
        .agg(F.sum("d").cast("bigint").alias("d_c"))
    )
    m_row = e.agg(F.count(F.lit(1)).cast("bigint").alias("m"))
    per_c = dmass.join(intra, "c", "left").select(
        "c",
        F.coalesce("l_c", F.lit(0)).cast("bigint").alias("l_c"),
        "d_c",
    )
    tot = per_c.join(F.broadcast(m_row)).agg(
        F.max("m").alias("m"),
        F.count(F.lit(1)).cast("bigint").alias("n_communities"),
        F.sum("l_c").cast("bigint").alias("intra_edges"),
        F.sum(
            F.lit(4) * F.col("m") * F.col("l_c")
            - F.col("d_c") * F.col("d_c")
        )
        .cast("bigint")
        .alias("q_x4m2"),
    )
    return tot.select(
        "m",
        "n_communities",
        "intra_edges",
        "q_x4m2",
        pround(
            F.col("q_x4m2").cast("double")
            / (F.lit(4.0) * F.col("m").cast("double") * F.col("m").cast("double")),
            6,
        ).alias("modularity"),
    )


@q("q_partition_prune")
def q_partition_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Physical layout: Hive-style partitioned write + partition-pruned
    read-back.  events is re-written partitioned by event_type; the
    read-back filter binds to the partition directory at planning time
    (PartitionFilters in the scan, zero other-partition files opened) —
    the on-disk layout pattern that makes 100 TB event stores queryable.
    Result: daily click rollup, hash-checked against DuckDB on the
    original (unpartitioned) table."""
    path = _fixture_dir("part_prune") + "/events"
    ev = T(spark, sf_dir, "events")
    ev.write.mode("overwrite").partitionBy("event_type").parquet(path)
    back = spark.read.parquet(path).filter(F.col("event_type") == "click")
    return (
        back.groupBy(F.to_date("ts").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n_clicks"),
            dsum(F.col("value")).alias("click_value"),
        )
    )


@q("q_bucketed_join")
def q_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Physical layout: bucketed tables + shuffle-free co-located join.
    orders and lineitem are written bucketed 8 ways on the order key
    (hash-partitioned at rest, per-bucket sorted); the join then reads
    matching buckets pairwise with NO Exchange on either side — the
    pre-shuffle pattern that turns an O(data) shuffle into a metadata
    contract at 100 TB.  Result hash-checked against the plain join.

    The bucketed write is the ONE-TIME layout investment the pattern
    amortizes (bucket the fact table once, every later keyed join skips
    its exchange), so it runs once per (session, sf_dir) — table names
    are sf_dir-deterministic and existing tables are reused.  Repeat
    calls therefore time what a warm cluster pays: the exchange-free
    read-side join alone."""
    import hashlib

    sfx = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    to, tl = f"b_orders_{sfx}", f"b_lineitem_{sfx}"
    if not (spark.catalog.tableExists(to) and spark.catalog.tableExists(tl)):
        base = _fixture_dir("bucketed", fresh_name=True)
        (
            T(spark, sf_dir, "orders")
            .select("o_orderkey", "o_custkey", "o_totalprice")
            .write.bucketBy(8, "o_orderkey")
            .sortBy("o_orderkey")
            .option("path", f"{base}/{to}")
            .mode("overwrite")
            .saveAsTable(to)
        )
        (
            T(spark, sf_dir, "lineitem")
            .select("l_orderkey", "l_quantity", "l_extendedprice")
            .write.bucketBy(8, "l_orderkey")
            .sortBy("l_orderkey")
            .option("path", f"{base}/{tl}")
            .mode("overwrite")
            .saveAsTable(tl)
        )
    # merge hint: at test SFs AQE would pick broadcast (also exchange-free
    # on the probe side, but it hides the layout win being demonstrated);
    # with both sides bucketed on the key, SMJ needs no Exchange at all.
    j = spark.table(to).hint("merge").join(
        spark.table(tl), F.col("o_orderkey") == F.col("l_orderkey")
    )
    return j.groupBy("o_orderkey").agg(
        F.count(F.lit(1)).alias("n_lines"),
        dsum(F.col("l_extendedprice")).alias("order_revenue"),
        F.min("o_totalprice").alias("o_totalprice"),
    )


@q("q_rolling_distinct")
def q_rolling_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day distinct users (WAU) + same-day DAU + stickiness —
    the canonical product-health triple, EXACT and LINEAR.

    The first form pre-collapsed events to the (day, user) grain and
    then fanned that table out 7× through a day-range join — correct,
    but the fanout degrades toward events-grain×7 when daily
    audiences are near-unique (probe-measured 123 s at 100M events,
    SCALING.md; VERDICT r8 task 5).  The rewrite is the SWEEPLINE
    identity: a user counts toward WAU(d) iff d lies in the union of
    that user's [activity_day, activity_day+6] intervals, so (1)
    collapse to (day, user) once, (2) merge each user's intervals
    into coverage ISLANDS with the gaps-and-islands lag (new island
    when the gap exceeds 6 days — a per-user window over the already-
    shuffled grain), (3) emit ±1 boundary deltas per island and FOLD
    THEM TO DAY GRAIN (≤ 2 rows per island before the fold, ≤ spine
    size after), and (4) one bounded day-grain running sum (the
    documented ≤~2.4k-row single-partition exemption) reads WAU off
    the sweep; DAU is a plain count at the same grain.  No row is
    ever duplicated 7× — cost is linear in the (day, user) grain at
    ANY audience uniqueness.  The DuckDB oracle keeps the windowed
    range-count form, so the engines verify each other through
    different algorithms.  Deltas at a day apply to that day's WAU
    (interval start inclusive), so delta rows sort before the spine
    marker at the same day (sort key (day, is_spine))."""
    du = (
        T(spark, sf_dir, "events")
        .select(F.to_date("ts").alias("day"), "user_id")
        .distinct()
    )
    dau = du.groupBy("day").agg(
        F.count(F.lit(1)).cast("bigint").alias("dau")
    )
    wu = Window.partitionBy("user_id").orderBy("day")
    gap = F.datediff(F.col("day"), F.lag("day").over(wu))
    isl = du.withColumn(
        "__isl",
        F.sum(
            F.when(gap.isNull() | (gap > 6), 1).otherwise(0)
        ).over(wu.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    islands = isl.groupBy("user_id", "__isl").agg(
        F.min("day").alias("__s"),
        F.date_add(F.max("day"), 7).alias("__e1"),  # end+1 (exclusive)
    )
    deltas = (
        islands.select(F.col("__s").alias("day"), F.lit(1).alias("__d"))
        .unionAll(
            islands.select(
                F.col("__e1").alias("day"), F.lit(-1).alias("__d")
            )
        )
        .groupBy("day")
        .agg(F.sum("__d").cast("bigint").alias("__d"))
        .select("day", "__d", F.lit(0).alias("__is_spine"))
    )
    spine = dau.select(
        "day", F.lit(0).cast("bigint").alias("__d"),
        F.lit(1).alias("__is_spine"),
    )
    sweep = Window.orderBy("day", "__is_spine").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )  # day grain: bounded exemption
    wau = (
        deltas.unionByName(spine)
        .withColumn("wau_7d", F.sum("__d").over(sweep))
        .filter(F.col("__is_spine") == 1)
        .select("day", "wau_7d")
    )
    return dau.join(wau, "day").select(
        "day",
        "dau",
        "wau_7d",
        pround(F.col("dau") / F.col("wau_7d"), 6).alias("stickiness"),
    )


@q("q_rolling_distinct_hll")
def q_rolling_distinct_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day distinct users via MERGEABLE HLL register tables —
    the scale path where q_rolling_distinct's exact plan hits its
    boundary, HASH-CHECKED since round 6 by reusing q_hll_distinct's
    from-scratch engine-exact sketch (Flajolet et al. 2007) instead of
    the builtin DataSketches HLL (whose serialized internals DuckDB
    cannot reproduce).  Exact rolling distinct must fan the (day, user)
    grain out 7x, which degrades toward events-grain x7 when daily
    audiences are near-unique (probe-measured: 123 s at 100M events,
    SCALING.md).  Registers restore the collapse: one pass folds events
    to per-(day, bucket) max-rho registers (<= m rows per day, m=1024 —
    the mergeable state), the 7x range-join fanout then runs at day x
    bucket grain regardless of event volume, and the merge is a plain
    max.  Estimator: exact-bigint harmonic sum (2^(32-reg), empties at
    2^32) with Flajolet's small-range linear-counting branch
    (m·ln(m/V) when raw <= 2.5m) — the branch input is a single
    IEEE-exact divide, identical on both engines; x1024 is an exact
    power-of-two scale, so only ln()'s last ulp is engine-shared.
    Accuracy vs exact is additionally pinned in
    tests/test_plans_scale.py."""
    m = 1024
    alpha = 0.7213 / (1.0 + 1.079 / m)
    h = F.md5(F.col("user_id").cast("string"))
    h1 = F.conv(F.substring(h, 1, 8), 16, 10).cast("bigint")
    h2 = F.conv(F.substring(h, 9, 8), 16, 10).cast("bigint")
    day_regs = (
        T(spark, sf_dir, "events")
        .select(
            F.to_date("ts").alias("day"),
            (h1 % m).alias("bucket"),
            (F.lit(33) - F.length(F.bin(h2))).alias("rho"),
        )
        .groupBy("day", "bucket")
        .agg(F.max("rho").alias("reg"))
    )
    days = day_regs.select("day").distinct()
    win = day_regs.select(F.col("day").alias("uday"), "bucket", "reg")
    merged = (
        days.join(
            win,
            (F.col("uday") >= F.date_sub(F.col("day"), 6))
            & (F.col("uday") <= F.col("day")),
        )
        .groupBy("day", "bucket")
        .agg(
            F.max("reg").alias("reg_w"),
            F.max(
                F.when(F.col("uday") == F.col("day"), F.col("reg"))
            ).alias("reg_d"),
        )
    )
    pow2 = "shiftleft(CAST(1 AS BIGINT), CAST(32 - {} AS INT))"
    stats = (
        merged.select(
            "day",
            F.expr(pow2.format("reg_w")).alias("pw"),
            F.expr(pow2.format("reg_d")).alias("pd"),  # NULL-propagating
        )
        .groupBy("day")
        .agg(
            F.count("pw").alias("mw_obs"),
            F.sum("pw").alias("sw_obs"),
            F.count("pd").alias("md_obs"),
            F.sum("pd").alias("sd_obs"),
        )
    )

    def _est(m_obs: Column, s_obs: Column) -> Column:
        m_empty = (F.lit(m) - m_obs).cast("bigint")
        s_total = (s_obs + m_empty * F.lit(4294967296)).cast("bigint")
        raw = (
            F.lit(alpha) * F.lit(float(m * m)) * F.lit(4294967296.0)
            / s_total
        )
        lc = F.lit(float(m)) * F.log(
            F.lit(float(m)) / F.greatest(m_empty, F.lit(1))
        )
        return F.when(
            (m_empty > 0) & (raw <= F.lit(2.5 * m)), lc
        ).otherwise(raw)

    return stats.select(
        "day",
        pround(_est(F.col("md_obs"), F.col("sd_obs")), 4).alias(
            "dau_approx"
        ),
        pround(_est(F.col("mw_obs"), F.col("sw_obs")), 4).alias(
            "wau_7d_approx"
        ),
    )


@q("q_data_expectations")
def q_data_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality gate (hash-checked): declarative expectations over
    orders evaluated in ONE hash-aggregate pass — rule name, row count,
    violation count, pass flag per rule (operators/profile.py
    validate_expectations).  NULL predicate results count as violations
    (conservative three-valued logic), pinned on both sides."""
    from .operators.profile import validate_expectations

    od = T(spark, sf_dir, "orders")
    rules = {
        "orderkey_not_null": F.col("o_orderkey").isNotNull(),
        "totalprice_positive": F.col("o_totalprice") > 0,
        "priority_in_domain": F.col("o_orderpriority").isin(
            "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"
        ),
        "status_in_domain": F.col("o_orderstatus").isin("O", "F", "P"),
        "orderdate_in_range": (
            F.col("o_orderdate").cast("date") >= F.lit("1990-01-01").cast("date")
        )
        & (F.col("o_orderdate").cast("date") < F.lit("1997-01-01").cast("date")),
    }
    return validate_expectations(od, rules)


@q("q_union_schema_evolution")
def q_union_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution union: two source versions of the documents feed
    (v1 carries lang, v2 carries source+quality) merged with
    ``unionByName(allowMissingColumns=True)`` — absent columns null-fill
    per branch, the ingestion shape for long-lived datasets whose schema
    widened mid-history.  Both branches prune to their own column set in
    the scan; no shuffle at all (union is a partition concat)."""
    docs = T(spark, sf_dir, "documents")
    v1 = docs.filter(F.col("doc_id") % 2 == 0).select("doc_id", "lang")
    v2 = docs.filter(F.col("doc_id") % 2 == 1).select(
        "doc_id", "source", "n_chars"
    )
    return v1.unionByName(v2, allowMissingColumns=True)


# ---------------------------------------------------------------------------
# Round-5 additions: decontamination, quality-rule bundles, the remaining
# nonparametric/parametric test family, ML feature encoding.
# ---------------------------------------------------------------------------

@q("q_decontaminate_ngrams")
def q_decontaminate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination the way training pipelines actually do
    it: N-GRAM overlap, not whole-document hashes (q_contamination_check
    is the exact-hash twin) — a heldout doc is contaminated if ANY of its
    5-gram shingles appears anywhere in the train split (the GPT-3/PaLM
    13-gram rule, n scaled to the fixture's short documents).  Shape at
    100 TB: distinct train shingles are one partial-agg shuffle, the
    probe is a shuffle-on-shingle LEFT SEMI join (never a broadcast —
    the shingle set scales with the corpus), and the per-doc verdict is
    one groupBy.  Exact integers end-to-end.

    Two plan decisions the profile forced (10.5 s → ~1 s at sf0.1): the
    shingle transform REPARTITIONS first — a small parquet file scans as
    one partition, and concat_ws over every 5-token slice is the
    dominant cost, so it must spread across cores (on a real cluster
    many files give this for free; the explicit exchange makes it
    volume-independent) — and the gram table is LINEAGE-CUT, because
    three consumers (train set, heldout probe, per-doc base) would
    otherwise each re-derive the shingles (DataFrame lineage is not a
    CTE)."""
    docs = T(spark, sf_dir, "documents").filter(F.trim(F.col("text")) != "")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("bigint") % 100
    )
    # ``spread``, not a bare keyed repartition: AQE coalesces the ~10 MB
    # text exchange back to a handful of tasks from its byte count, and
    # the 5-gram concat_ws is the dominant CPU of the query (measured
    # 1.66 s -> 0.86 s at sf0.1 with the shingle stage at full width).
    tagged = cut_lineage(
        spread(docs, "doc_id").select(
            "doc_id",
            F.array_distinct(word_shingles("text", 5)).alias("grams"),
            F.when(bucket < 80, "train").otherwise("heldout").alias("split"),
        )
    )
    train_grams = (
        tagged.filter(F.col("split") == "train")
        .select(F.explode("grams").alias("g"))
        .distinct()
    )
    held = tagged.filter(F.col("split") == "heldout").select(
        "doc_id", F.explode("grams").alias("g")
    )
    hits = (
        held.join(train_grams, "g", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    base = tagged.filter(F.col("split") == "heldout").select(
        "doc_id", F.size("grams").cast("bigint").alias("n_ngrams")
    )
    return base.join(hits, "doc_id", "left").select(
        "doc_id",
        "n_ngrams",
        F.coalesce(F.col("n_hit"), F.lit(0)).cast("bigint").alias(
            "n_contaminated_ngrams"
        ),
        (F.coalesce(F.col("n_hit"), F.lit(0)) > 0).alias("is_contaminated"),
    )


@q("q_cross_lingual_contamination")
def q_cross_lingual_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTILINGUAL LEAKAGE AUDIT — 5-gram shingles shared across
    documents of DIFFERENT declared languages: in a multilingual
    corpus these are untranslated boilerplate, code-switched spans, or
    outright mislabeled documents (the mC4/ROOTS-era cleanup step a
    per-language dedup silently misses because it never joins across
    partitions).  Per unordered language pair: how many distinct
    shingles are shared and how many (doc_a, doc_b) cross-language
    pairs they induce.  Scale shape: one shingle explode, the
    candidate join is SHUFFLE-ON-SHINGLE (never all-pairs — identical
    to the decontamination layout), the lang_a < lang_b
    canonicalization halves the pair frame, and both outputs are
    count-distinct aggregates at the language-pair grain."""
    docs = T(spark, sf_dir, "documents").filter(F.trim(F.col("text")) != "")
    sh = cut_lineage(
        docs.repartition("doc_id").select(
            "doc_id",
            "lang",
            F.explode(
                F.array_distinct(word_shingles("text", 5))
            ).alias("g"),
        )
    )
    b = sh.select(
        F.col("doc_id").alias("doc_b"),
        F.col("lang").alias("lang_b"),
        F.col("g").alias("g2"),
    )
    pairs = sh.join(
        b,
        (F.col("g") == F.col("g2")) & (F.col("lang") < F.col("lang_b")),
    )
    return (
        pairs.groupBy(
            F.col("lang").alias("lang_a"), F.col("lang_b")
        )
        .agg(
            F.countDistinct("g").cast("bigint").alias(
                "n_shared_shingles"
            ),
            F.countDistinct("doc_id", "doc_b").cast("bigint").alias(
                "n_doc_pairs"
            ),
        )
        .orderBy("lang_a", "lang_b")
    )


@q("q_quality_token_frontier")
def q_quality_token_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QUALITY-FILTER THRESHOLD CURVE — the quantity/quality frontier
    every pretraining-filter decision reads before picking a cutoff
    (filter too hard and the token budget starves; too soft and junk
    trains): documents ranked into quality DECILES (ntile over the
    pinned heuristic score, doc_id tie-break — a total order), per
    decile the doc count, token mass, mean score, and the CUMULATIVE
    token share kept if the threshold were set at that decile
    (descending: decile 10 = best).  The decision companion to
    q_gopher_quality_rules' hard gates and q_corpus_filter's keep set.
    Exact integer token masses; shares pinned.  Scale shape: one
    tokenized scan; the decile is RANK ARITHMETIC over the
    DISTRIBUTED two-phase global rank (operators/rank.py — never a
    single-partition ntile window), cumulation at the 10-row decile
    grain."""
    from .operators.rank import global_rank

    docs = T(spark, sf_dir, "documents").filter(F.trim(F.col("text")) != "")
    scored = docs.select(
        "doc_id",
        token_count_of(tokens("text")).cast("bigint").alias("n_tok"),
        pround(quality_score("text"), 6).alias("q"),
    )
    ranked = global_rank(
        scored,
        [F.col("q").asc(), F.col("doc_id").asc()],
        rank_col="__r",
        total_col="__n",
    )
    tiled = ranked.withColumn(
        "decile",
        F.expr("CAST((__r - 1) * 10 div __n + 1 AS INT)"),
    )
    per = tiled.groupBy("decile").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("tokens"),
        # mean over the exact 1e-6 integer grid (dsum discipline — a
        # raw avg() of doubles is an order-dependent float sum)
        pround(
            F.sum(
                F.floor(F.col("q") * F.lit(1e6) + F.lit(0.5)).cast(
                    "bigint"
                )
            ).cast("double")
            / F.lit(1e6)
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("mean_quality"),
    )
    wd = Window.orderBy(F.col("decile").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )  # 10-row grain
    tot = Window.partitionBy()
    return per.select(
        "decile",
        "n_docs",
        "tokens",
        "mean_quality",
        pround(
            F.sum("tokens").over(wd).cast("double")
            / F.sum("tokens").over(tot).cast("double"),
            6,
        ).alias("cum_token_share_kept"),
    ).orderBy("decile")


@q("q_gopher_quality_rules")
def q_gopher_quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pretraining quality gate: the Gopher-style RULE BUNDLE per document
    (Rae et al. 2021 §A1.1.2, thresholds adapted to the fixture corpus) —
    word-count bounds, mean-word-length bounds, a minimum stopword count,
    a symbol-to-word ceiling, and an alpha-word floor — each emitted as
    its own boolean plus the conjunction, so downstream mixes can
    attribute WHY a document fell out (q_repetition_filter carries the
    companion repetition signals).  Every rule is integer arithmetic
    (mean-length bounds cross-multiplied: 3n ≤ Σlen ≤ 10n), one scan,
    no shuffle, pure codegen."""
    docs = T(spark, sf_dir, "documents").filter(F.trim(F.col("text")) != "")
    toks = tokens("text")
    d = docs.select(
        "doc_id",
        token_count_of(toks).cast("bigint").alias("n_words"),
        F.length(F.regexp_replace(F.col("text"), r"\s", "")).cast("bigint")
        .alias("sum_word_chars"),
        stopword_count_of(toks).cast("bigint").alias("n_stop"),
        punct_count("text").cast("bigint").alias("n_symbols"),
        F.size(F.filter(toks, lambda x: x.rlike("[A-Za-z]")))
        .cast("bigint").alias("n_alpha_words"),
    )
    rules = d.select(
        "doc_id",
        ((F.col("n_words") >= 30) & (F.col("n_words") <= 100000)).alias(
            "ok_word_count"
        ),
        (
            (F.col("sum_word_chars") >= 3 * F.col("n_words"))
            & (F.col("sum_word_chars") <= 10 * F.col("n_words"))
        ).alias("ok_mean_word_len"),
        (F.col("n_stop") >= 2).alias("ok_stopwords"),
        (10 * F.col("n_symbols") <= F.col("n_words")).alias("ok_symbol_ratio"),
        (10 * F.col("n_alpha_words") >= 8 * F.col("n_words")).alias(
            "ok_alpha_words"
        ),
    )
    return rules.select(
        "*",
        (
            F.col("ok_word_count")
            & F.col("ok_mean_word_len")
            & F.col("ok_stopwords")
            & F.col("ok_symbol_ratio")
            & F.col("ok_alpha_words")
        ).alias("keep"),
    )


@q("q_mannwhitney_u")
def q_mannwhitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum) between URGENT- and LOW-priority
    order totals — completes the engine's nonparametric test family (KS,
    Spearman, Kendall).  The q_ks_test discipline: collapse to exact-cent
    value grain with per-arm counts, ONE range-partitioned cumulative sum
    gives every tied group its exclusive prefix B, and the doubled rank
    sum 2R₁ = Σ c₁·(2B + t + 1) accumulates as an exact DECIMAL(38,0)
    (tied ranks are half-integers, so everything is carried ×2).  The
    normal approximation z applies the standard tie-corrected variance
    as one fixed-order IEEE expression.  Outputs are BIGINT (round 6):
    2R₁ peaks near 2N², inside bigint to ~2e9 rows total, and past that
    the ANSI cast fails LOUDLY (the q_ks_test discipline — rescale or
    sample arms beyond it); all-integer outputs keep cross-engine
    DECIMAL canonicalization out of the driver's value hash, the
    suspected q_kmeans_cells round-5 divergence."""
    from .operators.rank import global_cumsum

    pri = F.col("o_orderpriority")
    od = T(spark, sf_dir, "orders").filter(pri.isin("1-URGENT", "5-LOW"))
    v = F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5)).cast(
        "bigint"
    )
    g = (
        od.select(
            v.alias("v"),
            F.when(pri == "1-URGENT", 1).otherwise(0).alias("g1"),
            F.when(pri == "5-LOW", 1).otherwise(0).alias("g2"),
        )
        .groupBy("v")
        .agg(
            F.sum("g1").cast("bigint").alias("c1"),
            F.sum("g2").cast("bigint").alias("c2"),
        )
        .withColumn("t", F.col("c1") + F.col("c2"))
    )
    cum = global_cumsum(g, [F.col("v")], "t", cum_col="cum")
    d38 = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    b = F.col("cum") - F.col("t")  # exclusive prefix: items ranked below
    agg = cum.agg(
        F.sum("c1").cast("bigint").alias("n1"),
        F.sum("c2").cast("bigint").alias("n2"),
        F.sum(d38(F.col("c1")) * d38(2 * b + F.col("t") + 1))
        .cast("decimal(38,0)")
        .alias("r1_x2"),
        F.sum(
            d38(F.col("t")) * d38(F.col("t")) * d38(F.col("t"))
            - d38(F.col("t"))
        )
        .cast("decimal(38,0)")
        .alias("tie3"),
    )
    n1d = F.col("n1").cast("double")
    n2d = F.col("n2").cast("double")
    nd = (F.col("n1") + F.col("n2")).cast("double")
    u1_x2 = F.col("r1_x2") - d38(F.col("n1")) * d38(F.col("n1") + 1)
    du = u1_x2.cast("double") / F.lit(2.0) - n1d * n2d / F.lit(2.0)
    var = (
        n1d * n2d / F.lit(12.0)
        * ((nd + F.lit(1.0)) - F.col("tie3").cast("double") / (nd * (nd - F.lit(1.0))))
    )
    return agg.select(
        "n1",
        "n2",
        F.col("r1_x2").cast("bigint").alias("rank_sum1_x2"),
        u1_x2.cast("bigint").alias("u1_x2"),
        pround(du / F.sqrt(var), 6).alias("z"),
    )


@q("q_anova_f")
def q_anova_f(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA F across the five order priorities on exact-cent
    totals — the parametric completion of q_ttest_welch (k groups instead
    of 2).  The q_cramers_v discipline for non-associative float sums:
    per-group (n, Σx, Σx²) pivot into ONE row via conditional aggregates
    against the PINNED priority domain, the between/within sums of
    squares build from explicit left-to-right 5-term chains — fixed-order
    IEEE both engines evaluate identically — and only the final ratios
    become doubles (Σx² is exact DECIMAL(38,0) throughout; Σx a bigint)."""
    from functools import reduce

    od = T(spark, sf_dir, "orders")
    pris = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    x = F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5)).cast(
        "bigint"
    )
    d19 = lambda c: c.cast("decimal(19,0)")  # noqa: E731
    aggs = []
    for j, p in enumerate(pris):
        hit = F.col("o_orderpriority") == p
        aggs += [
            F.sum(F.when(hit, 1).otherwise(0)).cast("bigint").alias(f"n_{j}"),
            F.sum(F.when(hit, x).otherwise(0)).cast("bigint").alias(f"s_{j}"),
            F.sum(F.when(hit, d19(x) * d19(x)).otherwise(0))
            .cast("decimal(38,0)")
            .alias(f"q_{j}"),
        ]
    one = od.agg(*aggs)
    k = len(pris)
    ns = [F.col(f"n_{j}") for j in range(k)]
    ss = [F.col(f"s_{j}") for j in range(k)]
    qs_ = [F.col(f"q_{j}") for j in range(k)]
    n_tot = reduce(lambda a, b: a + b, ns)
    s_tot = reduce(lambda a, b: a + b, ss)
    # Σ_g S_g²/n_g: numerators exact DECIMAL(38,0), one division per
    # group, then a fixed-order chain of the five doubles
    terms = [
        (d19(s) * d19(s)).cast("decimal(38,0)").cast("double")
        / n.cast("double")
        for s, n in zip(ss, ns)
    ]
    t_between = reduce(lambda a, b: a + b, terms)
    q_tot = reduce(lambda a, b: a + b, qs_)  # exact decimal chain
    grand = (
        (d19(s_tot) * d19(s_tot)).cast("decimal(38,0)").cast("double")
        / n_tot.cast("double")
    )
    ssb = t_between - grand
    ssw = q_tot.cast("double") - t_between
    f_stat = (ssb / F.lit(float(k - 1))) / (
        ssw / (n_tot.cast("double") - F.lit(float(k)))
    )
    return one.select(
        n_tot.cast("bigint").alias("n_orders"),
        F.lit(k).cast("int").alias("k_groups"),
        pround(ssb / (ssb + ssw), 6).alias("eta_squared"),
        pround(f_stat, 6).alias("f_stat"),
    )


@q("q_target_encoding")
def q_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ML feature engineering: LEAVE-ONE-OUT smoothed target encoding of
    the customer's nation against order value — the categorical encoder
    gradient-boosting pipelines ship (LOO + additive smoothing prevents
    the target leak a naive group mean bakes in).  Exact rational until
    the final division: with per-nation (n, Σcents) and global (N, S),
    enc = ((Σ_nation − own)·N + m·S) / ((n_nation − 1 + m)·N) — numerator
    and denominator are exact DECIMAL products (the global mean μ=S/N is
    never materialized as a float), one pinned division per row.  Shape:
    one fact aggregation to the 25-nation grain, broadcast back over the
    fact scan, one 1-row global aggregate cross-joined — no fact-side
    window, no second shuffle."""
    m = 10  # smoothing pseudo-count
    cu = T(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_nationkey"
    )
    od = T(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5))
        .cast("bigint")
        .alias("cents"),
    ).join(F.broadcast(cu), "o_custkey")
    per_nation = od.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nat"),
        F.sum("cents").cast("bigint").alias("s_nat"),
    )
    glob = od.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_all"),
        F.sum("cents").cast("bigint").alias("s_all"),
    )
    d38 = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    j = od.join(F.broadcast(per_nation), "c_nationkey").crossJoin(
        F.broadcast(glob)
    )
    num = (
        d38(F.col("s_nat") - F.col("cents")) * d38(F.col("n_all"))
        + F.lit(m) * d38(F.col("s_all"))
    )
    den = d38(F.col("n_nat") - 1 + m) * d38(F.col("n_all"))
    return j.select(
        "o_orderkey",
        F.col("c_nationkey").alias("nationkey"),
        pround(
            num.cast("double") / den.cast("double") / F.lit(100.0), 6
        ).alias("nation_target_enc"),
    )


@q("q_bpe_train_rounds")
def q_bpe_train_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE TRAINING, three real merge rounds — the tokenizer-
    construction step upstream of q_bpe_pair_counts (one round of pair
    stats) and q_tokenizer_fertility (applying a tokenizer).  The
    standard scale trick: train on the WORD-FREQUENCY table, never the
    corpus — symbol sequences live at vocab grain with a count weight,
    so a 100 TB corpus collapses to one corpus-sized aggregation up
    front and each round is then a pair-count shuffle over the bounded
    vocab.  Per round: adjacent-pair counts (weighted by word freq) →
    global argmax (count desc, pair asc — the deterministic tie-break) →
    greedy left-to-right merge of that pair in every sequence.  The
    merge is a plain string replace over symbol strings where EACH
    symbol carries its own delimiters ('|a||b||c|', alnum-only words so
    '|' is safe): replacing '|a||b|' with '|ab|' preserves both outer
    boundaries, so non-overlapping left-to-right replacement IS the
    canonical greedy BPE merge even across runs of the same pair
    ('|a||a||a||a|' → '|aa||aa|' — a single-delimiter form would eat
    the shared '|' and skip alternate occurrences; ADVICE round 5), and
    Spark and DuckDB replace() agree byte-for-byte.  The per-round
    argmax is a
    1-row collect — the model rides the plan as a literal, the
    kmeans_fit_int discipline.  Output: (round, merged_pair, pair_count)."""
    _, merges = _bpe_train(spark, sf_dir, rounds=3)
    return spark.createDataFrame(
        merges, "round int, merged_pair string, pair_count bigint"
    )


def _bpe_train(
    spark: SparkSession, sf_dir: str, rounds: int = 3
) -> tuple[DataFrame, list[tuple[int, str, int]]]:
    """Shared BPE trainer behind q_bpe_train_rounds (merge log) and
    q_bpe_encode (the trained symbol table applied to the corpus):
    returns (final word-frequency frame with merged ``seq``, the merge
    log [(round, pair, weighted_count)])."""
    docs = T(spark, sf_dir, "documents").filter(F.trim(F.col("text")) != "")
    words = (
        docs.select(F.explode(tokens("text")).alias("word"))
        .filter(F.col("word").rlike("^[A-Za-z0-9]+$"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        .select(
            "cnt",
            F.regexp_replace(F.col("word"), "(.)", "|$1|").alias("seq"),
        )
    )
    cur = cut_lineage(words)
    out_rows = []
    for rnd in range(1, rounds + 1):
        # symbols projected as a COLUMN before the pair lambda — an
        # expression referenced inside a HOF lambda re-evaluates per
        # element (the word_shingles lesson), a bound column does not
        symd = cur.select(
            "cnt",
            F.filter(
                F.split(F.col("seq"), r"\|"), lambda x: x != ""
            ).alias("__syms"),
        )
        syms = F.col("__syms")
        pairs = (
            symd.select(
                "cnt",
                F.explode(
                    # guard: sequence(1, 0) DESCENDS rather than being
                    # empty, so single-symbol words must short-circuit
                    F.when(
                        F.size(syms) < 2, F.array().cast("array<string>")
                    ).otherwise(
                        F.transform(
                            F.sequence(F.lit(1), F.size(syms) - 1),
                            lambda j: F.concat(
                                F.element_at(syms, j),
                                F.lit(" "),
                                F.element_at(syms, j + 1),
                            ),
                        )
                    )
                ).alias("pair"),
            )
            .groupBy("pair")
            .agg(F.sum("cnt").alias("c"))
        )
        best = pairs.orderBy(F.desc("c"), F.asc("pair")).limit(1).first()
        a, b = best["pair"].split(" ")
        out_rows.append((rnd, best["pair"], int(best["c"])))
        cur = cut_lineage(
            cur.select(
                "cnt",
                F.expr(
                    f"replace(seq, '|{a}||{b}|', '|{a}{b}|')"
                ).alias("seq"),
            )
        )
    return cur, out_rows


@q("q_join_asof_tolerance")
def q_join_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-staleness as-of join: each click matched to the user's most
    recent purchase at or before it, but only within a 24-hour TOLERANCE
    (pandas merge_asof's ``tolerance`` semantics) — a stale match is as
    wrong as no match for features like "value of the last recent
    purchase".  Composes the existing backward as-of (operators/asof.py)
    by carrying the matched timestamp as a second value column and
    nulling both outputs past the gap; same one-shuffle union+window
    shape, no new machinery.  Oracle: DuckDB native ASOF LEFT JOIN plus
    the identical gap test."""
    from .operators.asof import asof_join

    ev = T(spark, sf_dir, "events")
    left = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id", "value"
    )
    right = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("rv"))
        .withColumn("rv_ts", F.col("ts"))
    )
    joined = asof_join(
        left, right, on="user_id", ts_col="ts",
        right_value_cols=["rv", "rv_ts"], suffix="",
    )
    within = (
        F.unix_timestamp("ts") - F.unix_timestamp("rv_ts")
    ) <= 24 * 3600
    return joined.select(
        "event_id",
        "user_id",
        F.unix_timestamp("ts").alias("ts_epoch"),
        "value",
        F.when(within, F.col("rv")).alias("recent_purchase_value"),
        F.when(within, F.unix_timestamp("rv_ts")).alias(
            "matched_ts_epoch"
        ),
    )


@q("q_media_type_stats")
def q_media_type_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L5 aggregate twin of q_media_header_roundtrip: the per-container
    METADATA SWEEP over a binary media table — counts, byte totals, and
    exact dimension/duration sums per detected container, parsed from
    header bytes only.  This is the query shape that matters at 100 TB of
    media: ``byte_len``/dims come from the first ~40 bytes of each blob
    via codegen expressions, so the sweep never decodes a payload and
    never leaves the JVM.  Blob construction + parsing share
    functions/mediahex.py and sources/multimodal.py with the roundtrip
    query; sums are exact integers (floor-div means left to the reader)."""
    from .sources.multimodal import audio_header_meta, image_header_dims

    media = _media_blobs(spark, sf_dir)
    parsed = audio_header_meta(image_header_dims(media))
    d = parsed.select(
        F.when(F.col("modality") == "audio", F.col("audio_format"))
        .otherwise(F.col("format"))
        .alias("container"),
        F.length("content").cast("bigint").alias("nbytes"),
        F.col("header_width").cast("bigint").alias("w"),
        F.col("header_height").cast("bigint").alias("h"),
        F.col("duration_ms").cast("bigint").alias("dur"),
    )
    return d.groupBy("container").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_files"),
        F.sum("nbytes").cast("bigint").alias("total_bytes"),
        F.sum("w").cast("bigint").alias("sum_width"),
        F.sum("h").cast("bigint").alias("sum_height"),
        F.sum("dur").cast("bigint").alias("sum_duration_ms"),
    )


@q("q_negative_sampling")
def q_negative_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RECOMMENDER training-data op: deterministic NEGATIVE sampling —
    for each sampled user, k=3 items they did NOT purchase, selected by
    the portable md5 rank over (user, item) so the sample is stable
    under reshuffles and incremental appends (the q_corpus_sample
    discipline applied to the implicit-feedback negatives every
    ranking-loss trainer needs; random.choice would be neither
    reproducible nor engine-portable).  Candidate grid = sampled users
    (custkey % 100 == 0) × the bounded item subset (partkey % 10 == 0)
    — the grid is |users|·|items| BY CONSTRUCTION and documented as
    such (production shards the item side or samples it; the anti-join
    against interactions is the real per-user work either way).
    Scale shape: broadcast item list, anti-join on the interaction
    pairs, per-user top-k window over the k-bounded candidate set."""
    od = T(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = T(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    inter = cut_lineage(
        od.filter(F.col("o_custkey") % 100 == 0)
        .join(li, od.o_orderkey == li.l_orderkey)
        .filter(F.col("l_partkey") % 10 == 0)
        .select(
            F.col("o_custkey").alias("custkey"),
            F.col("l_partkey").alias("partkey"),
        )
        .distinct()
    )
    users = (
        od.filter(F.col("o_custkey") % 100 == 0)
        .select(F.col("o_custkey").alias("custkey"))
        .distinct()
    )
    items = (
        T(spark, sf_dir, "part")
        .filter(F.col("p_partkey") % 10 == 0)
        .select(F.col("p_partkey").alias("partkey"))
    )
    grid = users.join(F.broadcast(items))
    neg = grid.join(inter, ["custkey", "partkey"], "left_anti")
    rk = F.row_number().over(
        Window.partitionBy("custkey").orderBy(
            F.md5(F.concat_ws("|", "custkey", "partkey")), "partkey"
        )
    )
    return (
        neg.withColumn("rank", rk)
        .filter(F.col("rank") <= 3)
        .select("custkey", "partkey", F.col("rank").cast("int").alias("rank"))
        .orderBy("custkey", "rank")
    )


@q("q_hard_negatives")
def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONTRASTIVE training-data op: HARD-negative mining — for each of
    5 probe vectors, the 3 nearest neighbors with a DIFFERENT label
    (exact integer squared-L2 in micro-units): near-but-wrong examples
    are what make contrastive/triplet losses converge (random negatives
    are trivially separable and contribute ~zero gradient — the reason
    every dense-retriever recipe mines hard negatives).  The 5 probe
    vectors are a k-bounded driver pull (the sanctioned model-pull
    idiom); each probe's search is a label-filtered
    TakeOrderedAndProject scan, unioned.  Scale shape: 5 ordered scans
    (production batches thousands of probes through the ANN index
    instead — q_ivfpq_topk — then exact-reranks; this is the exact
    ground-truth variant that also EVALUATES that index)."""
    from .operators.kmeans import quantize_micro, sq_dist_int

    em = T(spark, sf_dir, "embeddings")
    qv = cut_lineage(
        em.select(
            "vec_id", "label", quantize_micro("embedding").alias("__q")
        )
    )
    probes = qv.filter(F.col("vec_id") < 5).collect()  # 5-row pull
    parts = []
    for p in probes:
        d = sq_dist_int(F.col("__q"), p["__q"])
        parts.append(
            qv.filter(
                (F.col("label") != F.lit(int(p["label"])))
                & (F.col("vec_id") != F.lit(int(p["vec_id"])))
            )
            .select(
                F.lit(int(p["vec_id"])).alias("probe_id"),
                "vec_id",
                "label",
                d.alias("d_micro2"),
            )
            .orderBy("d_micro2", "vec_id")
            .limit(3)
        )
    out = parts[0]
    for x in parts[1:]:
        out = out.unionAll(x)
    return out


@q("q_knn_probe_accuracy")
def q_knn_probe_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REPRESENTATION-QUALITY EVAL: kNN-probe accuracy — predict every
    probe vector's label by the MAJORITY of its 3 exact nearest
    neighbors (self excluded); the no-training-required readout of
    embedding quality (the kNN probe used across representation-
    learning evals, e.g. Caron et al. 2021 §4): if labels aren't
    recoverable from neighborhoods, no downstream head will fix it.
    Each label kind is reported AGAINST ITS EXACT PERMUTATION NULL —
    null_accuracy = Σ_l P(true=l)·P(pred=l) from the observed
    marginals, the accuracy an independence-preserving label shuffle
    would score — because on THIS fixture the correct answer is "no
    signal": the label column is assigned independently of geometry,
    and even the 'sign3' geometric signature (3-bit sign of the first
    components) is barely recoverable — 64-dim isotropic vectors
    concentrate distances (Beyer et al. 1999, "When is nearest
    neighbor meaningful?"), so a single coordinate's sign correlates
    weakly with the neighbor's.  lift = observed/null ≈ 1 on both
    kinds is therefore the CORRECT reading here (pinned by test);
    on a genuinely clustered embedding table the same query reads
    lift ≫ 1 — the comparison column is what makes the metric a
    decision rather than a number.  Fully
    distributed: a COUNT-BOUNDED probe set broadcasts against the
    corpus (a fractional probe set made the pair frame quadratic —
    the 10× gate caught it at 16.5×/decade; the vec_id cap pins
    |probes| ≤ ~540 at any corpus size, non-binding at fixture SFs),
    distances are exact integer micro-unit codegen folds, top-3 per
    probe via grouped_topk heaps, majority over ≤3 rows (v desc,
    label asc — a total order).  Past ~10⁴ probes production routes
    through IVF-PQ and THIS exact form is its ground-truth evaluator
    (the q_ivfpq_recall pairing)."""
    from .operators.kmeans import quantize_micro
    from .operators.rank import grouped_topk

    em = T(spark, sf_dir, "embeddings")
    sign3 = (
        F.lit(4) * (F.element_at("__q", 1) > 0).cast("int")
        + F.lit(2) * (F.element_at("__q", 2) > 0).cast("int")
        + (F.element_at("__q", 3) > 0).cast("int")
    )
    qv = cut_lineage(
        em.select(
            "vec_id", "label", quantize_micro("embedding").alias("__q")
        ).select("vec_id", "label", "__q", sign3.alias("sign3"))
    )
    probes = qv.filter(
        (F.col("vec_id") % 37 == 0) & (F.col("vec_id") < 20000)
    ).select(
        F.col("vec_id").alias("p_id"),
        F.col("label").alias("p_label"),
        F.col("sign3").alias("p_sign3"),
        F.col("__q").alias("p_q"),
    )
    d = F.aggregate(
        F.zip_with(F.col("__q"), F.col("p_q"), lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    top3 = cut_lineage(
        grouped_topk(
            qv.crossJoin(F.broadcast(probes))
            .filter(F.col("vec_id") != F.col("p_id"))
            .select(
                "p_id", "p_label", "p_sign3", "label", "sign3",
                d.alias("d2"), "vec_id",
            ),
            ["p_id"],
            [F.col("d2").asc(), F.col("vec_id").asc()],
            k=3,
        )
    )

    def branch(kind: str, true_col: str, pred_col: str) -> DataFrame:
        votes = top3.groupBy("p_id", true_col, pred_col).agg(
            F.count(F.lit(1)).alias("v")
        )
        wv = Window.partitionBy("p_id").orderBy(
            F.col("v").desc(), F.col(pred_col).asc()
        )
        pred = cut_lineage(
            votes.withColumn("__r", F.row_number().over(wv))
            .filter(F.col("__r") == 1)
            .select(
                F.col(true_col).cast("int").alias("t"),
                F.col(pred_col).cast("int").alias("pr"),
            )
        )
        # exact permutation null from the (t, pr) marginals: with
        # n_t[l] true and n_p[l] predicted counts over n probes,
        # null = Σ_l n_t[l]·n_p[l] / n² — all integers, one division
        per_l = (
            pred.select(F.col("t").alias("l"))
            .groupBy("l")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_t"))
            .join(
                pred.select(F.col("pr").alias("l"))
                .groupBy("l")
                .agg(F.count(F.lit(1)).cast("bigint").alias("n_p")),
                "l",
                "full",
            )
            .select(
                (
                    F.coalesce("n_t", F.lit(0))
                    * F.coalesce("n_p", F.lit(0))
                ).cast("bigint").alias("__tp")
            )
            .agg(F.sum("__tp").cast("bigint").alias("s_null"))
        )
        obs = pred.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_probes"),
            F.sum((F.col("pr") == F.col("t")).cast("bigint"))
            .cast("bigint")
            .alias("n_correct"),
        )
        n = F.col("n_probes").cast("double")
        acc = F.col("n_correct").cast("double") / n
        null = F.col("s_null").cast("double") / (n * n)
        return obs.crossJoin(F.broadcast(per_l)).select(
            F.lit(kind).alias("label_kind"),
            "n_probes",
            "n_correct",
            pround(acc, 6).alias("knn_accuracy"),
            pround(null, 6).alias("null_accuracy"),
            pround(acc / null, 6).alias("lift"),
        )

    return branch("fixture", "p_label", "label").unionAll(
        branch("sign3", "p_sign3", "sign3")
    )


@q("q_item_cf_neighbors")
def q_item_cf_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative filtering: each part's TOP-3 nearest
    neighbors by co-occurrence COSINE c_ab/√(c_a·c_b) — the classical
    memory-based recommender build (Sarwar et al. 2001), one step past
    q_basket_pairs' lift readout.  Same single-shuffle basket machinery
    (pairs quadratic only within a basket, support broadcast back); the
    pair table symmetrizes (each edge serves both endpoints), and the
    per-item top-3 is a row_number window over (cosine desc, neighbor
    asc) — safe to rank on the UNROUNDED cosine because both engines
    evaluate the identical IEEE expression on identical integers.
    Support floor ≥ 3 keeps the neighbor lists out of the
    one-co-purchase noise floor."""
    li = T(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    baskets = cut_lineage(_baskets(li))
    pairs = (
        _pairs_from_baskets(baskets)
        .groupBy("p1", "p2")
        .agg(F.count(F.lit(1)).alias("c_ab"))
        .filter(F.col("c_ab") >= 3)
    )
    sym = pairs.select(
        F.col("p1").alias("item"), F.col("p2").alias("nbr"), "c_ab"
    ).unionAll(
        pairs.select(
            F.col("p2").alias("item"), F.col("p1").alias("nbr"), "c_ab"
        )
    )
    support = (
        baskets.select(F.explode("ps").alias("pk"))
        .groupBy("pk")
        .agg(F.count(F.lit(1)).alias("c_x"))
    )
    j = sym.join(
        support.select(F.col("pk").alias("item"), F.col("c_x").alias("c_a")),
        "item",
    ).join(
        support.select(F.col("pk").alias("nbr"), F.col("c_x").alias("c_b")),
        "nbr",
    )
    cos = F.col("c_ab").cast("double") / F.sqrt(
        (F.col("c_a") * F.col("c_b")).cast("double")
    )
    w = Window.partitionBy("item").orderBy(cos.desc(), F.asc("nbr"))
    return (
        j.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select(
            "item",
            "nbr",
            "c_ab",
            pround(cos, 6).alias("cosine"),
            F.col("rank").cast("int").alias("rank"),
        )
    )


@q("q_snaive_backtest")
def q_snaive_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast BACKTESTING: the seasonal-naive baseline ŷ_t = y_{t−7}
    (the model every real forecast must beat) scored per month with MAE
    and MAPE — the rolling-origin evaluation a demand-planning pipeline
    runs nightly.  Exact end-to-end: daily revenue collapses to exact
    cents on the bounded day grain (~2.4k rows — windows there are the
    documented bounded-grain exception), the lag-7 error is integer, MAE
    is a floor-divided integer mean, and MAPE pins each day's |e|/y to
    integer micro-units BEFORE the mean (floor(1e6·|e|/y + 0.5)) so no
    cross-row float sum exists.  Days without a t−7 predecessor drop."""
    od = T(spark, sf_dir, "orders").select(
        F.to_date("o_orderdate").alias("d"),
        F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5))
        .cast("bigint")
        .alias("cents"),
    )
    daily = od.groupBy("d").agg(F.sum("cents").alias("y"))
    w = Window.orderBy("d")
    scored = (
        daily.withColumn("yhat", F.lag("y", 7).over(w))
        .filter(F.col("yhat").isNotNull())
        .select(
            F.trunc("d", "month").alias("m"),
            F.abs(F.col("y") - F.col("yhat")).alias("ae"),
            F.floor(
                F.abs(F.col("y") - F.col("yhat"))
                * F.lit(1000000.0)
                / F.col("y")
                + F.lit(0.5)
            )
            .cast("bigint")
            .alias("ape_u"),
        )
    )
    fdiv = lambda s, n: F.expr(  # noqa: E731
        f"({s} - (({s} % {n}) + {n}) % {n}) div {n}"
    )
    agg = scored.groupBy("m").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.sum("ae").cast("bigint").alias("sae"),
        F.sum("ape_u").cast("bigint").alias("sape"),
    )
    return agg.select(
        "m",
        "n_days",
        fdiv("sae", "n_days").cast("bigint").alias("mae_cents"),
        fdiv("sape", "n_days").cast("bigint").alias("mape_micro"),
    )


@q("q_neyman_allocation")
def q_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survey-sampling design: NEYMAN allocation of a 10,000-row sample
    budget across the order-priority strata — share_h ∝ N_h·σ_h, the
    variance-minimizing refinement of q_proportional_allocation's
    population shares.  σ_h comes from exact decimal power sums, turns
    into a double by one fixed-IEEE expression per stratum (sqrt is
    correctly rounded, so identical inputs give identical doubles), and
    pins to integer micro-units; the integer weights N_h·σ_micro then
    allocate by LARGEST REMAINDER (floor shares + the top remainders get
    the leftover units), so allocations are exact integers that sum to
    the budget by construction."""
    budget = 10_000
    od = T(spark, sf_dir, "orders")
    x = F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5)).cast(
        "bigint"
    )
    d19 = lambda c: c.cast("decimal(19,0)")  # noqa: E731
    g = od.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_h"),
        F.sum(x).cast("bigint").alias("s_h"),
        F.sum(d19(x) * d19(x)).cast("decimal(38,0)").alias("q_h"),
    )
    nd = F.col("n_h").cast("double")
    var = (
        nd * F.col("q_h").cast("double")
        - F.col("s_h").cast("double") * F.col("s_h").cast("double")
    ) / (nd * (nd - F.lit(1.0)))
    sig_u = F.floor(F.sqrt(var) * F.lit(1e6) + F.lit(0.5)).cast("bigint")
    wtd = g.select(
        "o_orderpriority",
        "n_h",
        sig_u.alias("sigma_micro"),
        (d19(F.col("n_h")) * d19(sig_u)).cast("decimal(38,0)").alias("w"),
    )
    tot = Window.partitionBy()  # 5 strata: the window frame is bounded
    # exact integral division via `div` (decimal-in, bigint-out) —
    # decimal/decimal `/` would overflow Spark's result-precision rules
    # at these magnitudes, and a double roundtrip could flip a floor
    alloc = (
        wtd.withColumn("wsum", F.sum("w").over(tot))
        .withColumn(
            "quota", (F.lit(budget) * F.col("w")).cast("decimal(38,0)")
        )
        .withColumn("base", F.expr("quota div wsum").cast("bigint"))
        .withColumn("rem", F.expr("quota % wsum"))
    )
    alloc = alloc.select(
        "o_orderpriority",
        "n_h",
        "sigma_micro",
        "base",
        "rem",
        (F.lit(budget) - F.sum("base").over(tot)).alias("leftover"),
        F.row_number()
        .over(tot.orderBy(F.desc("rem"), F.asc("o_orderpriority")))
        .alias("rr"),
    )
    return alloc.select(
        "o_orderpriority",
        "n_h",
        "sigma_micro",
        (
            F.col("base")
            + F.when(F.col("rr") <= F.col("leftover"), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n_sampled"),
    )


@q("q_lag_features")
def q_lag_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ML feature engineering: per-customer LAG features over the order
    history — previous and second-previous order values plus the rolling
    mean of the last (up to) 3 prior orders, the bread-and-butter input
    block of churn/LTV models.  Customer-partitioned windows (millions of
    partitions — no low-cardinality funnel), exact cents throughout; the
    rolling mean is a floor-divided integer over however many of the 3
    predecessors exist, so no float enters until never."""
    od = T(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.to_date("o_orderdate").alias("d"),
        F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5))
        .cast("bigint")
        .alias("cents"),
    )
    w = Window.partitionBy("o_custkey").orderBy("d", "o_orderkey")
    lagged = od.select(
        "o_orderkey",
        "o_custkey",
        "cents",
        F.lag("cents", 1).over(w).alias("prev1"),
        F.lag("cents", 2).over(w).alias("prev2"),
        F.lag("cents", 3).over(w).alias("prev3"),
    )
    n_prev = (
        F.when(F.col("prev1").isNotNull(), 1).otherwise(0)
        + F.when(F.col("prev2").isNotNull(), 1).otherwise(0)
        + F.when(F.col("prev3").isNotNull(), 1).otherwise(0)
    )
    s_prev = (
        F.coalesce(F.col("prev1"), F.lit(0))
        + F.coalesce(F.col("prev2"), F.lit(0))
        + F.coalesce(F.col("prev3"), F.lit(0))
    )
    return lagged.select(
        "o_orderkey",
        "o_custkey",
        "cents",
        "prev1",
        "prev2",
        F.when(
            n_prev > 0, F.floor(s_prev / n_prev).cast("bigint")
        ).alias("prev3_mean_cents"),
    )


@q("q_calendar_spine_join")
def q_calendar_spine_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-free reporting via the reference's OWN calendar generator
    (G1, FullETLGenerator.java:182-204): the generated date spine LEFT
    JOINs the daily order aggregate, so days with no orders appear with
    explicit zeros — the spine-join idiom behind every complete
    time-series report (a bare GROUP BY silently drops empty days).
    The spine derives from the fact's min/max bounds with zero driver
    round-trips (build_calendar_dim_from_bounds), the daily aggregate is
    one shuffle, and the join broadcasts the skinny aggregate onto the
    bounded day grain."""
    from .operators.star import build_calendar_dim_from_bounds

    od = T(spark, sf_dir, "orders").select(
        F.to_date("o_orderdate").alias("d"),
        F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5))
        .cast("bigint")
        .alias("cents"),
    )
    bounds = od.agg(F.min("d").alias("d0"), F.max("d").alias("d1"))
    spine = build_calendar_dim_from_bounds(bounds).select(
        F.to_date("DataCompleta").alias("d")
    )
    daily = od.groupBy("d").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("cents").cast("bigint").alias("rev"),
    )
    return spine.join(daily, "d", "left").select(
        "d",
        F.coalesce(F.col("n"), F.lit(0)).cast("bigint").alias("n_orders"),
        F.coalesce(F.col("rev"), F.lit(0)).cast("bigint").alias("rev_cents"),
    )


@q("q_ab_srm_check")
def q_ab_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch guardrail for experimentation: customers
    assign to A/B arms by md5 hash bucket (the q_abtest_zscore assignment
    family), and the 1-df χ² against the intended 50/50 split decides
    whether randomization itself is broken — the FIRST check any A/B
    readout must pass, since a biased split invalidates every downstream
    metric.  Exact integer counts; χ² is one fixed-IEEE expression; the
    flag applies the standard 3.84 (p<0.05) threshold to the UNROUNDED
    statistic.  One aggregation over customers, no joins."""
    cu = T(spark, sf_dir, "customer")
    bucket = (
        F.conv(
            F.substring(F.md5(F.col("c_custkey").cast("string")), 1, 4),
            16,
            10,
        ).cast("bigint")
        % 2
    )
    agg = cu.agg(
        F.sum(F.when(bucket == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_a"),
        F.sum(F.when(bucket == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_b"),
    )
    na = F.col("n_a").cast("double")
    nb = F.col("n_b").cast("double")
    e = (na + nb) / F.lit(2.0)
    chi2 = (na - e) * (na - e) / e + (nb - e) * (nb - e) / e
    return agg.select(
        "n_a",
        "n_b",
        pround(chi2, 6).alias("chi2"),
        (chi2 > F.lit(3.841458820694124)).alias("srm_detected"),
    )


@q("q_anomaly_robust_z")
def q_anomaly_robust_z(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection: the MEDIAN/MAD modified z-score
    (Iglewicz-Hoaglin M = 0.6745·(x−med)/MAD, |M| > 3.5) — immune to the
    outliers themselves, unlike q_anomaly_zscore's mean/σ, and a
    different fence family than q_iqr_outliers' quartiles.  Exact-cent
    medians (midpoints of identical integers are identical doubles in
    both engines — the q_rolling_median precedent), MAD from one
    deviation pass against the broadcast median, per-row M as a single
    fixed-IEEE expression.  The classical |M| > 3.5 fence is structurally
    empty on this near-uniform fixture (measured max |M| ≈ 1.35 at every
    SF), so the query emits the TOP-20 most extreme orders instead —
    non-degenerate at any SF, same math, and the ordering itself is
    cross-engine exact because M is bit-identical (ties break on key).
    Both medians run through the DISTRIBUTED rank (the
    q_exact_median_rank path: range-partitioned two-phase rank, rows at
    floor/ceil((N+1)/2)) — builtin ``percentile`` buffers every value in
    one aggregation buffer, which is exactly what breaks at 100 TB;
    measured 16.8 s → 9.7 s at 10× sf0.1 (1.5M rows) from this switch,
    and the rank form is memory-bounded at any N where the buffer form
    is not.  The midpoint average of two exact-representable values
    equals DuckDB's ``median`` interpolation bit-for-bit."""
    from .operators.rank import global_rank

    od = T(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5))
        .cast("bigint")
        .alias("cents"),
    )

    def _median(df, col):
        ranked = global_rank(
            df, [F.col(col), F.col("o_orderkey")],
            rank_col="__r", total_col="__n",
        )
        lo = F.floor((F.col("__n") + 1) / 2)
        hi = F.ceil((F.col("__n") + 1) / 2)
        return ranked.filter(
            (F.col("__r") == lo) | (F.col("__r") == hi)
        ).agg(F.avg(F.col(col).cast("double")).alias(f"med_{col}"))

    med = _median(od, "cents").withColumnRenamed("med_cents", "med")
    dev = od.crossJoin(F.broadcast(med)).withColumn(
        "dev", F.abs(F.col("cents").cast("double") - F.col("med"))
    )
    mad = _median(dev.select("o_orderkey", "dev"), "dev").withColumnRenamed(
        "med_dev", "mad"
    )
    scored = (
        od.crossJoin(F.broadcast(med))
        .crossJoin(F.broadcast(mad))
        .withColumn(
            "m",
            F.lit(0.6745)
            * (F.col("cents").cast("double") - F.col("med"))
            / F.col("mad"),
        )
    )
    return (
        scored.orderBy(F.desc(F.abs(F.col("m"))), F.asc("o_orderkey"))
        .limit(20)
        .select(
            "o_orderkey",
            pround(F.col("cents") / F.lit(100.0), 2).alias("totalprice"),
            pround(F.col("m"), 6).alias("modified_z"),
        )
    )


@q("q_curation_funnel")
def q_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The END-TO-END curation funnel as one query: per source, how many
    documents enter, survive exact dedup (first-wins on content sha),
    survive the Gopher quality gate, and carry no 5-gram contamination
    against the train split — the composition readout a dataset card
    reports.  Reuses the registry's own building blocks (q_dedup_exact /
    q_gopher_quality_rules / q_decontaminate_ngrams semantics) so the
    funnel can never drift from the individual gates.  Each stage is a
    flag computed independently, then ONE aggregation; counts are
    nested (stage N counts docs passing stages 1..N), matching how
    funnel stages read.  The flags-plus-grams frame is LINEAGE-CUT once
    (the q_decontaminate_ngrams lesson: two consumers re-deriving the
    shingle transform doubles the dominant cost), and the flag/shingle
    expressions evaluate after the dedup window's hash shuffle, so they
    run at full parallelism even when the scan is one small file."""
    # ``spread`` on the content hash pins the dedup window's exchange to
    # the configured shuffle parallelism (HashPartitioning on __sha
    # satisfies the window's clustering, so no second exchange): AQE
    # sizes the ~1.3 MB compressed text exchange by BYTES and would run
    # the downstream flag/token codegen — the dominant CPU of the query
    # — in a couple of tasks.
    docs = spread(
        T(spark, sf_dir, "documents")
        .filter(F.trim(F.col("text")) != "")
        .withColumn("__sha", F.sha2(F.col("text"), 256)),
        "__sha",
    )
    w = Window.partitionBy("__sha").orderBy("doc_id")
    toks = tokens("text")
    base = docs.select(
        "doc_id",
        "source",
        "text",
        (F.row_number().over(w) == 1).alias("dedup_ok"),
        token_count_of(toks).cast("bigint").alias("n_words"),
        F.length(F.regexp_replace(F.col("text"), r"\s", "")).cast("bigint")
        .alias("sum_word_chars"),
        stopword_count_of(toks).cast("bigint").alias("n_stop"),
        punct_count("text").cast("bigint").alias("n_symbols"),
        F.size(F.filter(toks, lambda x: x.rlike("[A-Za-z]")))
        .cast("bigint").alias("n_alpha_words"),
    )
    quality_ok = (
        (F.col("n_words") >= 30)
        & (F.col("n_words") <= 100000)
        & (F.col("sum_word_chars") >= 3 * F.col("n_words"))
        & (F.col("sum_word_chars") <= 10 * F.col("n_words"))
        & (F.col("n_stop") >= 2)
        & (10 * F.col("n_symbols") <= F.col("n_words"))
        & (10 * F.col("n_alpha_words") >= 8 * F.col("n_words"))
    )
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("bigint") % 100
    )
    # The cut carries the RAW text, not the 5-gram array: profiled at
    # sf0.1, the old grams-array cache was re-read and re-exploded by
    # each of its three consumers (4.0 + 2.3 + 1.8 cpu-s of the
    # query's ~16 — the explode ran twice, once per split filter).
    # Shingling + explode now happen ONCE, in a second LAZY cut of the
    # already-exploded narrow (doc_id, g, split) frame; both split
    # filters scan those cached rows, and the flags consumer below
    # never deserializes a gram.
    tagged = cut_lineage(
        base.withColumn("quality_ok", quality_ok).withColumn(
            "split", F.when(bucket < 80, "train").otherwise("heldout")
        )
    )
    grams = cut_lineage(
        tagged.select(
            "doc_id",
            F.explode(F.array_distinct(word_shingles("text", 5))).alias("g"),
            "split",
        ),
        eager=False,
    )
    tagged = tagged.drop("text")
    train_grams = grams.filter(F.col("split") == "train").select("g").distinct()
    dirty = (
        grams.filter(F.col("split") == "heldout")
        .join(train_grams, "g", "left_semi")
        .select("doc_id")
        .distinct()
        .withColumn("contaminated", F.lit(True))
    )
    flagged = tagged.join(dirty, "doc_id", "left").withColumn(
        "clean_ok",
        (F.col("split") == "train") | F.col("contaminated").isNull(),
    )
    return flagged.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_in"),
        F.sum(F.when(F.col("dedup_ok"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_after_dedup"),
        F.sum(F.when(F.col("dedup_ok") & F.col("quality_ok"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_after_quality"),
        F.sum(
            F.when(
                F.col("dedup_ok") & F.col("quality_ok") & F.col("clean_ok"),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_after_decontamination"),
    )


# Engine-portable SQL: valid verbatim under BOTH Spark SQL and DuckDB —
# the oracle entry is this exact string.
PORTABLE_STAR_SQL = """
    SELECT r_name, n_name, CAST(year(o_orderdate) AS INT) AS order_year,
           count(*) AS n_lines,
           (CAST(sum(CAST(floor(((l_extendedprice * (1.0 - l_discount))
                 * 10000.0) + 0.5) AS BIGINT)) AS DOUBLE) / 10000.0)
             AS revenue
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name, n_name, order_year
"""


@q("q_sql_interface")
def q_sql_interface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL front door: the flagship star rollup as ONE ``spark.sql``
    statement over the registered table views — same Catalyst logical
    plan as the DataFrame form, proving users can drive the engine from
    either API.  The statement is engine-portable SQL; the DuckDB oracle
    runs the identical text."""
    from .catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(PORTABLE_STAR_SQL)


# ---------------------------------------------------------------------------
# Round 6: semantic dedup over trained cells + tokenizer-encode capstone
# ---------------------------------------------------------------------------

@q("q_semdedup_cells")
def q_semdedup_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023) — SEMANTIC dedup of the embedding
    corpus via cluster-then-prune: train the integer-pinned k-means
    coarse quantizer (operators/kmeans.py kmeans_fit_int, the
    bit-identical trainer behind the IVF family), assign every vector
    to its cell, and inside each cell drop any vector that has a
    LOWER-id neighbor with cosine >= τ (τ=0.3, fixture-tuned like
    q_embed_neardup — the synthetic embeddings are near-orthogonal, so
    a production 0.9 would be vacuous).  The published recipe's scale
    shape exactly: the pairwise test runs WITHIN cells only (k is
    chosen ~sqrt(N) in production so cells stay bounded; never
    all-pairs), and the threshold test is exact integer arithmetic —
    cos >= τ  ⇔  100·dot·|dot| >= 9·‖a‖²·‖b‖² on micro-unit bigints
    (the sign-preserving single-square form; dot ≤ ~6e13 → dot² ≤
    ~4e27, inside DECIMAL(38,0); DuckDB mirrors in HUGEINT) — so
    survivors are engine-identical.  Output: per-cell census (size,
    dropped, kept)."""
    return semdedup_census(T(spark, sf_dir, "embeddings"), k=8, iters=2)


def semdedup_census(em: DataFrame, k: int, iters: int = 2) -> DataFrame:
    """The SemDeDup cluster-then-prune pipeline, parameterized on k so
    scripts/scale_probe.py can drive it with the production k~sqrt(N)
    rule (q_semdedup_cells pins k=8 for the fixture oracle).  See the
    q_semdedup_cells docstring for semantics and the integer threshold
    form."""
    from .operators.kmeans import (
        ARROW_ASSIGN_LITERAL_LIMIT,
        assign_cells_arrow_int,
        kmeans_fit_int,
        nearest_cell_int,
        quantize_micro,
    )

    model = kmeans_fit_int(em, k=k, iters=iters)
    base = em.select("vec_id", quantize_micro("embedding").alias("__q"))
    if len(model) * len(model[0]) > ARROW_ASSIGN_LITERAL_LIMIT:
        assigned = assign_cells_arrow_int(
            base, model, vec_col="__q", cell_col="cell"
        )
    else:
        assigned = base.withColumn(
            "cell", nearest_cell_int(F.col("__q"), model)
        )
    qv = cut_lineage(
        assigned.select(
            "vec_id",
            "__q",
            F.col("cell").cast("bigint").alias("cell"),
            F.aggregate(
                F.transform(F.col("__q"), lambda x: x * x),
                F.lit(0).cast("bigint"),
                lambda acc, x: acc + x,
            ).alias("n2"),
        )
    )
    a = qv.select(
        F.col("vec_id").alias("ida"),
        F.col("cell"),
        F.col("__q").alias("qa"),
        F.col("n2").alias("na2"),
    )
    b = qv.select(
        F.col("vec_id").alias("idb"),
        F.col("cell"),
        F.col("__q").alias("qb"),
        F.col("n2").alias("nb2"),
    )
    dot = F.aggregate(
        F.zip_with(F.col("qa"), F.col("qb"), lambda x, y: x * y),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    d19 = lambda c: c.cast("decimal(19,0)")  # noqa: E731
    # Sign-preserving single-square form: dot·|dot| == dot² when dot>0
    # and is <= 0 otherwise, so one inequality replaces (dot>0 AND
    # dot²-test) — the dot fold appears twice in the pushed-down join
    # predicate instead of three times (zero-vector pairs are excluded
    # on the scalar norms, not by re-evaluating the fold).
    dropped = (
        a.join(b, ["cell"])
        .filter(F.col("ida") < F.col("idb"))
        .withColumn("dot", dot)
        .filter(
            (F.col("na2") > 0)
            & (F.col("nb2") > 0)
            & (
                F.lit(100).cast("decimal(19,0)")
                * (d19(F.col("dot")) * d19(F.abs(F.col("dot"))))
                >= F.lit(9).cast("decimal(19,0)")
                * (d19(F.col("na2")) * d19(F.col("nb2")))
            )
        )
        .select("cell", F.col("idb").alias("vec_id"))
        .distinct()
        .groupBy("cell")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_dropped"))
    )
    census = qv.groupBy("cell").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vecs")
    )
    return (
        census.join(dropped, "cell", "left")
        .select(
            "cell",
            "n_vecs",
            F.coalesce(F.col("n_dropped"), F.lit(0).cast("bigint")).alias(
                "n_dropped"
            ),
            (
                F.col("n_vecs")
                - F.coalesce(F.col("n_dropped"), F.lit(0).cast("bigint"))
            ).alias("n_kept"),
        )
    )


@q("q_dp_noisy_counts")
def q_dp_noisy_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differential-privacy COUNT release (governance family): per
    (order-year, priority) counts with two-sided geometric noise
    [Ghosh et al. 2009], ε=0.5 — the discrete-Laplace mechanism that
    keeps released counts integer.  Noise draws use the engine-exact
    hex-threshold inverse CDF (functions/privacy.py, the
    poisson1_hex_thresholds discipline): u32 = 8 md5 hex chars of the
    salted release key, noise = first k whose threshold >= u32 — a
    lexicographic string compare, no floats at query time, and the
    per-release-key seed makes re-running a release idempotent (the
    same window never spends budget twice; different releases must
    vary the salt).  |noise| truncated at 16 (tail mass ~2e-4 → the
    documented (ε, δ) relaxation).  Negative releases clamp to 0
    (post-processing preserves DP).  Output is the CALIBRATION view
    (true count + noise + release); a production release projects
    released_count only.  SECRECY: the hardcoded 'dp-count-v1' salt is
    public for cross-engine benchmarking ONLY — with a known salt the
    noise is recomputable and the release provides zero actual privacy;
    the (ε, δ) guarantee requires a secret per-release seed in
    production (functions/privacy.py states the same caveat).  Scale shape: one group-by, then pure per-row
    codegen — the noise CASE chain rides the plan as 33 literals."""
    from functools import reduce

    from .functions.privacy import twosided_geometric_hex_thresholds

    od = T(spark, sf_dir, "orders").select(
        F.year(F.col("o_orderdate").cast("date")).alias("order_year"),
        F.col("o_orderpriority").alias("priority"),
    )
    g = od.groupBy("order_year", "priority").agg(
        F.count(F.lit(1)).cast("bigint").alias("true_count")
    )
    u = F.substring(
        F.md5(
            F.concat_ws(
                "|",
                F.lit("dp-count-v1"),
                F.col("order_year").cast("string"),
                F.col("priority"),
            )
        ),
        1,
        8,
    )
    thr = twosided_geometric_hex_thresholds(eps=0.5, kmax=16)
    noise = reduce(
        lambda c, kt: c.when(u <= F.lit(kt[1]), F.lit(kt[0])),
        thr[1:],
        F.when(u <= F.lit(thr[0][1]), F.lit(thr[0][0])),
    ).otherwise(F.lit(thr[-1][0])).cast("int")
    return g.select(
        "order_year",
        "priority",
        "true_count",
        noise.alias("noise"),
        F.greatest(
            F.col("true_count") + noise.cast("bigint"), F.lit(0).cast("bigint")
        ).alias("released_count"),
    )


def _bmp_canonical_media(
    spark: SparkSession, sf_dir: str, fixture: str
) -> DataFrame:
    """Shared canonical-BMP fixture builder for the image decode family
    (q_media_bmp_decode / q_media_bmp_histogram): synthesize a valid
    24-bit BI_RGB BMP per doc_id (dims 1-4 × 1-4, pixel bytes from an
    integer formula, stride padding zeroed; layout + derivations
    single-sourced in functions/mediahex.py), write the ``binary``
    column to parquet, and read it back."""
    from .functions.mediahex import (
        BMP_SIG_HEX,
        BMP_H,
        BMP_PX,
        BMP_W,
        le16_col,
        le32_col,
    )

    params = T(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr(BMP_W).cast("bigint").alias("w"),
        F.expr(BMP_H).cast("bigint").alias("h"),
    ).withColumn(
        "stride", F.expr("((3 * w + 3) div 4) * 4")
    ).withColumn("npb", F.col("stride") * F.col("h"))
    pixel_hex = F.expr(
        f"""array_join(
             transform(sequence(0, CAST(npb - 1 AS INT)),
               q -> lower(lpad(hex(CASE WHEN q % stride < 3 * w
                                   THEN {BMP_PX}
                                   ELSE 0 END), 2, '0'))),
             '')"""
    )
    blob_hex = F.concat(
        F.lit(BMP_SIG_HEX),
        le32_col(F.lit(54) + F.col("npb")),      # file size
        F.lit("00000000"),                        # reserved
        le32_col(F.lit(54)),                      # pixel-array offset
        le32_col(F.lit(40)),                      # DIB header size
        le32_col(F.col("w")),
        le32_col(F.col("h")),
        le16_col(F.lit(1)),                       # planes
        le16_col(F.lit(24)),                      # bpp
        le32_col(F.lit(0)),                       # BI_RGB
        le32_col(F.col("npb")),                   # image size
        le32_col(F.lit(2835)), le32_col(F.lit(2835)),  # ppm
        le32_col(F.lit(0)), le32_col(F.lit(0)),   # palette counts
        pixel_hex,
    )
    blobs = params.select("doc_id", F.unhex(blob_hex).alias("content"))
    path = _fixture_dir(fixture) + "/media"
    blobs.write.parquet(path)
    return spark.read.parquet(path)


@q("q_media_bmp_decode")
def q_media_bmp_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L5 DECODE made real (round 6): 24-bit uncompressed BMP needs no
    codec — raw BGR triples in stride-padded rows — so this query runs
    an honest end-to-end image DECODE entirely in codegen: synthesize a
    valid BMP per doc_id (dims 1-4 × 1-4, pixel bytes from an integer
    formula, padding zeroed; layout + derivations single-sourced in
    functions/mediahex.py), write the ``binary`` column to parquet,
    read it back, and run sources/multimodal.py ``bmp_pixel_stats`` —
    which parses pixel-array offset / width / height / bpp from the
    HEADER BYTES and folds over every pixel reading its channel bytes
    from the blob (never echoing the construction parameters).  The
    DuckDB oracle rebuilds the identical hex and re-derives everything
    with nibble arithmetic over it.  This lifts the 'decode is stubbed'
    caveat for the one mainstream format where decode is pure
    arithmetic; JPEG/PNG payload decode stays honestly stubbed (real
    codecs, sources/multimodal.py:66).  Output: per-doc container,
    parsed dims, byte-exact blob hex, per-channel sums, integer Rec.601
    luma numerator."""
    from .sources.multimodal import bmp_pixel_stats

    media = _bmp_canonical_media(spark, sf_dir, "bmp_decode")
    return bmp_pixel_stats(media).select(
        "doc_id",
        "container",
        F.length("content").cast("int").alias("byte_len"),
        F.lower(F.hex("content")).alias("blob_hex"),
        "width",
        "height",
        "n_px",
        "sum_b",
        "sum_g",
        "sum_r",
        "luma_k",
    )


@q("q_media_bmp_histogram")
def q_media_bmp_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L5 IMAGE FEATURE EXTRACTION (round 8): per-channel intensity
    HISTOGRAM over the real BMP pixel decode — the exposure/contrast
    feature a vision training-data pipeline gates on right after
    decoding (all-dark, blown-out, and low-dynamic-range detection).
    Same canonical fixture as q_media_bmp_decode (single-sourced via
    ``_bmp_canonical_media``); sources/multimodal.py
    ``bmp_channel_histogram`` walks the pixel bytes at PARSED-header
    offsets and bins each channel into 4 bins of 64 levels — exact
    integer counts whose total equals n_px, unpivoted to one row per
    (doc, channel) with ``stack``.  The DuckDB oracle replays the
    identical walk with nibble arithmetic over the rebuilt hex.  Scale
    shape: narrow per-row codegen map + constant 3-way unpivot — no
    shuffle, no Python worker."""
    from .sources.multimodal import bmp_channel_histogram

    media = _bmp_canonical_media(spark, sf_dir, "bmp_histogram")
    return bmp_channel_histogram(media).select(
        "doc_id",
        "channel",
        "width",
        "height",
        "n_px",
        "bin_0",
        "bin_1",
        "bin_2",
        "bin_3",
    )


def _png_canonical_media(
    spark: SparkSession, sf_dir: str, fixture: str
) -> DataFrame:
    """Canonical stored-deflate PNG fixture builder (round 11, VERDICT
    r10 task 6): synthesize a valid truecolor-RGB PNG per doc_id whose
    IDAT is a single-final zlib STORED block (layout + derivations
    single-sourced in functions/mediahex.py), with a REAL computed
    ADLER-32 trailer (chunk CRCs dummy, like every fixture in
    mediahex.py — parsers never check CRC), write the ``binary``
    column to parquet, and read it back."""
    from .functions.mediahex import (
        IDAT_HEX,
        IEND_HEX,
        IHDR_HEX,
        PNG_IHDR_TAIL_RGB_HEX,
        PNG_SIG_HEX,
        PNGS_H,
        PNGS_PX,
        PNGS_W,
        ZLIB_STORED_HDR_HEX,
        be32_col,
        le16_col,
        png_rowbytes_sql,
    )

    params = (
        T(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.expr(PNGS_W).cast("bigint").alias("w"),
            F.expr(PNGS_H).cast("bigint").alias("h"),
        )
        .withColumn("rb", F.expr(png_rowbytes_sql("w")).cast("bigint"))
        .withColumn("rawlen", F.col("h") * F.col("rb"))
    )
    raw_b = f"CASE WHEN q % rb = 0 THEN CAST(0 AS BIGINT) ELSE {PNGS_PX} END"
    raw_hex = F.expr(
        f"""array_join(
             transform(sequence(0, CAST(rawlen - 1 AS INT)),
               q -> lower(lpad(hex({raw_b}), 2, '0'))),
             '')"""
    )
    s1 = F.expr(
        f"""(1 + aggregate(sequence(0, CAST(rawlen - 1 AS INT)),
              CAST(0 AS BIGINT), (acc, q) -> acc + {raw_b})) % 65521"""
    )
    s2 = F.expr(
        f"""(rawlen + aggregate(sequence(0, CAST(rawlen - 1 AS INT)),
              CAST(0 AS BIGINT),
              (acc, q) -> acc + (rawlen - q) * {raw_b})) % 65521"""
    )
    blob_hex = F.concat(
        F.lit(PNG_SIG_HEX),
        be32_col(F.lit(13)),
        F.lit(IHDR_HEX),
        be32_col(F.col("w")),
        be32_col(F.col("h")),
        F.lit(PNG_IHDR_TAIL_RGB_HEX),
        F.lit("00000000"),                       # IHDR CRC (dummy)
        be32_col(F.col("rawlen") + 11),          # IDAT length
        F.lit(IDAT_HEX),
        F.lit(ZLIB_STORED_HDR_HEX),
        le16_col(F.col("rawlen")),
        le16_col(F.lit(65535) - F.col("rawlen")),
        raw_hex,
        be32_col(s2.cast("bigint") * 65536 + s1.cast("bigint")),
        F.lit("00000000"),                       # IDAT CRC (dummy)
        F.lit("00000000"),                       # IEND length
        F.lit(IEND_HEX),
        F.lit("00000000"),                       # IEND CRC (dummy)
    )
    blobs = params.select("doc_id", F.unhex(blob_hex).alias("content"))
    path = _fixture_dir(fixture) + "/media"
    blobs.write.parquet(path)
    return spark.read.parquet(path)


@q("q_media_png_decode")
def q_media_png_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L5 DECODE made real for PNG (round 11, completing the
    real-decode family: BMP pixels r6, WAV PCM r7): a PNG whose IDAT
    is a single zlib STORED (BTYPE=00) deflate block needs no inflate
    — the framing is 5 bytes of plain integers — so the full decode
    (IHDR parse → stored-block extraction → identity unfiltering with
    per-row filter-byte verification → per-channel pixel sums → REAL
    ADLER-32 verification) runs entirely in codegen.  Fixture built by
    ``_png_canonical_media`` (valid bytes, computed adler, dummy chunk
    CRCs); decoder is sources/multimodal.py
    ``png_stored_pixel_stats``, which takes every walk input from the
    PARSED bytes.  The DuckDB oracle rebuilds the identical hex and
    re-derives everything with nibble arithmetic over it.
    Entropy-coded IDAT stays honestly stubbed
    (sources/multimodal.py:66).  Output: per-doc container, byte-exact
    blob hex, parsed dims, channel sums, integer Rec.601 luma
    numerator, and the two verification booleans."""
    from .sources.multimodal import png_stored_pixel_stats

    media = _png_canonical_media(spark, sf_dir, "png_decode")
    return png_stored_pixel_stats(media).select(
        "doc_id",
        "container",
        F.length("content").cast("int").alias("byte_len"),
        F.lower(F.hex("content")).alias("blob_hex"),
        "width",
        "height",
        "n_px",
        "sum_r",
        "sum_g",
        "sum_b",
        "luma_k",
        "filters_ok",
        "adler_ok",
    )


@q("q_media_png_histogram")
def q_media_png_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L5 IMAGE FEATURE EXTRACTION over the real PNG stored-deflate
    decode — the exposure/contrast histogram q_media_bmp_histogram
    computes for BMP, now on the PNG path: per (doc, channel r/g/b),
    4 bins of 64 intensity levels, exact integer counts totalling
    n_px.  The pixel walk reads channel bytes at offsets derived from
    the PARSED IHDR dims and the PARSED stored-block framing
    (sources/multimodal.py ``png_stored_pixel_stats`` discipline); the
    DuckDB oracle replays the identical walk with nibble arithmetic
    over the rebuilt hex.  Scale shape: narrow per-row codegen map +
    constant 3-way unpivot — no shuffle, no Python worker."""
    from .sources.multimodal import png_stored_pixel_stats

    media = _png_canonical_media(spark, sf_dir, "png_histogram")
    dec = png_stored_pixel_stats(media)

    def chan_px(ch: int) -> F.Column:
        rb = "(1 + 3 * width)"
        return F.expr(
            f"""transform(
              sequence(0, CAST(width * height - 1 AS INT)),
              p -> CAST(conv(hex(substring(content,
                CAST(48 + (p div width) * {rb} + 1 + 3 * (p % width)
                     + {ch} + 1 AS INT), 1)), 16, 10) AS BIGINT))"""
        )

    ok = F.col("n_px").isNotNull()
    with_px = dec.withColumns(
        {
            "__px_r": F.when(ok, chan_px(0)),
            "__px_g": F.when(ok, chan_px(1)),
            "__px_b": F.when(ok, chan_px(2)),
        }
    )

    def bins(col: str) -> str:
        return ", ".join(
            f"CAST(size(filter({col}, v -> v div 64 = {k})) AS BIGINT)"
            for k in range(4)
        )

    unpivoted = with_px.select(
        "doc_id",
        "width",
        "height",
        "n_px",
        F.expr(
            f"""stack(3,
              'r', {bins('__px_r')},
              'g', {bins('__px_g')},
              'b', {bins('__px_b')})
              AS (channel, bin_0, bin_1, bin_2, bin_3)"""
        ),
    )
    return unpivoted.select(
        "doc_id",
        "channel",
        "width",
        "height",
        "n_px",
        *[
            F.when(F.col("n_px").isNotNull(), F.col(f"bin_{k}")).alias(
                f"bin_{k}"
            )
            for k in range(4)
        ],
    )


@q("q_dp_noisy_sum")
def q_dp_noisy_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DP bounded-SUM release (round-6 verdict task 6 — counts without
    sums is half a DP dashboard): per (order-year, priority) revenue
    with each order's contribution CLIPPED at B = 60,000,000 cents
    ($600k, above the TPC-H o_totalprice ceiling so the clip is a
    declared bound, not a distortion), so one order changes the sum by
    at most B.  Mechanism: quantize-then-geometric — the clipped sum
    rounds half-up to units of B (neighboring datasets then differ by
    at most 1 unit → sensitivity 1 on the unit grid), and the same
    two-sided geometric noise as q_dp_noisy_counts (ε=0.5, |K|≤16,
    hex-threshold inverse CDF, functions/privacy.py) is added in UNITS;
    the release is greatest(units+K, 0)·B cents.  (ε, δ): ε=0.5 with
    δ = the truncated tail mass ~2e-4; the B-granularity quantization
    is the documented price of integer noise with a 33-literal chain.
    SECRECY: the hardcoded 'dp-sum-v1' salt is public for cross-engine
    benchmarking ONLY — production needs a secret per-release seed
    (functions/privacy.py).  Output is the CALIBRATION view; a
    production release projects released_sum_cents only.  Scale shape:
    one group-by; the clip, quantization, and noise chain are all
    per-row codegen on the group grain."""
    from functools import reduce

    from .functions.privacy import twosided_geometric_hex_thresholds

    B = 60_000_000  # clip bound in cents: the per-order sensitivity
    cents = F.expr(
        "CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)"
    )
    od = T(spark, sf_dir, "orders").select(
        F.year(F.col("o_orderdate").cast("date")).alias("order_year"),
        F.col("o_orderpriority").alias("priority"),
        cents.alias("c"),
        F.least(cents, F.lit(B).cast("bigint")).alias("cc"),
    )
    g = od.groupBy("order_year", "priority").agg(
        F.sum("c").cast("bigint").alias("true_sum_cents"),
        F.sum("cc").cast("bigint").alias("clipped_sum_cents"),
    )
    u = F.substring(
        F.md5(
            F.concat_ws(
                "|",
                F.lit("dp-sum-v1"),
                F.col("order_year").cast("string"),
                F.col("priority"),
            )
        ),
        1,
        8,
    )
    thr = twosided_geometric_hex_thresholds(eps=0.5, kmax=16)
    noise = reduce(
        lambda c_, kt: c_.when(u <= F.lit(kt[1]), F.lit(kt[0])),
        thr[1:],
        F.when(u <= F.lit(thr[0][1]), F.lit(thr[0][0])),
    ).otherwise(F.lit(thr[-1][0])).cast("int")
    # exact integer half-up rounding to units of B (div, not double /)
    units = F.expr(
        f"CAST((clipped_sum_cents + {B // 2}) div {B} AS BIGINT)"
    )
    return g.select(
        "order_year",
        "priority",
        "true_sum_cents",
        "clipped_sum_cents",
        units.alias("units"),
        noise.alias("noise"),
        (
            F.greatest(
                units + noise.cast("bigint"), F.lit(0).cast("bigint")
            )
            * F.lit(B)
        ).cast("bigint").alias("released_sum_cents"),
    )


@q("q_dp_noisy_max")
def q_dp_noisy_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DP SELECTION — report-noisy-max [Dwork & Roth 2014 §3.3]: per
    order-year, release WHICH priority class had the most orders
    without releasing any count: add independent two-sided geometric
    noise (ε=0.5, the q_dp_noisy_counts mechanism / hex-threshold
    chain, salt 'dp-argmax-v1') to every candidate's count and release
    only the argmax identity — the selection is ε-DP even though the
    noisy scores never are.  Integer noise makes ties possible (prob
    ~α^k); tie-break is deterministic lowest-priority-string, a
    documented deviation from the measure-zero continuous case.
    Output: the released identity per year plus CALIBRATION columns
    (true argmax + whether the mechanism flipped it) — a production
    release projects (order_year, released_priority) only.  SECRECY:
    public salt for cross-engine benchmarking ONLY (functions/
    privacy.py).  Scale shape: one group-by to the (year × 5) grain,
    then a 5-row-per-year window argmax — the selection cost is the
    aggregation, invariant to order volume."""
    from functools import reduce

    from .functions.privacy import twosided_geometric_hex_thresholds

    g = (
        T(spark, sf_dir, "orders")
        .select(
            F.year(F.col("o_orderdate").cast("date")).alias("order_year"),
            F.col("o_orderpriority").alias("priority"),
        )
        .groupBy("order_year", "priority")
        .agg(F.count(F.lit(1)).cast("bigint").alias("true_count"))
    )
    u = F.substring(
        F.md5(
            F.concat_ws(
                "|",
                F.lit("dp-argmax-v1"),
                F.col("order_year").cast("string"),
                F.col("priority"),
            )
        ),
        1,
        8,
    )
    thr = twosided_geometric_hex_thresholds(eps=0.5, kmax=16)
    noise = reduce(
        lambda c_, kt: c_.when(u <= F.lit(kt[1]), F.lit(kt[0])),
        thr[1:],
        F.when(u <= F.lit(thr[0][1]), F.lit(thr[0][0])),
    ).otherwise(F.lit(thr[-1][0])).cast("int")
    scored = g.select(
        "order_year",
        "priority",
        "true_count",
        (F.col("true_count") + noise.cast("bigint")).alias("__noisy"),
    )
    w_noisy = Window.partitionBy("order_year").orderBy(
        F.col("__noisy").desc(), F.col("priority").asc()
    )
    w_true = Window.partitionBy("order_year").orderBy(
        F.col("true_count").desc(), F.col("priority").asc()
    )
    ranked = scored.select(
        "order_year",
        "priority",
        F.row_number().over(w_noisy).alias("__rn"),
        F.first("priority").over(w_true).alias("true_argmax"),
    )
    return ranked.filter(F.col("__rn") == 1).select(
        "order_year",
        F.col("priority").alias("released_priority"),
        "true_argmax",
        (F.col("priority") == F.col("true_argmax")).alias("matches_true"),
    )


@q("q_dp_quantile")
def q_dp_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DP QUANTILE release (round-7 verdict task 5) — completes the DP
    dashboard (counts/sums/argmax → quantiles): per-event-type noisy
    p50/p95/p99 of value, built by composing the order-free histogram
    sketch (q_approx_percentile_hist: bucket = cents div 50, counts are
    commutative adds) with the two-sided geometric mechanism
    (functions/privacy.py, ε=0.5, salt 'dp-quantile-v1', the
    hex-threshold inverse CDF — no floats at query time).  ε-COMPOSITION:
    each row lands in exactly ONE (event_type, bucket) bin, so noising
    every bin independently releases the WHOLE histogram for a single ε
    by parallel composition [Dwork & Roth 2014 Thm 3.16-style disjoint
    partition], plus the documented truncation δ (~2e-4 at kmax=16);
    all three quantiles — and any future re-read of the same noisy
    histogram — are post-processing, free of further budget.
    Post-processing chain: clamp each noisy bin to ≥0 (making the
    cumulative sum MONOTONE by construction), then percentile p reads
    the first bucket whose noisy running count reaches ceil(p·ñ), as
    the bucket's inclusive lower bound in cents.  CAVEATS (both
    documented at functions/privacy.py): the public salt makes this the
    cross-engine CALIBRATION view, not a private release; and noising
    only OBSERVED bins leaks the support — a production release
    iterates the full bucket domain (fixed value range / bin width) so
    empty bins also get noise.  Scale shape: one shuffle to the
    (type, bucket) grain, noise as a 33-literal CASE in codegen, the
    cumulative scan on ≤1k buckets per group — state bounded by the
    value range, independent of row count."""
    from functools import reduce

    from .functions.privacy import twosided_geometric_hex_thresholds

    ev = T(spark, sf_dir, "events").select(
        "event_type",
        F.expr(
            "CAST(floor(value * 100 + 0.5) AS BIGINT) div 50"
        ).alias("bucket"),
    )
    hist = ev.groupBy("event_type", "bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    u = F.substring(
        F.md5(
            F.concat_ws(
                "|",
                F.lit("dp-quantile-v1"),
                F.col("event_type"),
                F.col("bucket").cast("string"),
            )
        ),
        1,
        8,
    )
    thr = twosided_geometric_hex_thresholds(eps=0.5, kmax=16)
    noise = reduce(
        lambda c_, kt: c_.when(u <= F.lit(kt[1]), F.lit(kt[0])),
        thr[1:],
        F.when(u <= F.lit(thr[0][1]), F.lit(thr[0][0])),
    ).otherwise(F.lit(thr[-1][0])).cast("int")
    noisy = hist.select(
        "event_type",
        "bucket",
        F.greatest(
            F.col("c") + noise.cast("bigint"), F.lit(0).cast("bigint")
        ).alias("nc"),
    )
    w_cum = (
        Window.partitionBy("event_type")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_tot = Window.partitionBy("event_type")
    cum = noisy.select(
        "event_type",
        "bucket",
        F.sum("nc").over(w_cum).alias("cum"),
        F.sum("nc").over(w_tot).alias("n"),
    )

    def pct(p_num: int, p_den: int, name: str) -> F.Column:
        need = F.expr(f"(n * {p_num} + {p_den} - 1) div {p_den}")
        return F.min(
            F.when(F.col("cum") >= need, F.col("bucket") * 50)
        ).cast("bigint").alias(name)

    return cum.groupBy("event_type").agg(
        F.max("n").cast("bigint").alias("n_released"),
        pct(50, 100, "p50_cents_dp"),
        pct(95, 100, "p95_cents_dp"),
        pct(99, 100, "p99_cents_dp"),
    )


@q("q_dp_above_threshold")
def q_dp_above_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DP SPARSE VECTOR TECHNIQUE — AboveThreshold [Dwork & Roth 2014
    Alg. 1], the remaining classic mechanism after counts / sums /
    noisy-max / quantiles: scan an ORDERED sequence of sensitivity-1
    queries ("does order-year y have at least T orders?", years
    ascending), add geometric noise to the threshold ONCE (budget ε/2)
    and to each tested count (ε/4 each in the c=1 variant), release
    only the IDENTITY of the first query whose noisy count clears the
    noisy threshold, then HALT — the total cost is ε no matter how many
    queries were tested before the hit, which is the whole point of SVT
    (testing k queries with independent releases would cost kε).
    Noise draws use the engine-exact hex-threshold inverse CDF
    (functions/privacy.py) with kmax=32 (smaller ε per draw → heavier
    truncated tail; δ stays ~1e-3-documented).  The output is always
    exactly ONE row (released_year NULL if nothing clears — an honest
    "no release" is itself the SVT's answer), so the query can never go
    vacuously green.  CAVEATS: the threshold here is the mean count,
    computed from the data for fixture-independence but DOCUMENTED as
    exogenous — a production T is a public constant (capacity, SLA), or
    its computation spends separate budget; and the public salt makes
    this the calibration view (functions/privacy.py SECRECY note).
    Scale shape: one group-by to the year grain (~5 rows), a broadcast
    1-row scalar for the threshold, noise as literal CASE chains in
    codegen — invariant to order volume."""
    from functools import reduce

    from .functions.privacy import twosided_geometric_hex_thresholds

    def geom_noise(u: F.Column, eps: float) -> F.Column:
        thr = twosided_geometric_hex_thresholds(eps=eps, kmax=32)
        return reduce(
            lambda c_, kt: c_.when(u <= F.lit(kt[1]), F.lit(kt[0])),
            thr[1:],
            F.when(u <= F.lit(thr[0][1]), F.lit(thr[0][0])),
        ).otherwise(F.lit(thr[-1][0])).cast("int")

    g = (
        T(spark, sf_dir, "orders")
        .groupBy(
            F.year(F.col("o_orderdate").cast("date")).alias("order_year")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    tot = g.agg(
        F.sum("cnt").cast("bigint").alias("__tot"),
        F.count(F.lit(1)).cast("bigint").alias("__ny"),
    ).select(
        F.expr("(__tot + __ny - 1) div __ny").alias("threshold")
    )
    u_t = F.substring(F.md5(F.lit("dp-svt-t-v1")), 1, 8)
    u_q = F.substring(
        F.md5(
            F.concat_ws(
                "|", F.lit("dp-svt-q-v1"), F.col("order_year").cast("string")
            )
        ),
        1,
        8,
    )
    scored = (
        g.join(F.broadcast(tot))
        .withColumn("__nt", geom_noise(u_t, 0.25).cast("bigint"))
        .withColumn("__nq", geom_noise(u_q, 0.125).cast("bigint"))
        .withColumn(
            "above",
            (F.col("cnt") + F.col("__nq"))
            >= (F.col("threshold") + F.col("__nt")),
        )
        .withColumn(
            "pos",
            F.row_number().over(Window.orderBy("order_year")),
        )
    )
    return scored.agg(
        F.min(F.when(F.col("above"), F.col("order_year")))
        .cast("int")
        .alias("released_year"),
        F.min(F.when(F.col("above"), F.col("pos")))
        .cast("int")
        .alias("queries_tested"),
        F.max("threshold").cast("bigint").alias("threshold"),
        F.count(F.lit(1)).cast("bigint").alias("n_candidates"),
    )


def _wav_canonical_media(
    spark: SparkSession, sf_dir: str, fixture: str
) -> DataFrame:
    """Shared canonical-WAV fixture builder for the audio decode family
    (q_media_wav_decode / q_media_wav_features): synthesize a valid
    44-byte-header 16-bit PCM WAV per doc_id (layout + parameter
    derivations single-sourced in functions/mediahex.py), write the
    ``binary`` column to parquet, and read it back — so every consumer
    decodes REAL bytes that round-tripped through the columnar format,
    never an in-memory construction."""
    from .functions.mediahex import (
        DATA_HEX,
        FMT_HEX,
        PCM_BITS,
        PCM_CH,
        PCM_FRAMES,
        PCM_SB,
        RIFF_HEX,
        WAVE_HEX,
        WAV_RATES,
        le16_col,
        le32_col,
    )

    d = F.col("doc_id")
    params = (
        T(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.expr(PCM_CH).cast("bigint").alias("ch"),
            F.expr(PCM_FRAMES).cast("bigint").alias("nf"),
            F.element_at(
                F.array(*[F.lit(r) for r in WAV_RATES]),
                (d % 5).cast("int") + 1,
            ).cast("bigint").alias("rate"),
        )
        .withColumn("db", F.col("nf") * F.col("ch") * 2)
    )
    data_hex = F.expr(
        f"""array_join(
              transform(sequence(0, CAST(db - 1 AS INT)),
                q -> lower(lpad(hex({PCM_SB}), 2, '0'))),
              '')"""
    )
    blob_hex = F.concat(
        F.lit(RIFF_HEX),
        le32_col(F.col("db") + 36),
        F.lit(WAVE_HEX),
        F.lit(FMT_HEX),
        F.lit("10000000"),                       # fmt chunk size 16
        F.lit("0100"),                           # PCM = 1
        le16_col(F.col("ch")),
        le32_col(F.col("rate")),
        le32_col(F.col("rate") * F.col("ch") * 2),   # byte rate
        le16_col(F.col("ch") * 2),                   # block align
        le16_col(F.lit(PCM_BITS)),
        F.lit(DATA_HEX),
        le32_col(F.col("db")),
        data_hex,
    )
    blobs = params.select("doc_id", F.unhex(blob_hex).alias("content"))
    path = _fixture_dir(fixture) + "/media"
    blobs.write.parquet(path)
    return spark.read.parquet(path)


@q("q_media_wav_decode")
def q_media_wav_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L5 DECODE, audio twin of q_media_bmp_decode (round-6 verdict
    task 4): 16-bit PCM in a canonical RIFF/WAVE needs no codec — raw
    little-endian signed samples interleaved channel-major — so this
    runs an honest end-to-end AUDIO decode entirely in codegen:
    synthesize a valid 44-byte-header WAV per doc_id (1-2 channels,
    4-16 frames, data bytes from an integer formula; layout +
    derivations single-sourced in functions/mediahex.py), write the
    ``binary`` column to parquet, read it back, and run
    sources/multimodal.py ``wav_pcm_stats`` — which parses channels /
    rate / bits / data size from the HEADER BYTES, derives the frame
    count, and folds every frame's sample bytes out of the blob (never
    echoing construction params).  Output per (doc, channel): exact
    integer sum / sum-of-squares / peak plus the two derived audio
    health numbers — DC offset (mean sample) and RMS — as pinned
    doubles.  The DuckDB oracle rebuilds the identical hex and replays
    the decode with nibble arithmetic.  JPEG/PNG/MP3 payload decode
    needs a real codec and is out of scope."""
    from .sources.multimodal import wav_pcm_stats

    media = _wav_canonical_media(spark, sf_dir, "wav_decode")
    return wav_pcm_stats(media).select(
        "doc_id",
        "container",
        F.length("content").cast("int").alias("byte_len"),
        F.lower(F.hex("content")).alias("blob_hex"),
        "sample_rate",
        "channels",
        "bits_per_sample",
        "n_frames",
        "channel",
        "sum_s",
        "sumsq_s",
        "peak_abs",
        pround(
            F.col("sum_s").cast("double") / F.col("n_frames").cast("double"),
            6,
        ).alias("dc_offset"),
        pround(
            F.sqrt(
                F.col("sumsq_s").cast("double")
                / F.col("n_frames").cast("double")
            ),
            6,
        ).alias("rms"),
    )


@q("q_binaryfile_ingest")
def q_binaryfile_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S+ the RAW-FILE INGESTION source — how media actually arrives at
    100 TB (a bucket of files, not a parquet column): Spark's
    ``binaryFile`` data source reads a directory of .wav files into
    (path, length, content) rows; this query then derives doc ids from
    FILENAMES (regexp over the path — the partition-discovery
    discipline), verifies byte-exactness via the hex of the content
    that round-tripped through the filesystem, and parses the audio
    header from the BYTES READ BACK.  Fixture: the canonical WAV blobs
    for doc_id < 64 written as individual files (a driver-side loop —
    bounded certification scaffolding, documented like the stream
    copies; production points binaryFile at the real bucket).  The
    DuckDB oracle rebuilds the identical hex from the single-sourced
    derivations — the filesystem roundtrip certifies against
    construction, never against itself."""
    import os

    from .sources.multimodal import wav_pcm_stats

    blobs = (
        _wav_canonical_media(spark, sf_dir, "binfile_build")
        .filter(F.col("doc_id") < 64)
        .collect()
    )
    d = _fixture_dir("binfile_ingest")
    for row in blobs:
        with open(os.path.join(d, f"{row['doc_id']:05d}.wav"), "wb") as f:
            f.write(bytes(row["content"]))
    bf = spark.read.format("binaryFile").load(d + "/*.wav")
    media = bf.select(
        F.regexp_extract(
            F.col("path"), "([0-9]{5})\\.wav$", 1
        )
        .cast("bigint")
        .alias("doc_id"),
        F.col("length").cast("bigint").alias("byte_len"),
        "content",
    )
    return wav_pcm_stats(media).select(
        "doc_id",
        "byte_len",
        F.lower(F.hex("content")).alias("blob_hex"),
        "sample_rate",
        "channels",
        "bits_per_sample",
        "n_frames",
        "channel",
    )


@q("q_media_wav_features")
def q_media_wav_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L5 AUDIO FEATURE EXTRACTION (round 8): the step a multimodal
    training-data pipeline runs AFTER the decode is certified — per
    (doc, channel) signal features computed straight off the decoded
    16-bit PCM of the canonical WAV fixture (same blobs as
    q_media_wav_decode, single-sourced via ``_wav_canonical_media``):
    zero-crossing count + rate (the classic speech/music/noise
    discriminator), attack/decay energy split (sum-of-squares over the
    first n÷2 frames vs the rest — exact bigints that total the RMS
    numerator), and crest factor (peak/RMS, the clipping/dynamics
    health number mastering pipelines gate on).  Every feature is
    exact-integer until the two pinned divisions, so the DuckDB oracle
    replays the identical decode + feature arithmetic over the hex and
    the hash-check certifies the FEATURES, not just the decode.  Scale
    shape: narrow per-row codegen map + bounded per-channel fanout —
    no shuffle, no Python worker; hour-long payloads would ride the
    same fold under ``mapInPandas`` (the JPEG-SOF precedent)."""
    from .sources.multimodal import wav_pcm_features

    media = _wav_canonical_media(spark, sf_dir, "wav_features")
    feats = wav_pcm_features(media)
    return feats.select(
        "doc_id",
        "channel",
        "sample_rate",
        "n_frames",
        F.expr("CAST((1000000 * n_frames) div sample_rate AS BIGINT)")
        .alias("duration_us"),
        "zcr_count",
        pround(
            F.col("zcr_count").cast("double")
            / (F.col("n_frames") - F.lit(1)).cast("double"),
            6,
        ).alias("zcr_rate"),
        "energy_first",
        "energy_second",
        "peak_abs",
        F.when(
            F.col("sumsq_s") > 0,
            pround(
                F.col("peak_abs").cast("double")
                / F.sqrt(
                    F.col("sumsq_s").cast("double")
                    / F.col("n_frames").cast("double")
                ),
                6,
            ),
        ).alias("crest_factor"),
    )


@q("q_media_jpeg_header")
def q_media_jpeg_header(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L5: the JPEG walk promoted from pytest-only to hash-checked (the
    q_media_mp4_header discipline applied to the last pytest-only
    image container): the engine writes a canonical JFIF fixture — SOI,
    18-byte APP0 (version 1.1, dpi densities), then SOF0 immediately,
    layout + parameter derivations single-sourced in
    functions/mediahex.py — as codegen hex, writes the ``binary``
    column to parquet, reads it back, and parses it with the UNTOUCHED
    production parser ``jpeg_header_meta_canonical``
    (sources/multimodal.py): density units/x/y and the SOF0
    height/width/components as fixed-offset nibble arithmetic over the
    HEADER BYTES (marker gates, declared segment lengths, JFIF
    signature — never echoing construction parameters).  Non-canonical
    JPEGs (EXIF-first, progressive) keep the marker-scan
    ``jpeg_sof_dims`` walk (pytest-pinned); entropy-coded pixel decode
    needs a real codec and stays honestly stubbed
    (sources/multimodal.py:66).  The DuckDB oracle rebuilds the
    identical hex and re-derives every field with the same nibble
    arithmetic.  Scale shape: codegen map → parquet roundtrip →
    codegen map; no shuffle, no Python worker, no codec."""
    from .functions.mediahex import (
        JPEG_COMPONENTS_HEX,
        JPEG_DENSITIES,
        JPEG_SOF0_HEX,
        JPEG_SOI_APP0_HEX,
        JPEG_THUMB_HEX,
        be16_col,
    )
    from .sources.multimodal import jpeg_header_meta_canonical

    d = F.col("doc_id")
    w = F.lit(16) + (d * 37) % 4080
    h = F.lit(16) + (d * 61) % 2160
    dens = F.element_at(
        F.array(*[F.lit(x) for x in JPEG_DENSITIES]), (d % 4).cast("int") + 1
    )
    blob_hex = F.concat(
        F.lit(JPEG_SOI_APP0_HEX),
        be16_col(dens),
        be16_col(dens),
        F.lit(JPEG_THUMB_HEX + JPEG_SOF0_HEX),
        be16_col(h),
        be16_col(w),
        F.lit("03" + JPEG_COMPONENTS_HEX),
    )
    blobs = T(spark, sf_dir, "documents").select(
        "doc_id", F.unhex(blob_hex).alias("content")
    )
    path = _fixture_dir("jpeg_header") + "/media"
    blobs.write.parquet(path)
    media = spark.read.parquet(path)
    parsed = jpeg_header_meta_canonical(media)
    return parsed.select(
        "doc_id",
        F.length("content").cast("int").alias("byte_len"),
        F.lower(F.hex("content")).alias("blob_hex"),
        "container",
        "header_width",
        "header_height",
        "n_components",
        "density_unit",
        "x_density",
        "y_density",
    )


@q("q_media_mp4_header")
def q_media_mp4_header(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L5 VIDEO-container twin of q_media_header_roundtrip (round-7
    verdict task 4): the engine writes a canonical fixed-layout
    MP4/ISO-BMFF fixture — 20-byte ftyp (major brand, minor version,
    one compatible brand) then moov whose first child is a version-0
    mvhd — as codegen hex (layout + parameter derivations
    single-sourced in functions/mediahex.py), writes the ``binary``
    column to parquet, reads it back, and parses it with the UNTOUCHED
    production parser ``mp4_header_meta_canonical``
    (sources/multimodal.py) — fixed-offset nibble arithmetic over the
    HEADER BYTES (fourcc gates, declared box sizes, version byte),
    never echoing construction parameters.  This promotes the MP4 walk
    from pytest-only to hash-checked: the canonical layout is what the
    fixture writer emits, while non-canonical streams (reordered boxes,
    mvhd v1, fragmented) keep the bounded-Arrow ``mp4_box_meta`` walk
    (pytest-pinned — mapInPandas is not oracle-runnable).  The DuckDB
    oracle rebuilds the identical hex and re-derives every field with
    the same nibble arithmetic.  At 100 TB the shape is the metadata
    scan: one codegen map to build, a parquet roundtrip, one codegen
    map to parse — no shuffle, no Python worker, no codec."""
    from .functions.mediahex import (
        FTYP_HEX,
        MOOV_HEX,
        MP4_BRAND_HEX,
        MP4_TIMESCALES,
        MVHD_HEX,
        MVHD_TAIL_HEX,
        be32_col,
    )
    from .sources.multimodal import mp4_header_meta_canonical

    d = F.col("doc_id")
    brand = F.element_at(
        F.array(*[F.lit(h) for h in MP4_BRAND_HEX]), (d % 4).cast("int") + 1
    )
    tsc = F.element_at(
        F.array(*[F.lit(t) for t in MP4_TIMESCALES]), (d % 5).cast("int") + 1
    )
    minor = (d * 3) % 512
    created = F.lit(3000000000) + (d * 17) % 100000
    dur = F.lit(1) + (d * 131) % 1000000
    blob_hex = F.concat(
        F.lit("00000014" + FTYP_HEX),
        brand,
        be32_col(minor),
        brand,
        F.lit("00000074" + MOOV_HEX),
        F.lit("0000006c" + MVHD_HEX + "00000000"),
        be32_col(created),
        be32_col(created),
        be32_col(tsc),
        be32_col(dur),
        F.lit(MVHD_TAIL_HEX + "00000002"),
    )
    blobs = T(spark, sf_dir, "documents").select(
        "doc_id", F.unhex(blob_hex).alias("content")
    )
    path = _fixture_dir("mp4_header") + "/media"
    blobs.write.parquet(path)
    media = spark.read.parquet(path)
    parsed = mp4_header_meta_canonical(media)
    return parsed.select(
        "doc_id",
        F.length("content").cast("int").alias("byte_len"),
        F.lower(F.hex("content")).alias("blob_hex"),
        "container",
        "major_brand",
        "minor_version",
        "creation_time",
        "timescale",
        "duration",
        "duration_ms",
        "next_track_id",
    )


@q("q_media_wav_extensible")
def q_media_wav_extensible(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L5: the general RIFF walk promoted to hash-checked (VERDICT r8
    task 3 — the q_media_mp4_header discipline applied to the last
    Arrow-only audio walk): the non-canonical WAV layouts
    ``audio_meta_arrow`` exists for — LIST/INFO BEFORE ``fmt ``, and
    the 40-byte WAVE_FORMAT_EXTENSIBLE fmt (tag 0xFFFE, cbSize 22,
    valid-bits + channel-mask + PCM subformat GUID) — written as ONE
    FIXED layout (functions/mediahex.py documents every offset) so
    the engine builds it as codegen hex, roundtrips the ``binary``
    column through parquet, and parses it with the UNTOUCHED
    production parser ``wav_extensible_meta_canonical``
    (sources/multimodal.py): every field as fixed-offset nibble
    arithmetic over the HEADER BYTES, gated on fourccs / declared
    sizes / the GUID — never echoing construction parameters.  The
    general variable-offset walk itself stays pytest-pinned
    (tests/test_multimodal.py asserts it agrees with this parser on
    these fixtures — the promotion point); the DuckDB oracle rebuilds
    the identical hex and re-derives every field with the same
    arithmetic.  Scale shape: codegen map → parquet roundtrip →
    codegen map; no shuffle, no Python worker, no codec."""
    from .functions.mediahex import (
        INFO_ISFT_HEX,
        LIST_HEX,
        PCM_GUID_HEX,
        WAVEXT_BITS,
        WAVEXT_CBSIZE_HEX,
        WAVEXT_CH,
        WAVEXT_FMT_HEX,
        WAVEXT_FRAMES,
        WAVEXT_VALID,
        WAV_RATES,
        le16_col,
        le32_col,
    )
    from .sources.multimodal import wav_extensible_meta_canonical

    d = F.col("doc_id")
    ch = F.expr(WAVEXT_CH)
    bits = F.expr(WAVEXT_BITS)
    valid = F.expr(WAVEXT_VALID)
    rate = F.element_at(
        F.array(*[F.lit(r) for r in WAV_RATES]), (d % 5).cast("int") + 1
    )
    block = ch * bits / F.lit(8)
    byte_rate = rate * block
    mask = F.expr(f"shiftleft(1, CAST({WAVEXT_CH} AS INT)) - 1")
    data_size = F.expr(WAVEXT_FRAMES) * block
    riff_size = data_size + F.lit(94)
    blob_hex = F.concat(
        F.lit("52494646"),  # RIFF
        le32_col(riff_size),
        F.lit("57415645" + LIST_HEX + "1a000000" + INFO_ISFT_HEX),
        F.lit(WAVEXT_FMT_HEX),
        le16_col(ch),
        le32_col(rate),
        le32_col(byte_rate),
        le16_col(block),
        le16_col(bits),
        F.lit(WAVEXT_CBSIZE_HEX),
        le16_col(valid),
        le32_col(mask),
        F.lit(PCM_GUID_HEX + "64617461"),  # GUID + "data"
        le32_col(data_size),
        F.expr(f"repeat('00', CAST(({WAVEXT_FRAMES}) AS INT) * "
               f"CAST(({WAVEXT_CH}) * ({WAVEXT_BITS}) / 8 AS INT))"),
    )
    blobs = T(spark, sf_dir, "documents").select(
        "doc_id", F.unhex(blob_hex).alias("content")
    )
    path = _fixture_dir("wav_extensible") + "/media"
    blobs.write.parquet(path)
    media = spark.read.parquet(path)
    parsed = wav_extensible_meta_canonical(media)
    return parsed.select(
        "doc_id",
        F.length("content").cast("int").alias("byte_len"),
        F.lower(F.hex("content")).alias("blob_hex"),
        "audio_format",
        "subformat",
        "channels",
        "sample_rate",
        "byte_rate",
        "block_align",
        "bits_per_sample",
        "valid_bits",
        "channel_mask",
        "data_size",
        "duration_ms",
    )


# Product quantization (Jégou, Douze & Schmid 2011, "Product
# Quantization for Nearest Neighbor Search"): split each vector into M
# subspaces, train an independent k-code quantizer per subspace, store
# M small codes per vector.  M=4 × 16 codes over the 64-dim fixture =
# 4 bytes per vector (64 doubles → 4 B: 128× compression), and query
# distance becomes M table lookups (ADC) — the FAISS workhorse layout.
_PQ_M, _PQ_K, _PQ_ITERS = 4, 16, 2

# Per-process memo of fitted ANN models keyed on sf_dir (round-7 verdict
# task 3): the PQ/IVF-PQ family shares one training per corpus instead of
# re-running the same coarse k-means + M-codebook Lloyd's up to 4× per
# registry sweep (20-35 s each at sf0.1).  Only plain-Python INTEGER
# centroid lists are cached — never DataFrames, which are bound to a
# SparkSession — so the cache is valid across sessions within a process
# (the `_tokenized_docs` shared-computation idiom, lifted to model grain).
# Training is integer-pinned and deterministic, so a cache hit is
# bit-identical to a retrain.
_PQ_MODEL_CACHE: dict[str, tuple[list, int]] = {}
_IVFPQ_INDEX_CACHE: dict[str, tuple[list, list]] = {}


def _pq_models(
    em: DataFrame, cache_key: str | None = None
) -> tuple[list[list[list[int]]], int]:
    """M integer-pinned sub-quantizer codebooks; returns (models,
    subdim).  Trained by the FUSED trainer (operators/kmeans.py
    pq_fit_int — one scan + one m·k·subdim stats shuffle per round),
    output-identical to M independent kmeans_fit_int runs over the
    slices (the form the DuckDB oracle unrolls; equivalence pinned in
    tests/test_kmeans.py).  Memoized on ``cache_key`` (the sf_dir)."""
    from .operators.kmeans import pq_fit_int

    if cache_key is not None and cache_key in _PQ_MODEL_CACHE:
        return _PQ_MODEL_CACHE[cache_key]
    models = pq_fit_int(em, m=_PQ_M, k=_PQ_K, iters=_PQ_ITERS)
    out = (models, len(models[0][0]))
    if cache_key is not None:
        _PQ_MODEL_CACHE[cache_key] = out
    return out


def _pq_encoded(
    em: DataFrame, cache_key: str | None = None
) -> tuple[DataFrame, list, int]:
    """(encoded frame with code0..code{M-1} + per-subspace err cols,
    models, subdim) — the shared build for both PQ queries.  The encode
    itself is a pure map over literal centroids and is rebuilt per call
    (DataFrames are session-bound); only the TRAINING memoizes."""
    from .operators.kmeans import nearest_cell_int_struct, quantize_micro

    models, subdim = _pq_models(em, cache_key=cache_key)
    qv = em.select("vec_id", quantize_micro("embedding").alias("__q"))
    cols = [F.col("vec_id")]
    for s in range(_PQ_M):
        st = nearest_cell_int_struct(
            F.slice(F.col("__q"), s * subdim + 1, subdim), models[s]
        )
        cols.append(st["i"].cast("int").alias(f"code{s}"))
        cols.append(st["d"].cast("bigint").alias(f"__err{s}"))
    return qv.select(*cols), models, subdim


_IVFPQ_COARSE_K = 8


def _ivfpq_index(
    em: DataFrame, cache_key: str | None = None
) -> tuple[list, list]:
    """(coarse centroids, residual PQ codebooks) for the IVF-PQ index —
    the full training stack (k=8 coarse Lloyd's, then M=4×16-code
    residual codebooks), memoized on ``cache_key`` (the sf_dir) so
    q_ivfpq_topk and q_ivfpq_recall share ONE training per corpus per
    process instead of re-running it (round-7 verdict task 3).  Both
    models are plain integer lists — deterministic, session-independent."""
    from .operators.kmeans import (
        bigint_literal,
        kmeans_fit_int,
        nearest_cell_int,
        pq_fit_int,
        quantize_micro,
    )

    if cache_key is not None and cache_key in _IVFPQ_INDEX_CACHE:
        return _IVFPQ_INDEX_CACHE[cache_key]
    coarse = kmeans_fit_int(em, k=_IVFPQ_COARSE_K, iters=2)
    qv = em.select("vec_id", quantize_micro("embedding").alias("__q"))
    coarse_lit = bigint_literal(coarse)
    rv = cut_lineage(
        qv.withColumn("cell", nearest_cell_int(F.col("__q"), coarse))
        .withColumn(
            "__r",
            F.zip_with(
                F.col("__q"),
                F.element_at(coarse_lit, F.col("cell") + 1),
                lambda x, y: x - y,
            ),
        )
        .select("vec_id", F.col("__r").alias("embedding"))
    )
    models = pq_fit_int(
        rv, m=_PQ_M, k=_PQ_K, iters=_PQ_ITERS, pre_quantized=True
    )
    out = (coarse, models)
    if cache_key is not None:
        _IVFPQ_INDEX_CACHE[cache_key] = out
    return out


@q("q_maxsim_late_interaction")
def q_maxsim_late_interaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTI-VECTOR late-interaction retrieval — the ColBERT MaxSim
    operator [Khattab & Zaharia 2020]: documents and query are BAGS of
    sub-vectors (here the 64-dim embedding sliced into 4×16-dim
    "token" vectors, the same decomposition PQ uses), and the score is
    Σ_{q∈query} max_{d∈doc} ⟨q, d⟩ — each query token matches its best
    document token, which is what makes late interaction beat single-
    vector dot products on multi-aspect queries.  All 4×4 sub-vector
    dot products are exact int64 micro-unit zip_with folds laid out as
    16 codegen expressions, the per-query-token max is a ``greatest``,
    the score their sum — NO explode, NO shuffle before the final
    top-10 TakeOrderedAndProject.  At 100 TB this is the late-
    interaction scan shape: per-row arithmetic linear in (query tokens
    × doc tokens), one ordered projection out; the IVF/PQ family
    upstream prunes candidates when the corpus is too big to scan."""
    from .operators.kmeans import bigint_literal, quantize_micro

    M, SUB = 4, 16
    em = T(spark, sf_dir, "embeddings")
    qv = em.select("vec_id", quantize_micro("embedding").alias("__q"))
    q_micro = qv.filter(F.col("vec_id") == 0).first()["__q"]

    def dot(qs: int, ds: int) -> F.Column:
        qlit = bigint_literal(q_micro[qs * SUB : (qs + 1) * SUB])
        return F.aggregate(
            F.zip_with(
                F.slice(F.col("__q"), ds * SUB + 1, SUB),
                qlit,
                lambda x, y: x * y,
            ),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        )

    score = None
    for qs in range(M):
        best = F.greatest(*[dot(qs, ds) for ds in range(M)])
        score = best if score is None else (score + best)
    return (
        qv.filter(F.col("vec_id") != 0)
        .select("vec_id", score.cast("bigint").alias("maxsim_micro2"))
        .orderBy(F.col("maxsim_micro2").desc(), "vec_id")
        .limit(10)
    )


@q("q_pq_encode")
def q_pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ENCODE [Jégou 2011]: train M=4 independent
    16-code integer-pinned sub-quantizers (one per 16-dim subspace
    slice, operators/kmeans.py kmeans_fit_int) and emit each vector's
    M codes plus its exact total quantization error Σ_s ‖v_s −
    c_s[code_s]‖² in micro-unit bigints.  The compressed representation
    behind q_pq_adc_topk — 4 bytes/vector versus 512, the memory step
    that makes billion-vector ANN fit RAM.  Scale shape: M small Lloyd
    runs (k×subdim sufficient-stat shuffles), then encode is a pure
    map with M·k literal centroids (k·subdim = 256 literals per
    subspace — the literal-plan regime; the Arrow argmin path takes
    over past ARROW_ASSIGN_LITERAL_LIMIT).  The DuckDB oracle replays
    all four trainings as independent prefixed CTE chains over rebased
    subspace slices."""
    from functools import reduce
    from operator import add

    enc, _, _ = _pq_encoded(
        T(spark, sf_dir, "embeddings"), cache_key=sf_dir
    )
    return enc.select(
        "vec_id",
        *[f"code{s}" for s in range(_PQ_M)],
        reduce(add, [F.col(f"__err{s}") for s in range(_PQ_M)])
        .cast("bigint")
        .alias("qerr"),
    )


@q("q_pq_adc_topk")
def q_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ADC top-k [Jégou 2011]: asymmetric distance
    computation — the query vector stays UNquantized; its exact squared
    distance to each of the M×16 centroids is computed once (a
    64-entry table, driver-side integer math on the k-bounded model —
    the sanctioned model-pull idiom), and each database vector's
    distance estimate is the sum of M table LOOKUPS on its codes, never
    vector arithmetic.  Top-10 by (adc_dist, vec_id).  At 100 TB this
    is the RAM-resident ANN scan: 4 bytes/vector of codes, M
    element_at lookups per row in codegen, one TakeOrderedAndProject —
    no embedding column is read at query time at all (column pruning
    drops it from the scan)."""
    from functools import reduce
    from operator import add

    from .operators.kmeans import bigint_literal, quantize_micro

    em = T(spark, sf_dir, "embeddings")
    enc, models, subdim = _pq_encoded(em, cache_key=sf_dir)
    q_micro = (
        em.filter(F.col("vec_id") == 0)
        .select(quantize_micro("embedding").alias("q"))
        .first()["q"]
    )
    adc = [
        [
            sum(
                (int(qc) - int(cc)) ** 2
                for qc, cc in zip(
                    q_micro[s * subdim : (s + 1) * subdim], cent
                )
            )
            for cent in models[s]
        ]
        for s in range(_PQ_M)
    ]
    dist = reduce(
        add,
        [
            F.element_at(bigint_literal(adc[s]), F.col(f"code{s}") + 1)
            for s in range(_PQ_M)
        ],
    )
    return (
        enc.filter(F.col("vec_id") != 0)
        .select("vec_id", dist.cast("bigint").alias("adc_dist"))
        .orderBy("adc_dist", "vec_id")
        .limit(10)
    )


@q("q_ivfpq_topk")
def q_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ / IVFADC [Jégou 2011 §IV] — the composite index FAISS
    ships as its production default, completing the ANN ladder (Flat →
    IVF → PQ → IVF-PQ): a k=8 integer-pinned COARSE quantizer prunes
    the search to nprobe=3 cells, and within them distance runs on
    M=4×16-code PQ RESIDUAL codes (each vector stored as its coarse
    cell + 4 bytes of codes of v − c_cell — residuals have ~half the
    energy of raw vectors, so the same code budget quantizes finer).
    Query side: the coarse probe is exact driver-side model math; per
    probed cell the query RESIDUAL's 4×16 ADC table is computed once
    (k-bounded model pull), and every candidate's distance is M table
    lookups selected by a 3-branch CASE on its cell.  All arithmetic is
    exact int64 micro-units end-to-end, so the DuckDB oracle — coarse
    chain, residual CTE, four residual-sourced prefixed chains, probe,
    per-cell ADC tables — reproduces the top-10 bit-for-bit.  At 100 TB:
    codes+cell ≈ 5 B/vector in RAM, scan touches nprobe/ncells of the
    corpus (partition pruning when stored cell-partitioned), zero vector
    arithmetic per candidate.
    TRAINING cost is measured, not asserted (scripts/scale_probe.py pq;
    SCALING.md round-8 table): 50k vectors → 24.3 s, 500k → 61.0 s on
    local[32] — linear in N per Lloyd's round (k fixed, unlike
    SemDeDup's k~√N), so full-corpus training holds to ~10M vectors
    single-node; beyond that, sample-then-train (FAISS's bounded
    30-256 points/centroid) keeps training constant-cost, and the
    deterministic integer trainer preserves bit-identical replay on a
    fixed-seed sample.  Within one process the fitted index is
    memoized per sf_dir (_ivfpq_index), shared with q_ivfpq_recall."""
    return _ivfpq_adc_scored(spark, sf_dir).orderBy(
        "adc_dist", "vec_id"
    ).limit(10)


def _ivfpq_adc_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, adc_dist) over the probed cells — the IVF-PQ scoring
    stage shared by q_ivfpq_topk (top-10 direct) and q_ivfpq_rerank
    (50-candidate shortlist + exact refine).  See q_ivfpq_topk for the
    full design narrative."""
    from functools import reduce
    from operator import add

    from .operators.kmeans import (
        bigint_literal,
        nearest_cell_int,
        nearest_cell_int_struct,
        quantize_micro,
    )

    NPROBE = 3
    em = T(spark, sf_dir, "embeddings")
    coarse, models = _ivfpq_index(em, cache_key=sf_dir)
    dim = len(coarse[0])
    subdim = dim // _PQ_M
    qv = em.select("vec_id", quantize_micro("embedding").alias("__q"))
    coarse_lit = bigint_literal(coarse)
    rv = cut_lineage(
        qv.withColumn("cell", nearest_cell_int(F.col("__q"), coarse))
        .withColumn(
            "__r",
            F.zip_with(
                F.col("__q"),
                F.element_at(coarse_lit, F.col("cell") + 1),
                lambda x, y: x - y,
            ),
        )
        .select("vec_id", "cell", "__r")
    )
    enc = rv.select(
        "vec_id",
        "cell",
        *[
            nearest_cell_int_struct(
                F.slice(F.col("__r"), s * subdim + 1, subdim), models[s]
            )["i"].cast("int").alias(f"code{s}")
            for s in range(_PQ_M)
        ],
    )
    q_micro = [
        int(x)
        for x in qv.filter(F.col("vec_id") == 0).first()["__q"]
    ]
    probed = [
        i
        for _, i in sorted(
            (
                sum((q - c) ** 2 for q, c in zip(q_micro, cent)),
                i,
            )
            for i, cent in enumerate(coarse)
        )[:NPROBE]
    ]
    tables = {}
    for c in probed:
        qr = [q - cc for q, cc in zip(q_micro, coarse[c])]
        tables[c] = [
            [
                sum(
                    (a - b) ** 2
                    for a, b in zip(
                        qr[s * subdim : (s + 1) * subdim], cent
                    )
                )
                for cent in models[s]
            ]
            for s in range(_PQ_M)
        ]

    def dist_for(c: int):
        return reduce(
            add,
            [
                F.element_at(
                    bigint_literal(tables[c][s]), F.col(f"code{s}") + 1
                )
                for s in range(_PQ_M)
            ],
        )

    dist = F.when(F.col("cell") == probed[0], dist_for(probed[0]))
    for c in probed[1:]:
        dist = dist.when(F.col("cell") == c, dist_for(c))
    return enc.filter(
        F.col("cell").isin([int(c) for c in probed])
        & (F.col("vec_id") != 0)
    ).select("vec_id", dist.cast("bigint").alias("adc_dist"))


@q("q_ivfpq_rerank")
def q_ivfpq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage retrieval — IVFADC+R [Jégou 2011 §V.C, the refine step
    every production FAISS deployment runs]: stage 1 scores candidates
    with the compressed IVF-PQ index and keeps a SHORTLIST of k'=50 by
    ADC distance (never touching the embedding column — codes and
    lookup tables only); stage 2 re-ranks ONLY the shortlist by exact
    integer squared-L2 over the raw vectors and returns the top-10.
    The refine repairs most of the quantization error for the cost of
    reading k' raw vectors instead of N — at 100 TB the stage-2 scan is
    a 50-row broadcast-semi-join against the vector store while stage 1
    stays the 5 B/vector RAM scan, which is exactly why the two-stage
    shape wins: full-precision distance on 0.0000x% of the corpus.
    Both stages are deterministic integer arithmetic, so shortlist AND
    final ranking hash-check (the q_ivfpq_recall discipline).  Output:
    vec_id, adc_dist (the stage-1 estimate), exact_dist (the stage-2
    truth) — keeping both makes the quantization error visible data."""
    from .operators.kmeans import quantize_micro, sq_dist_int

    short = (
        _ivfpq_adc_scored(spark, sf_dir)
        .orderBy("adc_dist", "vec_id")
        .limit(50)
    )
    em = T(spark, sf_dir, "embeddings")
    qv = em.select("vec_id", quantize_micro("embedding").alias("__q"))
    q_micro = qv.filter(F.col("vec_id") == 0).first()["__q"]
    d_exact = sq_dist_int(F.col("__q"), q_micro)
    return (
        qv.join(short, "vec_id")
        .select("vec_id", "adc_dist", d_exact.alias("exact_dist"))
        .orderBy("exact_dist", "vec_id")
        .limit(10)
    )


@q("q_ivfpq_recall")
def q_ivfpq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ quality gate: recall@10 of the composite index
    (q_ivfpq_topk — coarse pruning AND residual-code quantization
    stacked) against the exact integer squared-L2 top-10.  The number a
    production deployment tunes nprobe/M/k against — declared as a
    query because both lists are deterministic integer arithmetic, so
    the recall itself hash-checks (the q_pq_recall / q_ann_recall
    discipline, now covering every retriever in the ladder)."""
    from .operators.kmeans import quantize_micro, sq_dist_int

    em = T(spark, sf_dir, "embeddings")
    qv = em.select("vec_id", quantize_micro("embedding").alias("__q"))
    q_micro = qv.filter(F.col("vec_id") == 0).first()["__q"]
    d_exact = sq_dist_int(F.col("__q"), q_micro)
    exact = (
        qv.filter(F.col("vec_id") != 0)
        .select("vec_id", d_exact.alias("d"))
        .orderBy("d", "vec_id")
        .limit(10)
        .select("vec_id")
    )
    ivf = q_ivfpq_topk(spark, sf_dir).select("vec_id")
    hits = exact.join(ivf, "vec_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("hits")
    )
    return hits.select(
        F.lit(10).cast("int").alias("k"),
        "hits",
        pround(F.col("hits").cast("double") / 10.0, 6).alias("recall"),
    )


@q("q_embed_truncation_recall")
def q_embed_truncation_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style dimension-truncation eval [Kusupati et al. 2022]:
    recall@10 of exact nearest-neighbor search run on only the FIRST 16
    of 64 embedding components against the full-dimension exact top-10
    — the question every embedding-storage budget decision asks (can we
    keep 1/4 of the vector?), answerable as a hash-checked query
    because both lists are exact integer squared-L2 over micro-units
    (the q_pq_recall discipline).  Scale: two TakeOrderedAndProject
    scans — the truncated one reads 4× fewer bytes once vectors are
    stored column-sliced — joined on 10 rows."""
    from .operators.kmeans import quantize_micro, sq_dist_int

    TRUNC = 16
    em = T(spark, sf_dir, "embeddings")
    qv = em.select("vec_id", quantize_micro("embedding").alias("__q"))
    q_micro = qv.filter(F.col("vec_id") == 0).first()["__q"]

    def topk(width: int):
        d = sq_dist_int(F.slice(F.col("__q"), 1, width), q_micro[:width])
        return (
            qv.filter(F.col("vec_id") != 0)
            .select("vec_id", d.alias("d"))
            .orderBy("d", "vec_id")
            .limit(10)
            .select("vec_id")
        )

    full = topk(len(q_micro))
    trunc = topk(TRUNC)
    hits = full.join(trunc, "vec_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("hits")
    )
    return hits.select(
        F.lit(TRUNC).cast("int").alias("trunc_dim"),
        F.lit(10).cast("int").alias("k"),
        "hits",
        pround(F.col("hits").cast("double") / 10.0, 6).alias("recall"),
    )


@q("q_pq_recall")
def q_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ quality gate (the q_ann_recall discipline applied to product
    quantization): recall@10 of the ADC top-10 against the EXACT
    integer squared-L2 top-10 for the same query vector — the
    self-evaluation number every compressed index ships with, declared
    as a query because both lists are deterministic integer arithmetic
    (trained codes + micro-unit distances), so the recall itself is
    hash-checkable.  One row: k, hits, recall.  Scale: both lists are
    TakeOrderedAndProject scans; the eval joins two 10-row frames."""
    from .operators.kmeans import quantize_micro, sq_dist_int

    em = T(spark, sf_dir, "embeddings")
    qv = em.select("vec_id", quantize_micro("embedding").alias("__q"))
    q_micro = (
        qv.filter(F.col("vec_id") == 0).select("__q").first()["__q"]
    )
    d_exact = sq_dist_int(F.col("__q"), q_micro)
    exact = (
        qv.filter(F.col("vec_id") != 0)
        .select("vec_id", d_exact.alias("d"))
        .orderBy("d", "vec_id")
        .limit(10)
        .select("vec_id")
    )
    adc = q_pq_adc_topk(spark, sf_dir).select("vec_id")
    hits = exact.join(adc, "vec_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("hits")
    )
    return hits.select(
        F.lit(10).cast("int").alias("k"),
        "hits",
        pround(F.col("hits").cast("double") / 10.0, 6).alias("recall"),
    )


@q("q_pq_train_sampled")
def q_pq_train_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAMPLE-THEN-TRAIN PQ — the 100 TB training path made a
    hash-checked query (round-8 probe follow-through: SCALING.md
    measured full-corpus PQ training linear in N, so past ~10M vectors
    production trains the quantizer on a bounded sample, FAISS-style
    30-256 points/centroid).  The M=4×16-code codebooks train on the
    DETERMINISTIC 25% sample vec_id % 4 == 0 (a fixed-seed sample keeps
    the integer trainer's bit-identical-replay property — no
    Math.random anywhere), the FULL corpus encodes against the
    sampled-trained codebooks (training cost now constant in corpus
    size; encode stays the linear map it always was), and the output is
    the eval every such deployment ships: recall@10 of the
    sampled-train ADC top-10 vs the exact integer squared-L2 top-10
    (the q_pq_recall discipline).  The DuckDB oracle replays the four
    sampled training chains (seeds AND Lloyd's input filtered to the
    sample), the full-corpus encode, the ADC tables, and the recall
    join."""
    from functools import reduce
    from operator import add

    from .operators.kmeans import (
        bigint_literal,
        nearest_cell_int_struct,
        pq_fit_int,
        quantize_micro,
        sq_dist_int,
    )

    SAMPLE_MOD = 4
    em = T(spark, sf_dir, "embeddings")
    samp = em.filter(F.col("vec_id") % SAMPLE_MOD == 0)
    models = pq_fit_int(samp, m=_PQ_M, k=_PQ_K, iters=_PQ_ITERS)
    subdim = len(models[0][0])
    qv = em.select("vec_id", quantize_micro("embedding").alias("__q"))
    enc = qv.select(
        "vec_id",
        *[
            nearest_cell_int_struct(
                F.slice(F.col("__q"), s * subdim + 1, subdim), models[s]
            )["i"].cast("int").alias(f"code{s}")
            for s in range(_PQ_M)
        ],
    )
    q_micro = qv.filter(F.col("vec_id") == 0).first()["__q"]
    adc = [
        [
            sum(
                (int(qc) - int(cc)) ** 2
                for qc, cc in zip(
                    q_micro[s * subdim : (s + 1) * subdim], cent
                )
            )
            for cent in models[s]
        ]
        for s in range(_PQ_M)
    ]
    dist = reduce(
        add,
        [
            F.element_at(bigint_literal(adc[s]), F.col(f"code{s}") + 1)
            for s in range(_PQ_M)
        ],
    )
    adc_top = (
        enc.filter(F.col("vec_id") != 0)
        .select("vec_id", dist.cast("bigint").alias("adc_dist"))
        .orderBy("adc_dist", "vec_id")
        .limit(10)
        .select("vec_id")
    )
    d_exact = sq_dist_int(F.col("__q"), q_micro)
    exact = (
        qv.filter(F.col("vec_id") != 0)
        .select("vec_id", d_exact.alias("d"))
        .orderBy("d", "vec_id")
        .limit(10)
        .select("vec_id")
    )
    hits = exact.join(adc_top, "vec_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("hits")
    )
    return hits.select(
        F.lit(SAMPLE_MOD).cast("int").alias("sample_mod"),
        F.lit(10).cast("int").alias("k"),
        "hits",
        pround(F.col("hits").cast("double") / 10.0, 6).alias("recall"),
    )


@q("q_bpe_encode")
def q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer lifecycle CAPSTONE: apply the trained BPE merge table
    (the q_bpe_train_rounds trainer, 3 rounds) back to the corpus and
    measure what the tokenizer bought — corpus token count before
    (characters = the round-0 symbol inventory) and after the merges,
    fertility (tokens per word), and the compression ratio.  Encoding
    rides the word-frequency grain like training does (a 100 TB corpus
    collapses to vocab grain once; the merge replay is |vocab| string
    replaces), and the summary is one aggregate over that grain.  The
    DuckDB oracle replays the identical unrolled merge CTEs and the
    identical summary."""
    cur, _ = _bpe_train(spark, sf_dir, rounds=3)
    syms = F.filter(F.split(F.col("seq"), r"\|"), lambda x: x != "")
    agg = cur.agg(
        F.sum("cnt").cast("bigint").alias("total_words"),
        F.sum(
            F.col("cnt")
            * F.length(F.regexp_replace(F.col("seq"), r"\|", ""))
        )
        .cast("bigint")
        .alias("tokens_before"),
        F.sum(F.col("cnt") * F.size(syms)).cast("bigint").alias(
            "tokens_after"
        ),
    )
    return agg.select(
        F.lit(3).cast("int").alias("n_merges"),
        "total_words",
        "tokens_before",
        "tokens_after",
        pround(
            F.col("tokens_after").cast("double")
            / F.col("total_words").cast("double"),
            6,
        ).alias("fertility"),
        pround(
            F.col("tokens_after").cast("double")
            / F.col("tokens_before").cast("double"),
            6,
        ).alias("compression"),
    )


@q("q_bradley_terry")
def q_bradley_terry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PREFERENCE-MODEL FITTING [Bradley-Terry 1952; Hunter 2004 MM] —
    the statistical core of RLHF reward modeling and pairwise-eval
    leaderboards (Chatbot-Arena-style): fit a latent strength per item
    from pairwise win counts.  Comparisons come from the data itself:
    within each order, every pair of part brands "competes" (winner =
    the brand with the higher max line value; ties to the lexically
    smaller brand, so the outcome is total-ordered).  Three unrolled
    Hunter-MM rounds run in SCALED-BIGINT arithmetic (S = 10^4;
    T_ij = n_ij·S² div (P_i+P_j), P_i' = W_i·S² div ΣT — every
    intermediate an exact integer, so cross-engine hashes match with
    no float-order caveat), and only the final normalized strength is
    a pinned division.  Scale shape: the pair explode is bounded by
    items-per-order (≤ C(7,2) per order), the game table collapses to
    the brand-pair grain (≤ 25², tiny), and each MM round is a
    broadcast join on the 25-row strength frame — at 100 TB only the
    first aggregation touches data grain."""
    S = 10_000
    li = T(spark, sf_dir, "lineitem")
    pt = T(spark, sf_dir, "part").select("p_partkey", "p_brand")
    # ONE data-grain exchange serves the whole pair pipeline: the
    # explicit hash repartition on l_orderkey satisfies both the
    # (l_orderkey, p_brand) aggregation's clustering (grouping on a
    # superset of the partition key) AND the self-join below (both
    # sides co-partitioned on the join key) — the previous plan
    # exchanged the data grain for the groupBy and then AQE
    # BROADCAST the 260k-row (order, brand) frame for the self-join
    # (a 32-40 MB build whose probe was the top cpu stage of the
    # query, 40 cpu-s at sf0.1).  Measured on the games subquery:
    # 1.87 -> 1.47 s min-of-6, identical rows.
    base = (
        spread(li.join(F.broadcast(pt), li.l_partkey == pt.p_partkey),
               "l_orderkey")
        .groupBy("l_orderkey", "p_brand")
        .agg(
            F.max(
                F.floor(
                    F.col("l_extendedprice") * F.lit(100.0) + F.lit(0.5)
                ).cast("bigint")
            ).alias("cents")
        )
    )
    # Pair generation stays the orderkey self-join: the
    # _pairs_from_baskets restructure (collect_list into a sorted
    # array + generator i<j expansion) was prototyped this round and
    # measured SLOWER on a quiet box (round-robin 3.44 s -> 4.0-4.2 s
    # at sf0.1) — the collect_list object aggregation costs more than
    # the join probe saves at this basket size.  Evidence in
    # OPTIMIZATION_r11.md.
    a, b = base.alias("a"), base.alias("b")
    pairs = a.join(
        b,
        (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        & (F.col("a.p_brand") < F.col("b.p_brand")),
    ).select(
        F.col("a.p_brand").alias("b1"),
        F.col("b.p_brand").alias("b2"),
        F.when(F.col("a.cents") >= F.col("b.cents"), F.lit(1))
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("w1"),
    )
    # cut lineage at the brand-pair grain (≤ 25² rows): every MM round
    # joins `edges` twice, and without the cut each join re-derives the
    # DATA-GRAIN pair aggregation from lineitem — ~10 redundant scans
    # (observed as a 2,900-node plan before the cut)
    games = cut_lineage(
        pairs.groupBy("b1", "b2").agg(
            F.count(F.lit(1)).alias("n"), F.sum("w1").alias("w1")
        )
    )
    edges = games.select(
        F.col("b1").alias("i"), F.col("b2").alias("j"), "n",
        F.col("w1").alias("w"),
    ).unionAll(
        games.select(
            F.col("b2").alias("i"), F.col("b1").alias("j"), "n",
            (F.col("n") - F.col("w1")).alias("w"),
        )
    )
    wins = edges.groupBy("i").agg(
        F.sum("w").alias("W"), F.sum("n").alias("games")
    )
    p = wins.select("i", F.lit(S).cast("bigint").alias("P"))
    for _ in range(3):
        pi = p.select(F.col("i").alias("ii"), F.col("P").alias("Pi"))
        pj = p.select(F.col("i").alias("jj"), F.col("P").alias("Pj"))
        d = (
            edges.join(F.broadcast(pi), F.col("i") == F.col("ii"))
            .join(F.broadcast(pj), F.col("j") == F.col("jj"))
            .groupBy("i")
            .agg(
                F.sum(
                    F.expr(f"(n * {S * S}) div (Pi + Pj)")
                ).alias("D")
            )
        )
        p = wins.join(F.broadcast(d), "i").select(
            "i",
            F.greatest(
                F.expr(f"(W * {S * S}) div D"), F.lit(1).cast("bigint")
            ).alias("P"),
        )
    tot = p.agg(F.sum("P").alias("t"))
    return (
        wins.join(p, "i")
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("i").alias("brand"),
            "games",
            F.col("W").alias("wins"),
            F.col("P").alias("p_scaled"),
            pround(
                F.col("P").cast("double") / F.col("t").cast("double"), 6
            ).alias("strength"),
        )
    )


# ---------------------------------------------------------------------------
# Round-11 additions: RAKE keywords, URL canonicalization, Z-order
# layout, compaction planning, Shapley attribution, skew-salted join.
# ---------------------------------------------------------------------------


@q("q_rake_keywords")
def q_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L4 keyword extraction — RAKE [Rose et al. 2010, "Automatic
    Keyword Extraction from Individual Documents"]: candidate phrases
    are the maximal stopword/punctuation-free token runs; per word,
    freq = occurrences across all candidates and deg = Σ length of the
    phrases it appears in (co-occurrence degree including self); the
    RAKE word score deg/freq rewards words that live in LONG
    multi-word phrases.  Exact integer freq/deg; the score is ONE
    pinned division per output row.  Top-50 by (deg, word) —
    deterministic tie-break.  Scale shape: phrase segmentation is a
    per-DOC window (bounded grain — doc length, the documented
    exemption), then two token-grain aggregations with map-side
    combine; TakeOrderedAndProject for the top-k."""
    # ``spread`` pins the tokenize/posexplode map at full width (the
    # single-split scan serialized it) and its hash(doc_id) partitioning
    # satisfies BOTH windows below — no further exchange anywhere before
    # the word aggregation.
    docs = spread(
        T(spark, sf_dir, "documents").filter(F.trim("text") != ""), "doc_id"
    )
    tok = docs.select(
        "doc_id", F.posexplode(tokens("text")).alias("pos", "raw")
    ).withColumn(
        "w", F.lower(F.regexp_replace("raw", r"[^A-Za-z0-9]", ""))
    )
    tok = tok.withColumn(
        "is_stop",
        F.col("w").isin(*STOPWORDS_EN) | (F.col("w") == ""),
    )
    seg = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    words = (
        tok.withColumn(
            "phrase_id", F.sum(F.col("is_stop").cast("int")).over(seg)
        )
        .filter(~F.col("is_stop"))
        .select("doc_id", "phrase_id", "w")
    )
    # phrase length as a SECOND window over the same doc partitioning,
    # not a groupBy + join-back: the join re-derived the whole
    # tokenize+window subtree for the plen side (profiled as two
    # serialized single-task map stages) and added an exchange pair;
    # the window reuses the rows in place (min-of-6 interleaved A/B at
    # sf0.1: 2.95 -> 2.26 s, identical rows).
    words = words.withColumn(
        "plen",
        F.count(F.lit(1)).over(Window.partitionBy("doc_id", "phrase_id")),
    )
    stats = words.groupBy("w").agg(
        F.count(F.lit(1)).cast("bigint").alias("freq"),
        F.sum("plen").cast("bigint").alias("deg"),
    )
    return (
        stats.orderBy(F.col("deg").desc(), "w")
        .limit(50)
        .select(
            F.col("w").alias("word"),
            "freq",
            "deg",
            pround(
                F.col("deg").cast("double") / F.col("freq").cast("double"),
                6,
            ).alias("rake_score"),
        )
    )


@q("q_url_canonicalize")
def q_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L1 ingest hygiene — URL CANONICALIZATION, the dedup step every
    web-crawl pretraining pipeline runs BEFORE content hashing (the
    same page arrives as http/https, with/without www, with tracking
    params, with/without a trailing slash).  The fixture derives 3
    deterministic raw-URL VARIANTS per document (scheme / www /
    utm_source / trailing-slash noise keyed off doc_id — pure column
    functions, no table of URLs needed); canonicalization lowercases,
    strips scheme and www, drops utm_* query params, and removes the
    trailing slash — all regexp/string codegen.  Output: per-source
    raw vs canonical distinct counts and the dup factor the
    canonicalization recovered.  Scale shape: one generate + two
    distinct aggregations, shuffle on the canonical key."""
    docs = T(spark, sf_dir, "documents")
    v = docs.select(
        "doc_id",
        "source",
        F.explode(F.sequence(F.lit(0), F.lit(2))).alias("k"),
    )
    scheme = F.when((F.col("doc_id") + F.col("k")) % 2 == 0, "http://").otherwise(
        "https://"
    )
    www = F.when((F.col("doc_id") + F.col("k")) % 3 == 0, "www.").otherwise("")
    tail = F.when(
        F.col("k") == 1, F.lit("?utm_source=feed&utm_campaign=x")
    ).otherwise(F.when(F.col("k") == 2, F.lit("/")).otherwise(F.lit("")))
    raw = F.concat(
        scheme,
        www,
        F.lower("source"),
        F.lit(".example.com/doc/"),
        F.col("doc_id").cast("string"),
        tail,
    )
    canon = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.lower(raw), r"^https?://(www\.)?", ""),
            r"\?utm_[a-z_]+=[^&]*(&utm_[a-z_]+=[^&]*)*$",
            "",
        ),
        r"/$",
        "",
    )
    urls = v.select("source", raw.alias("raw_url"), canon.alias("canon_url"))
    return (
        urls.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_urls"),
            F.countDistinct("raw_url").cast("bigint").alias("raw_distinct"),
            F.countDistinct("canon_url")
            .cast("bigint")
            .alias("canon_distinct"),
        )
        .select(
            "source",
            "n_urls",
            "raw_distinct",
            "canon_distinct",
            pround(
                F.col("raw_distinct").cast("double")
                / F.col("canon_distinct").cast("double"),
                6,
            ).alias("dup_factor"),
        )
        .orderBy("source")
    )


def _zorder_interleave(a: str, b: str, bits: int = 8) -> F.Column:
    """Bit-interleave two ``bits``-wide integer columns into a Z-value:
    bit k of ``a`` lands at position 2k+1, bit k of ``b`` at 2k — pure
    integer codegen, no UDF."""
    terms = " + ".join(
        f"((({a}) >> {k}) & 1) * {1 << (2 * k + 1)}"
        f" + ((({b}) >> {k}) & 1) * {1 << (2 * k)}"
        for k in range(bits)
    )
    return F.expr(terms).cast("bigint")


@q("q_zorder_layout")
def q_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STORAGE-LAYOUT operator — Z-ORDER clustering with a measured
    data-skipping audit, the Delta/Iceberg OPTIMIZE ZORDER decision in
    query form.  Orders are bucketed on two independent pruning keys
    (customer, order date) into 256 ranks each via min/max
    normalization (one broadcast 1-row agg); the Z-value interleaves
    the two 8-bit bucket ids (pure integer codegen); 64 files are
    assigned by Z-range (and, for the comparison layout, by
    lexicographic (a,b) range — the plain sort a real table would
    have).  Each file keeps min/max stats per key — exactly what a
    lakehouse manifest stores — and the audit counts how many files a
    ⅛-selectivity predicate on EACH key must scan.  The output is the
    4-row (layout × predicate) skipping table: Z-order scans ~⅛ of
    files for BOTH keys, linear scans ⅛ for its leading key and ~all
    files for the trailing key — the measured reason Z-order exists.
    Exact integers end to end; one pinned division for the scan
    fraction.  Scale shape: two narrow aggs + one 64-group agg; the
    layout assignment itself is the kind of one-shot repartition a
    table OPTIMIZE runs."""
    o = T(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("a_raw"),
        (
            F.year("o_orderdate") * 10000
            + F.month("o_orderdate") * 100
            + F.dayofmonth("o_orderdate")
        ).cast("bigint").alias("b_raw"),
    )
    ext = o.agg(
        F.min("a_raw").alias("amin"),
        F.max("a_raw").alias("amax"),
        F.min("b_raw").alias("bmin"),
        F.max("b_raw").alias("bmax"),
    )
    bucketed = o.crossJoin(F.broadcast(ext)).select(
        F.expr("((a_raw - amin) * 256) div (amax - amin + 1)")
        .cast("bigint")
        .alias("ba"),
        F.expr("((b_raw - bmin) * 256) div (bmax - bmin + 1)")
        .cast("bigint")
        .alias("bb"),
    )
    laid = bucketed.withColumns(
        {
            "file_z": (_zorder_interleave("ba", "bb") / 1024)
            .cast("bigint"),
            "file_lin": ((F.col("ba") * 256 + F.col("bb")) / 1024)
            .cast("bigint"),
        }
    )
    stats = [
        laid.groupBy(F.col(fcol).alias("file_id"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.min("ba").alias("min_a"),
            F.max("ba").alias("max_a"),
            F.min("bb").alias("min_b"),
            F.max("bb").alias("max_b"),
        )
        .withColumn("layout", F.lit(lname))
        for fcol, lname in (("file_z", "zorder"), ("file_lin", "linear"))
    ]
    files = stats[0].unionByName(stats[1])
    audits = []
    for pname, lo_c, hi_c in (
        ("a_in_first_eighth", "min_a", "max_a"),
        ("b_in_first_eighth", "min_b", "max_b"),
    ):
        audits.append(
            files.groupBy("layout")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("files_total"),
                F.sum(
                    F.when(F.col(lo_c) <= 31, 1).otherwise(0)
                ).cast("bigint").alias("files_scanned"),
                F.sum(
                    F.when(F.col(lo_c) <= 31, F.col("n_rows")).otherwise(0)
                ).cast("bigint").alias("rows_scanned"),
            )
            .withColumn("predicate", F.lit(pname))
        )
    out = audits[0].unionByName(audits[1])
    return out.select(
        "layout",
        "predicate",
        "files_total",
        "files_scanned",
        "rows_scanned",
        pround(
            F.col("files_scanned").cast("double")
            / F.col("files_total").cast("double"),
            6,
        ).alias("scan_fraction"),
    ).orderBy("layout", "predicate")


@q("q_compaction_plan")
def q_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STORAGE-OPS operator — the small-files COMPACTION PLAN (the
    Iceberg/Delta binPack rewrite in query form): lineitem simulates a
    fragmented table of ~1000 files (one per l_orderkey%1000 slice,
    row-count as the size proxy); files are ordered deterministically
    (size desc, file id) and packed SEQUENTIALLY into target-capacity
    bins — bin = floor(cumsum_before / target), the greedy pack real
    compactors run after sorting — using the distributed two-phase
    cumsum (operators/rank.py), never a single-partition window.
    Output per bin: file count, total rows, fill fraction against the
    target; the header row grain (64-ish bins) certifies the whole
    plan.  Scale shape: one file-grain agg + the two-phase cumsum —
    at 100 TB the same plan runs over the manifest table, which is
    already file-grain small."""
    from .operators.rank import global_cumsum

    files = (
        T(spark, sf_dir, "lineitem")
        .groupBy((F.col("l_orderkey") % 1000).alias("file_id"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("size_rows"))
    )
    tot = files.agg(
        F.sum("size_rows").alias("total_rows"),
        F.count(F.lit(1)).alias("n_files"),
    )
    # target bin capacity: ~1/64 of the table, at least 1 row
    sized = files.crossJoin(F.broadcast(tot)).withColumn(
        "target", F.greatest(F.expr("total_rows div 64"), F.lit(1))
    )
    ordered = global_cumsum(
        sized,
        order_by=[F.col("size_rows").desc(), F.col("file_id").asc()],
        val_col="size_rows",
    )
    planned = ordered.withColumn(
        "bin_id",
        F.expr("(cum - size_rows) div target").cast("bigint"),
    )
    return (
        planned.groupBy("bin_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_files"),
            F.sum("size_rows").cast("bigint").alias("bin_rows"),
            F.max("target").alias("target"),
        )
        .select(
            "bin_id",
            "n_files",
            "bin_rows",
            pround(
                F.col("bin_rows").cast("double")
                / F.col("target").cast("double"),
                6,
            ).alias("fill_fraction"),
        )
        .orderBy("bin_id")
    )


@q("q_shapley_synergy")
def q_shapley_synergy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ATTRIBUTION family — exact SHAPLEY credit under the PAIRWISE
    SYNERGY game, the length-sensitive complement to
    q_shapley_attribution's conversion game (which credits only
    channels that co-occur with conversion; this one rewards journey
    BREADTH, so the two produce different rankings on the same data).
    Each converting user's journey is the DISTINCT set of event types
    seen up to and including the first 'purchase' (bounded: ≤5
    channels — the event-type alphabet).  The coalition game is PAIRWISE SYNERGY,
    v(S) = C(|S|, 2) — value comes from channels working together, the
    canonical non-trivial symmetric game — whose exact Shapley value
    for every member of an n-channel journey is (n−1)/2: each channel
    earns half a unit per partner.  The ×12 scaling (q_harmonic trick)
    makes the per-journey credit the exact bigint 6·(n−1), so totals
    are exact integers and the share is ONE pinned division.  The
    symmetric-game closed form is what keeps the statistic
    engine-portable — no factorial enumeration, yet a genuine Shapley
    value, and journeys of different lengths weight their channels
    differently (unlike positional's fixed 40/20/40).  Scale shape:
    per-user journey assembly is a bounded collect_set (≤5 types),
    then channel-grain aggregation — two shuffles."""
    ev = T(spark, sf_dir, "events")
    w_first = Window.partitionBy("user_id")
    with_conv = ev.withColumn(
        "first_purchase_ts",
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("ts"))
        ).over(w_first),
    ).filter(
        F.col("first_purchase_ts").isNotNull()
        & (F.col("ts") <= F.col("first_purchase_ts"))
    )
    journeys = with_conv.groupBy("user_id").agg(
        F.array_sort(F.collect_set("event_type")).alias("channels")
    )
    per_chan = journeys.select(
        "user_id",
        F.size("channels").alias("n"),
        F.explode("channels").alias("channel"),
    )
    # pairwise-synergy game v(S) = C(|S|,2): Shapley value per member
    # = (n-1)/2 exactly; ×12 keeps it integer for any n <= 13
    credited = per_chan.withColumn(
        "credit12", ((F.col("n") - 1) * 6).cast("bigint")
    )
    tot = credited.agg(F.sum("credit12").alias("t12"))
    return (
        credited.groupBy("channel")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("journeys"),
            F.sum("credit12").cast("bigint").alias("shapley12"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "channel",
            "journeys",
            "shapley12",
            pround(
                F.col("shapley12").cast("double")
                / F.col("t12").cast("double"),
                6,
            ).alias("share"),
        )
        .orderBy("channel")
    )


@q("q_join_salted")
def q_join_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SKEW MITIGATION on the JOIN path (completing q_salted_groupby's
    aggregation-side story): a hot-key fact⋈dim join where one key
    carries a large share of rows is salted EXPLICITLY — the fact side
    appends salt = row-hash % 8 to the join key, the dim side is
    REPLICATED 8× with an explode (bounded: 8 × |dim|) — so the
    hot key's rows spread over 8 tasks instead of one straggler.  The
    salt is dropped before the final aggregation, so the result is
    bit-identical to the unsalted join (which is exactly what the
    DuckDB oracle runs — the equivalence IS the correctness claim).
    At 100 TB AQE's skew-join split handles moderate skew
    automatically; explicit salting is the deterministic form for the
    pathological keys AQE's per-partition thresholds miss.  Output:
    revenue cents by nation name."""
    cust = T(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    nat = T(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    orders = T(spark, sf_dir, "orders").select(
        "o_custkey", F.expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)").alias("cents")
    )
    n_salts = 8
    fact = orders.withColumn(
        "salt",
        (
            F.conv(
                F.substring(F.md5(F.col("o_custkey").cast("string")), 1, 4),
                16,
                10,
            ).cast("bigint")
            % n_salts
        ),
    )
    dim = cust.withColumn(
        "salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    ).withColumn("salt", F.col("salt").cast("bigint"))
    joined = fact.join(
        dim,
        (fact.o_custkey == dim.c_custkey) & (fact.salt == dim.salt),
    )
    return (
        joined.join(F.broadcast(nat), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum("cents").cast("bigint").alias("revenue_cents"),
        )
        .orderBy("n_name")
    )


# ---------------------------------------------------------------------------
# Geospatial analytics (round 11b) — grid spatial joins, geohash, trajectories
# ---------------------------------------------------------------------------
#
# The reference has no geo surface; this family is a north-star extension
# (BASELINE.json): the spatial operators a 100 TB location/event pipeline
# needs, in the engine's cross-engine-exact style (integer 1e-4-degree
# coordinates, squared-integer distances, IEEE-exact sqrt — see
# functions/geo.py).  Scale shape throughout: grid-cell bucketing turns
# every spatial join into an EQUI-join on cell keys (probe side explodes a
# constant 3x3 neighborhood — bounded 9x), never an all-pairs cross join.

#: Grid cell edge for the spatial-join family: 0.5 deg = 5000 units.
_GEO_CELL_UNITS = 5_000
#: Radius for q_geo_radius_join: 0.5 deg (== the cell edge, so the 3x3
#: neighborhood provably covers the disk — |coord diff| <= cell edge
#: implies |cell diff| <= 1).
_GEO_RADIUS_UNITS = 5_000


def _geo_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic planar point cloud: every customer gets a pseudo
    location on a 10 deg x 10 deg field at 1e-4-degree integer precision
    (md5-derived — the portable hash idiom, functions/geo.py)."""
    from .functions.geo import hash_units

    return T(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("point_id"),
        "c_mktsegment",
        hash_units(F.col("c_custkey"), "lat", 100_000).alias("lat_units"),
        hash_units(F.col("c_custkey"), "lon", 100_000).alias("lon_units"),
    )


def _geo_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probe points for the spatial joins: suppliers on the same field
    (distinct salts so the two clouds are independent)."""
    from .functions.geo import hash_units

    return T(spark, sf_dir, "supplier").select(
        "s_suppkey",
        hash_units(F.col("s_suppkey"), "slat", 100_000).alias("slat_units"),
        hash_units(F.col("s_suppkey"), "slon", 100_000).alias("slon_units"),
    )


@q("q_geo_cell_density")
def q_geo_cell_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial density aggregation: bucket the customer point cloud into
    0.1-degree grid cells and report the 20 densest (count desc, then
    cell coords asc — total order, so the limit is deterministic).  One
    map-side-combinable groupBy on the cell key + TakeOrderedAndProject;
    at 100 TB this is a plain agg whose key space is bounded by the
    geographic extent, not the row count."""
    pts = _geo_customers(spark, sf_dir)
    return (
        pts.groupBy(
            F.expr("lat_units div 1000").alias("cell_lat"),
            F.expr("lon_units div 1000").alias("cell_lon"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_points"),
            F.countDistinct("c_mktsegment").cast("bigint").alias("n_segments"),
        )
        .orderBy(F.col("n_points").desc(), "cell_lat", "cell_lon")
        .limit(20)
    )


@q("q_geo_radius_join")
def q_geo_radius_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Points-within-radius spatial join, the grid-bucketed way: each
    supplier probes its 0.5-degree cell plus the 8 neighbors (constant
    9x explode — bounded), the cell-key EQUI-join shuffles once, and the
    exact integer filter d^2 <= r^2 keeps only true within-radius pairs.
    The 3x3 block provably covers the disk because the radius equals the
    cell edge, so the grid is an invisible optimization — the oracle is
    the naive all-pairs distance filter.  Candidates scale with point
    density x block area (never |S| x |C|); per-supplier output rows keep
    zero-match probes (left join), so the result is non-vacuous at every
    SF.  min_dist_units is floor(sqrt(min d^2) + 0.5) — IEEE sqrt is
    correctly rounded, so the value is cross-engine exact."""
    sup = _geo_suppliers(spark, sf_dir)
    cust = _geo_customers(spark, sf_dir).select(
        "point_id",
        "lat_units",
        "lon_units",
        F.expr(f"lat_units div {_GEO_CELL_UNITS}").alias("cell_lat"),
        F.expr(f"lon_units div {_GEO_CELL_UNITS}").alias("cell_lon"),
    )
    # 9-cell probe frame: (supplier, probed cell) — constant 9x explode
    probes = sup.select(
        "s_suppkey",
        "slat_units",
        "slon_units",
        F.explode(
            F.expr(
                f"""array({",".join(
                    f"struct({dlat}L as dlat, {dlon}L as dlon)"
                    for dlat in (-1, 0, 1) for dlon in (-1, 0, 1)
                )})"""
            )
        ).alias("off"),
    ).select(
        "s_suppkey",
        "slat_units",
        "slon_units",
        (F.expr(f"slat_units div {_GEO_CELL_UNITS}") + F.col("off.dlat")).alias("cell_lat"),
        (F.expr(f"slon_units div {_GEO_CELL_UNITS}") + F.col("off.dlon")).alias("cell_lon"),
    )
    cand = probes.join(cust, ["cell_lat", "cell_lon"])
    # d^2 in pure BIGINT self-multiplication (NOT `** 2`, which lowers to
    # double pow() — not guaranteed correctly rounded cross-engine)
    dlat = F.col("slat_units") - F.col("lat_units")
    dlon = F.col("slon_units") - F.col("lon_units")
    d2 = dlat * dlat + dlon * dlon
    within = (
        cand.withColumn("d2", d2.cast("bigint"))
        .filter(F.col("d2") <= _GEO_RADIUS_UNITS**2)
        .groupBy("s_suppkey")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_within"),
            F.min("d2").alias("min_d2"),
        )
    )
    return (
        sup.select("s_suppkey")
        .join(within, "s_suppkey", "left")
        .select(
            "s_suppkey",
            F.coalesce("n_within", F.lit(0)).cast("bigint").alias("n_within"),
            F.floor(F.sqrt(F.col("min_d2").cast("double")) + F.lit(0.5))
            .cast("bigint")
            .alias("min_dist_units"),
        )
    )


@q("q_geo_nearest_neighbor")
def q_geo_nearest_neighbor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded nearest-neighbor spatial join: for each supplier, the
    nearest customer WITHIN its 3x3 0.5-degree cell block (the cap IS
    the contract — unbounded NN needs expanding-ring probes, which at
    scale every production system bounds exactly like this).  Same
    grid-equi-join shape as q_geo_radius_join; the argmin is a
    per-supplier row_number over (d^2, point_id) — deterministic total
    order — and zero-candidate suppliers survive with NULLs via the
    left join."""
    sup = _geo_suppliers(spark, sf_dir)
    cust = _geo_customers(spark, sf_dir).select(
        "point_id",
        "lat_units",
        "lon_units",
        F.expr(f"lat_units div {_GEO_CELL_UNITS}").alias("cell_lat"),
        F.expr(f"lon_units div {_GEO_CELL_UNITS}").alias("cell_lon"),
    )
    probes = sup.select(
        "s_suppkey",
        "slat_units",
        "slon_units",
        F.explode(
            F.expr(
                f"""array({",".join(
                    f"struct({dlat}L as dlat, {dlon}L as dlon)"
                    for dlat in (-1, 0, 1) for dlon in (-1, 0, 1)
                )})"""
            )
        ).alias("off"),
    ).select(
        "s_suppkey",
        "slat_units",
        "slon_units",
        (F.expr(f"slat_units div {_GEO_CELL_UNITS}") + F.col("off.dlat")).alias("cell_lat"),
        (F.expr(f"slon_units div {_GEO_CELL_UNITS}") + F.col("off.dlon")).alias("cell_lon"),
    )
    nn_dlat = F.col("slat_units") - F.col("lat_units")
    nn_dlon = F.col("slon_units") - F.col("lon_units")
    cand = probes.join(cust, ["cell_lat", "cell_lon"]).withColumn(
        "d2", (nn_dlat * nn_dlat + nn_dlon * nn_dlon).cast("bigint")
    )
    w = Window.partitionBy("s_suppkey").orderBy("d2", "point_id")
    nearest = (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "s_suppkey",
            F.col("point_id").alias("nn_point_id"),
            F.floor(F.sqrt(F.col("d2").cast("double")) + F.lit(0.5))
            .cast("bigint")
            .alias("nn_dist_units"),
        )
    )
    return sup.select("s_suppkey").join(nearest, "s_suppkey", "left")


@q("q_geohash_encode")
def q_geohash_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geohash bucketing: precision-5 geohash of every customer point on
    the FULL globe, top-20 buckets by count.  The 25-bit interleave and
    base32 rendering are ONE generated plain-arithmetic SQL expression
    (functions/geo.py) evaluated verbatim by both engines — power-of-two
    divisions and %2, all exact — so the encoding cannot drift between
    query and oracle.  Geohash prefixes are the standard spatial
    shuffle/sort key at scale (Z-order locality: one groupBy, bounded
    key space)."""
    from .functions.geo import (
        geohash5_chars_sql,
        geohash5_code_sql,
        geohash5_quant_sql,
        hash_units,
    )

    pts = T(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("point_id"),
        hash_units(F.col("c_custkey"), "glat", 1_800_000).alias("glat_units"),
        hash_units(F.col("c_custkey"), "glon", 3_600_000).alias("glon_units"),
    )
    lat_q, lon_q = geohash5_quant_sql("glat_units", "glon_units")
    quant = pts.select(
        "point_id",
        F.expr(lat_q).alias("lat_q"),
        F.expr(lon_q).alias("lon_q"),
    )
    coded = quant.select(
        "point_id",
        F.expr(geohash5_code_sql("lat_q", "lon_q")).alias("code"),
    ).select(
        "point_id",
        F.expr(geohash5_chars_sql("code")).alias("geohash5"),
    )
    return (
        coded.groupBy("geohash5")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_points"),
            F.min("point_id").cast("bigint").alias("sample_point"),
        )
        .orderBy(F.col("n_points").desc(), "geohash5")
        .limit(20)
    )


@q("q_geo_trajectory")
def q_geo_trajectory(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trajectory analytics over the event stream: each event gets a
    deterministic point on the 10-degree field; per user (ordered by ts,
    event_id — total order) the path length is the sum of per-step
    integer distances floor(sqrt(d^2)+0.5) — sqrt is IEEE-exact and the
    summation is pure int64, so per-user totals are order-independent
    and cross-engine exact.  Also: distinct 0.5-degree cells visited and
    the integer bounding-box area.  One user-partitioned window + one
    agg; top-30 most-traveled users (path desc, user asc).  At 100 TB
    user grain partitions the work; no global window anywhere."""
    from .functions.geo import hash_units

    ev = T(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        "event_id",
        hash_units(F.col("event_id"), "elat", 100_000).alias("lat_units"),
        hash_units(F.col("event_id"), "elon", 100_000).alias("lon_units"),
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    steps = (
        ev.withColumn("prev_lat", F.lag("lat_units").over(w))
        .withColumn("prev_lon", F.lag("lon_units").over(w))
        .withColumn(
            "step_units",
            F.when(
                F.col("prev_lat").isNull(), F.lit(0).cast("bigint")
            ).otherwise(
                F.floor(
                    F.sqrt(
                        (
                            (F.col("lat_units") - F.col("prev_lat"))
                            * (F.col("lat_units") - F.col("prev_lat"))
                            + (F.col("lon_units") - F.col("prev_lon"))
                            * (F.col("lon_units") - F.col("prev_lon"))
                        ).cast("double")
                    )
                    + F.lit(0.5)
                ).cast("bigint")
            ),
        )
    )
    per_user = steps.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_points"),
        F.sum("step_units").cast("bigint").alias("path_units"),
        F.countDistinct(
            F.expr(
                f"(lat_units div {_GEO_CELL_UNITS}) * 1000 "
                f"+ (lon_units div {_GEO_CELL_UNITS})"
            )
        )
        .cast("bigint")
        .alias("n_cells"),
        (
            (F.max("lat_units") - F.min("lat_units"))
            * (F.max("lon_units") - F.min("lon_units"))
        )
        .cast("bigint")
        .alias("bbox_area_units2"),
    )
    return per_user.orderBy(F.col("path_units").desc(), "user_id").limit(30)


# ---------------------------------------------------------------------------
# Network analytics (round 11b) — CIDR longest-prefix match
# ---------------------------------------------------------------------------

@q("q_ip_cidr_lpm")
def q_ip_cidr_lpm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IP-to-network attribution with LONGEST-PREFIX-MATCH semantics,
    expressed as an EQUI-join (the scale-correct form — no range join):
    the CIDR dim holds /8 blocks per region (first octet 10+regionkey)
    and /16 blocks per nation ((10+regionkey).nationkey); each event's
    deterministic IPv4 (md5-derived 32-bit int; first octet 10..15, so
    octet 15 exercises the unmatched path) is exploded over the DISTINCT
    prefix lengths present (2 — bounded) and joined on
    (prefix_len, ip div 2^(32-len)) == (prefix_len, prefix_key) against
    the broadcast ~30-row dim.  LPM = max_by(name, prefix_len) per event
    (no ties by construction: block keys are unique within a length).
    This is how routing-table joins run at 100 TB: replicate the fact
    row once per distinct prefix length, hash-join, take the longest —
    never ip BETWEEN lo AND hi against a big table."""
    from .functions.geo import hash_units

    nat = T(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    reg = T(spark, sf_dir, "region").select("r_regionkey", "r_name")
    dim8 = reg.select(
        F.lit(8).alias("prefix_len"),
        (F.lit(10) + F.col("r_regionkey")).cast("bigint").alias("prefix_key"),
        F.col("r_name").alias("net_name"),
    )
    dim16 = nat.select(
        F.lit(16).alias("prefix_len"),
        ((F.lit(10) + F.col("n_regionkey")) * 256 + F.col("n_nationkey"))
        .cast("bigint")
        .alias("prefix_key"),
        F.col("n_name").alias("net_name"),
    )
    dim = dim8.unionByName(dim16)
    ev = T(spark, sf_dir, "events").select("event_id", "user_id")
    ip = (
        (F.lit(10) + hash_units(F.col("event_id"), "o1", 6)) * F.lit(2**24)
        + hash_units(F.col("event_id"), "o2", 32) * F.lit(2**16)
        + hash_units(F.col("event_id"), "lo", 65_536)
    ).cast("bigint")
    fact = ev.withColumn("ip", ip)
    cand = fact.select(
        "event_id",
        "user_id",
        "ip",
        F.explode(F.expr("array(8, 16)")).alias("prefix_len"),
    ).withColumn(
        "probe_key",
        F.when(F.col("prefix_len") == 8, F.expr("ip div 16777216")).otherwise(
            F.expr("ip div 65536")
        ),
    )
    # LEFT broadcast join + one event-grain aggregate, no join-back:
    # the earlier shape re-scanned the fact and SHUFFLE-joined it back
    # on event_id just to recover unmatched events — an event-grain
    # exchange pair on the big table.  A left join keeps every event
    # (both exploded rows null-matched for the unmatched octet-15
    # path), max_by/max skip null plen, and the coalesce supplies the
    # sentinel — one scan, zero event-grain join (2 Exchange -> 1;
    # min-of-6 1.69 -> 1.45 s at sf0.1, identical rows).
    hits = cand.join(
        F.broadcast(dim),
        (cand.prefix_len == dim.prefix_len)
        & (cand.probe_key == dim.prefix_key),
        "left",
    ).select(
        "event_id",
        "user_id",
        dim.prefix_len.alias("plen"),
        "net_name",
    )
    attributed = hits.groupBy("event_id", "user_id").agg(
        F.coalesce(F.max_by("net_name", "plen"), F.lit("<unmatched>")).alias(
            "net_name"
        ),
        F.coalesce(F.max("plen"), F.lit(0)).cast("bigint").alias("matched_len"),
    )
    return (
        attributed.groupBy("net_name", "matched_len")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
        )
        .orderBy(F.col("n_events").desc(), "net_name")
    )


# ---------------------------------------------------------------------------
# Graph link prediction (round 11b)
# ---------------------------------------------------------------------------

#: Wedge-center degree cap for link prediction: common-neighbor evidence
#: through hubs is weak signal (Adamic-Arar downweights it ~1/log deg) and
#: quadratic cost — production LP pipelines exclude hub centers exactly
#: like this.  The cap bounds per-center pair expansion at C(64,2).
_LP_CENTER_DEG_CAP = 64


@q("q_link_prediction")
def q_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common-neighbor link prediction over the co-purchase graph: score
    non-adjacent part pairs by how many (low-degree) neighbors they
    share, plus the Jaccard of their neighborhoods.  Shape: one wedge
    self-join of the adjacency list keyed on the CENTER node — pair
    expansion is bounded per center by the degree cap (C(64,2)), never
    corpus-quadratic — then a pair-grain count, an ANTI-join against the
    existing edge set (candidates must be NEW links), and a broadcast
    degree join for the Jaccard denominator.  Top-30 by (common desc,
    src, dst) — total order, deterministic.  The degree cap is part of
    the contract (documented hub exclusion), so the oracle applies the
    identical cap."""
    e = cut_lineage(_copurchase_edges(spark, sf_dir))
    sym = e.unionAll(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    adj = sym.select(F.col("src").alias("center"), F.col("dst").alias("nbr"))
    deg = adj.groupBy("center").agg(
        F.count(F.lit(1)).cast("bigint").alias("deg")
    )
    low_centers = deg.filter(F.col("deg") <= _LP_CENTER_DEG_CAP).select(
        "center"
    )
    adj_low = adj.join(low_centers, "center")
    a = adj_low.alias("a")
    b = adj_low.alias("b")
    wedges = a.join(
        b,
        (F.col("a.center") == F.col("b.center"))
        & (F.col("a.nbr") < F.col("b.nbr")),
    ).select(F.col("a.nbr").alias("u"), F.col("b.nbr").alias("v"))
    cn = wedges.groupBy("u", "v").agg(
        F.count(F.lit(1)).cast("bigint").alias("common")
    )
    new_pairs = cn.join(
        e,
        (cn.u == e.src) & (cn.v == e.dst),
        "left_anti",
    )
    du = deg.select(F.col("center").alias("u"), F.col("deg").alias("deg_u"))
    dv = deg.select(F.col("center").alias("v"), F.col("deg").alias("deg_v"))
    scored = (
        new_pairs.join(du, "u")
        .join(dv, "v")
        .select(
            F.col("u").alias("src"),
            F.col("v").alias("dst"),
            "common",
            "deg_u",
            "deg_v",
            pround(
                F.col("common").cast("double")
                / (F.col("deg_u") + F.col("deg_v") - F.col("common")).cast(
                    "double"
                ),
                6,
            ).alias("jaccard"),
        )
    )
    return scored.orderBy(F.col("common").desc(), "src", "dst").limit(30)


@q("q_theil_sen")
def q_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend estimation per event type: the MEDIAN of
    all pairwise slopes of the daily value series — the slope estimator
    companion to q_mann_kendall's trend TEST (both are rank/median
    methods immune to outliers that wreck the OLS line in
    q_regression_by_group).  Scale shape: the raw events collapse to the
    (type, day) grain FIRST (one map-side-combinable agg; the day grain
    is calendar-bounded, ~30 at the fixtures and never data-linear), so
    the pairwise self-join is C(days,2) per type — bounded at any
    volume.  Slopes are single IEEE divisions of exact integers (cents
    per day); the median is order-free; pround(6) pins the interpolated
    even-count case."""
    ev = T(spark, sf_dir, "events").select(
        "event_type",
        F.datediff(
            F.to_date("ts"), F.lit("1970-01-01").cast("date")
        ).alias("d"),
        F.floor(F.col("value") * 100 + F.lit(0.5))
        .cast("bigint")
        .alias("vcents"),
    )
    daily = ev.groupBy("event_type", "d").agg(
        F.sum("vcents").cast("bigint").alias("y")
    )
    a = daily.alias("a")
    b = daily.alias("b")
    pairs = a.join(
        b,
        (F.col("a.event_type") == F.col("b.event_type"))
        & (F.col("a.d") < F.col("b.d")),
    ).select(
        F.col("a.event_type").alias("event_type"),
        (
            (F.col("b.y") - F.col("a.y")).cast("double")
            / (F.col("b.d") - F.col("a.d")).cast("double")
        ).alias("slope"),
    )
    return (
        pairs.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            pround(F.expr("percentile(slope, 0.5)"), 6).alias(
                "theil_sen_slope"
            ),
        )
        .orderBy("event_type")
    )


@q("q_geo_cell_smooth")
def q_geo_cell_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raster stencil smoothing over the spatial grid: 3x3 box-filtered
    density per occupied 0.1-degree cell (the kernel-smoothing step
    under every heatmap).  The stencil is computed by SCATTER, not
    gather: each cell's count is exploded to its 9 neighbor targets
    (constant 9x on the CELL grain — already aggregated, bounded by the
    geographic extent) and re-summed — two map-side-combinable aggs,
    no self-join on the raw points.  smoothed = box_sum / 9 as one
    pinned division.  Top-20 by (smoothed desc, cell asc)."""
    pts = _geo_customers(spark, sf_dir)
    cells = pts.groupBy(
        F.expr("lat_units div 1000").alias("cell_lat"),
        F.expr("lon_units div 1000").alias("cell_lon"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_points"))
    contrib = cells.select(
        "cell_lat",
        "cell_lon",
        "n_points",
        F.explode(
            F.expr(
                f"""array({",".join(
                    f"struct({dlat}L as dlat, {dlon}L as dlon)"
                    for dlat in (-1, 0, 1) for dlon in (-1, 0, 1)
                )})"""
            )
        ).alias("off"),
    ).select(
        (F.col("cell_lat") + F.col("off.dlat")).alias("t_lat"),
        (F.col("cell_lon") + F.col("off.dlon")).alias("t_lon"),
        "n_points",
    )
    box = contrib.groupBy("t_lat", "t_lon").agg(
        F.sum("n_points").cast("bigint").alias("box_sum")
    )
    return (
        cells.join(
            box,
            (cells.cell_lat == box.t_lat) & (cells.cell_lon == box.t_lon),
        )
        .select(
            "cell_lat",
            "cell_lon",
            "n_points",
            "box_sum",
            pround(F.col("box_sum").cast("double") / F.lit(9.0), 6).alias(
                "smoothed"
            ),
        )
        .orderBy(F.col("smoothed").desc(), "cell_lat", "cell_lon")
        .limit(20)
    )


#: Unrolled absorption steps for the Markov removal-effect recurrence.
_MARKOV_STEPS = 12


def _markov_removal_recurrence(
    trans: dict[tuple[str, str], int],
    outs: dict[str, int],
    channels: list[str],
    removed: str | None,
) -> int:
    """The EXACT integer absorption recurrence both engines unroll: mass
    starts at START scaled 1e9; each step routes v[i]·c(i,j) div out(i)
    to j (per-term truncating div then int sum — order-free); entering
    the removed channel loses the mass.  Returns the purchase-absorbed
    mass after ``_MARKOV_STEPS`` steps."""
    states = ["START"] + channels
    v = {s: 0 for s in states}
    v["START"] = 10**9
    absorbed = 0
    for _ in range(_MARKOV_STEPS):
        nxt = {s: 0 for s in states}
        for i in states:
            if v[i] == 0 or outs.get(i, 0) == 0:
                continue
            for j in channels + ["purchase"]:
                c = trans.get((i, j), 0)
                if c == 0:
                    continue
                share = v[i] * c // outs[i]
                if j == removed:
                    continue  # mass entering the removed channel is lost
                if j == "purchase":
                    absorbed += share
                else:
                    nxt[j] += share
        v = nxt
    return absorbed


@q("q_markov_removal")
def q_markov_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov-chain REMOVAL-EFFECT attribution [Anderl et al. 2016] —
    the data-driven alternative to the positional/Shapley rules already
    in the registry: build the first-order journey transition matrix
    (START → event states → absorbing purchase), then re-run absorption
    with each channel removed; a channel's credit is how much conversion
    mass disappears without it.  Scale shape: the DISTRIBUTED work is
    the transition-count aggregation over user journeys (one
    user-partitioned window + one agg); the recurrence then runs at the
    CONSTANT ≤6x6-count grain — collected like the k-row centroid pulls
    (bounded by the event-type vocabulary, never by data volume) — as an
    exact integer recurrence (per-term truncating div, int sums:
    order-free, cross-engine bit-identical; the oracle unrolls the same
    12 steps as generated SQL).  Output: per channel, the scaled-1e9
    base and removed conversion mass and the removal effect."""
    ev = T(spark, sf_dir, "events").select("user_id", "ts", "event_id", "event_type")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # journey = events up to and including the user's FIRST purchase
    first_p = ev.filter(F.col("event_type") == "purchase").groupBy(
        "user_id"
    ).agg(F.min(F.struct("ts", "event_id")).alias("fp"))
    j = (
        ev.join(first_p, "user_id", "left")
        .filter(
            F.col("fp").isNull()
            | (F.struct("ts", "event_id") <= F.col("fp"))
        )
        .withColumn("nxt", F.lead("event_type").over(w))
    )
    # transitions: START -> first event per user, plus each adjacent pair
    starts = j.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") == 1
    ).select(
        F.lit("START").alias("src"), F.col("event_type").alias("dst")
    )
    steps = j.filter(F.col("nxt").isNotNull()).select(
        F.col("event_type").alias("src"), F.col("nxt").alias("dst")
    )
    trans_df = (
        starts.unionByName(steps)
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    rows = trans_df.collect()  # bounded: <= (|event types|+1)^2 rows
    trans = {(r["src"], r["dst"]): r["cnt"] for r in rows}
    outs: dict[str, int] = {}
    for (s, _), c in trans.items():
        outs[s] = outs.get(s, 0) + c
    channels = sorted(
        {s for (s, _) in trans} | {d for (_, d) in trans} - {"START"}
    )
    channels = [c for c in channels if c != "purchase" and c != "START"]
    base = _markov_removal_recurrence(trans, outs, channels, None)
    out_rows = [
        (
            ch,
            base,
            _markov_removal_recurrence(trans, outs, channels, ch),
        )
        for ch in channels
    ]
    res = spark.createDataFrame(
        [
            (ch, b, r, b - r)
            for ch, b, r in out_rows
        ],
        "channel string, base_conv_e9 long, removed_conv_e9 long, "
        "removal_effect_e9 long",
    )
    return res.orderBy("channel")


@q("q_holt_forecast")
def q_holt_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double-exponential-smoothing one-step forecast per event
    type — the TREND-aware step up from q_exp_smoothing.  The per-step
    recursion is sequential state no engine folds order-independently,
    but it is LINEAR in the observations, so functions/holt.py runs it
    ONCE over unit impulses at import and publishes (level, trend)
    weights as integer literals (the pt-BR month-name / NDCG_WEIGHTS
    literal-map discipline).  The query is then one bounded window
    (position-from-end over the calendar-bounded day grain), a broadcast
    join against the 136-row weight table, and an EXACT int64 weighted
    sum — order-free — with one final division per output.  Consumes
    the trailing MAX_T=16 observations (shorter series use their own
    T's weight row)."""
    from .functions.holt import MAX_T, WEIGHT_SCALE, holt_weight_rows

    ev = T(spark, sf_dir, "events").select(
        "event_type",
        F.datediff(
            F.to_date("ts"), F.lit("1970-01-01").cast("date")
        ).alias("d"),
        F.floor(F.col("value") * 100 + F.lit(0.5))
        .cast("bigint")
        .alias("vcents"),
    )
    daily = ev.groupBy("event_type", "d").agg(
        F.sum("vcents").cast("bigint").alias("y")
    )
    w = Window.partitionBy("event_type").orderBy(F.col("d").desc())
    ranked = daily.withColumn("p", F.row_number().over(w)).filter(
        F.col("p") <= MAX_T
    )
    tlen = ranked.groupBy("event_type").agg(
        F.max("p").cast("int").alias("t_len")
    )
    weights = spark.createDataFrame(
        holt_weight_rows(), "t_len int, p int, wl long, wb long"
    )
    joined = ranked.join(tlen, "event_type").join(
        F.broadcast(weights), ["t_len", "p"]
    )
    scale = float(WEIGHT_SCALE)
    return (
        joined.groupBy("event_type", "t_len")
        .agg(
            F.sum(F.col("y") * F.col("wl")).cast("bigint").alias("lsum"),
            F.sum(F.col("y") * F.col("wb")).cast("bigint").alias("bsum"),
        )
        .select(
            "event_type",
            "t_len",
            pround(F.col("lsum") / F.lit(scale), 2).alias("level_cents"),
            pround(F.col("bsum") / F.lit(scale), 2).alias("trend_cents"),
            pround(
                (F.col("lsum") + F.col("bsum")) / F.lit(scale), 2
            ).alias("forecast_cents"),
        )
        .orderBy("event_type")
    )


@q("q_wasserstein_1d")
def q_wasserstein_1d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-D Wasserstein (earth-mover's) distance between each event
    type's value distribution and the GLOBAL one — the transport-metric
    drift companion to q_psi_drift / q_ks_test / q_js_divergence: W1
    sees HOW FAR mass moved, not just that bins differ.  On a 1-dollar
    bucket grid W1 = Σ_b |F_t(b) − F_g(b)| exactly, and the CDF gap is
    kept in cross-multiplied EXACT integers (|cum_t·N_g − cum_g·N_t|,
    summed as int64) with ONE final division.  Scale shape: one
    value-grain agg to the bounded bucket grid (≤ ~500 buckets by the
    fixture's value range), a bounded type×bucket grid completion, and
    per-type cumsums on that bounded grain (the documented
    bounded-window exemption)."""
    ev = T(spark, sf_dir, "events").select(
        "event_type",
        F.floor(F.col("value")).cast("bigint").alias("bucket"),
    )
    tcounts = ev.groupBy("event_type", "bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    gcounts = ev.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("g")
    )
    types = ev.select("event_type").distinct()
    grid = types.crossJoin(gcounts.select("bucket"))
    full = (
        grid.join(tcounts, ["event_type", "bucket"], "left")
        .join(gcounts, "bucket")
        .select(
            "event_type",
            "bucket",
            F.coalesce("c", F.lit(0)).cast("bigint").alias("c"),
            "g",
        )
    )
    wt = Window.partitionBy("event_type").orderBy("bucket")
    tot_t = Window.partitionBy("event_type")
    cums = full.select(
        "event_type",
        "bucket",
        F.sum("c").over(wt.rowsBetween(Window.unboundedPreceding, 0))
        .cast("bigint")
        .alias("cum_t"),
        F.sum("g").over(
            Window.partitionBy("event_type")
            .orderBy("bucket")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        .cast("bigint")
        .alias("cum_g"),
        F.sum("c").over(tot_t).cast("bigint").alias("n_t"),
        F.sum("g").over(tot_t).cast("bigint").alias("n_g"),
    )
    return (
        cums.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
            F.max("n_t").alias("n_t"),
            F.sum(
                F.abs(
                    F.col("cum_t") * F.col("n_g")
                    - F.col("cum_g") * F.col("n_t")
                )
            )
            .cast("bigint")
            .alias("w1_scaled"),
            F.max("n_g").alias("n_g"),
        )
        .select(
            "event_type",
            "n_buckets",
            "n_t",
            pround(
                F.col("w1_scaled")
                / (F.col("n_t") * F.col("n_g")).cast("double"),
                9,
            ).alias("w1_dollars"),
        )
        .orderBy("event_type")
    )


@q("q_qini_curve")
def q_qini_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Qini curve — THE uplift-model evaluation [Radcliffe 2007],
    completing the targeting-eval family next to q_gains_lift (response
    models) and q_roc_curve/q_auc (classifiers): users are hash-split
    into treated/control arms, ranked by a targeting score (click
    count), cut into deciles, and each cumulative decile reports
    incremental conversions qini = cumTconv − cumCconv·cumTn/cumCn.
    Scale shape: user-grain scoring aggs, then the decile assignment via
    the distributed global_rank + NTILE closed form (the
    q_percentile_bands machinery — never a data-grain single-partition
    window); the cumulative pass runs at the 10-row decile grain.  The
    cross term is exact-int multiply (< 2^53) with one division."""
    from .functions.geo import hash_units
    from .operators.rank import global_rank, ntile_from_rank

    ev = T(spark, sf_dir, "events").select("user_id", "event_type")
    users = ev.groupBy("user_id").agg(
        F.sum(
            F.when(F.col("event_type") == "click", 1).otherwise(0)
        )
        .cast("bigint")
        .alias("score"),
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        )
        .cast("bigint")
        .alias("converted"),
    ).withColumn("treat", hash_units(F.col("user_id"), "arm", 2))
    ranked = global_rank(
        users,
        [(-F.col("score")).alias("neg_score"), F.col("user_id")],
        rank_col="__rank",
        total_col="__n",
    )
    banded = ranked.withColumn(
        "decile", ntile_from_rank(F.col("__rank"), F.col("__n"), 10)
    )
    per = banded.groupBy("decile").agg(
        F.sum(F.col("treat")).cast("bigint").alias("tn"),
        F.sum(F.col("treat") * F.col("converted"))
        .cast("bigint")
        .alias("tc"),
        F.sum(1 - F.col("treat")).cast("bigint").alias("cn"),
        F.sum((1 - F.col("treat")) * F.col("converted"))
        .cast("bigint")
        .alias("cc"),
    )
    wd = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, 0
    )  # 10-row grain: the bounded-window exemption
    cum = per.select(
        "decile",
        F.sum("tn").over(wd).cast("bigint").alias("cum_tn"),
        F.sum("tc").over(wd).cast("bigint").alias("cum_tc"),
        F.sum("cn").over(wd).cast("bigint").alias("cum_cn"),
        F.sum("cc").over(wd).cast("bigint").alias("cum_cc"),
    )
    return cum.select(
        "decile",
        "cum_tn",
        "cum_tc",
        "cum_cn",
        "cum_cc",
        F.when(
            F.col("cum_cn") > 0,
            pround(
                F.col("cum_tc")
                - (F.col("cum_cc") * F.col("cum_tn")).cast("double")
                / F.col("cum_cn").cast("double"),
                6,
            ),
        ).alias("qini"),  # NULL while no control mass has accumulated
    ).orderBy("decile")


#: Random-walk length for q_random_walks.
_WALK_STEPS = 4


@q("q_random_walks")
def q_random_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic random-walk corpus generation over the co-purchase
    graph — the data-prep step under DeepWalk/node2vec graph embeddings:
    from each of the COUNT-bounded top-32 hub seeds (``_hub_probes`` —
    the r10-capped probe discipline), take a 4-step walk where the next
    hop is the md5-selected neighbor index (hash of walk:step:node mod
    degree — reproducible, no RNG).  Shape: the adjacency list gets a
    per-source neighbor rank once (degree-bounded window), then each
    step is ONE equi-join of the ≤32-row walk frontier against it —
    never materializing more than seeds×1 state.  Output: the 32 walks
    as (walk_id, hop1..hop4) — a fixed, hashable schema."""
    sym = _copurchase_sym(spark, sf_dir)
    adj = sym.select("src", "dst")
    wdeg = Window.partitionBy("src").orderBy("dst")
    deg = adj.groupBy("src").agg(
        F.count(F.lit(1)).cast("bigint").alias("deg")
    )
    adjd = cut_lineage(
        adj.withColumn("r", F.row_number().over(wdeg)).join(deg, "src")
    )  # consumed by all 4 steps
    state = _hub_probes(sym).select(
        F.col("probe").alias("walk_id"), F.col("probe").alias("cur")
    )
    hops = []
    for t in range(1, _WALK_STEPS + 1):
        pick = (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            ":",
                            F.col("walk_id").cast("string"),
                            F.lit(str(t)),
                            F.col("cur").cast("string"),
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("bigint")
            % F.col("deg")
            + 1
        )
        step = state.join(adjd, state.cur == adjd.src).filter(
            F.col("r") == pick
        )
        state = step.select(
            "walk_id",
            *[F.col(h) for h in hops],
            F.col("dst").alias(f"hop{t}"),
            F.col("dst").alias("cur"),
        )
        hops.append(f"hop{t}")
    return state.select("walk_id", *hops).orderBy("walk_id")


@q("q_fdr_bh")
def q_fdr_bh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini-Hochberg FDR correction at q=0.1 over the per-nation
    Welch z-tests (nation order prices vs the rest) — the
    multiple-testing layer the per-segment test family
    (q_ttest_welch/q_ks_by_segment/q_chi2_cells) was missing: with 25
    simultaneous tests, uncorrected p<0.05 expects false positives by
    construction.  Exactness: per-nation (n, Σx, Σx²) in
    bigint/DECIMAL(38,0) power sums (the q_anova_f discipline), z as one
    fixed expression tree both engines evaluate identically, and the
    normal p-value from the LITERAL quantized table (functions/normal.py
    — erf differs across libm, so it is evaluated once in Python and
    shipped as 600 integer literals).  The BH step-up rule runs entirely
    in cross-multiplied integers (p_e9·m·10 ≤ k·1e9) at the bounded
    25-row grain."""
    from .functions.normal import p_table_rows

    od = T(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    cust = T(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nat = T(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    x = F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5)).cast(
        "bigint"
    )
    d19 = lambda c: c.cast("decimal(19,0)")  # noqa: E731
    rows = (
        od.join(cust, od.o_custkey == cust.c_custkey)
        .join(F.broadcast(nat), F.col("c_nationkey") == F.col("n_nationkey"))
        .select(F.col("n_name"), x.alias("x"))
    )
    per = rows.groupBy("n_name").agg(
        F.count(F.lit(1)).cast("bigint").alias("n1"),
        F.sum("x").cast("bigint").alias("s1"),
        F.sum(d19(F.col("x")) * d19(F.col("x")))
        .cast("decimal(38,0)")
        .alias("q1"),
    )
    tot = per.agg(
        F.sum("n1").cast("bigint").alias("nt"),
        F.sum("s1").cast("bigint").alias("st"),
        F.sum("q1").cast("decimal(38,0)").alias("qt"),
        F.count(F.lit(1)).cast("bigint").alias("m"),
    )
    z_frame = per.crossJoin(F.broadcast(tot)).select(
        "n_name",
        "n1",
        "m",
        (F.col("nt") - F.col("n1")).alias("n0"),
        (F.col("st") - F.col("s1")).alias("s0"),
        (F.col("qt") - F.col("q1")).cast("decimal(38,0)").alias("q0"),
        "s1",
        "q1",
    )

    def _var(q, s, n):
        # sample variance: (n·Q − S²) / (n·(n−1)); numerator exact
        # DECIMAL(38,0), one division
        num = (
            (q * n.cast("decimal(19,0)"))
            - (d19(s) * d19(s)).cast("decimal(38,0)")
        ).cast("decimal(38,0)")
        return num.cast("double") / (n * (n - F.lit(1))).cast("double")

    zed = z_frame.select(
        "n_name",
        F.col("n1").alias("n_orders"),
        "m",
        (
            (
                F.col("s1").cast("double") / F.col("n1").cast("double")
                - F.col("s0").cast("double") / F.col("n0").cast("double")
            )
            / F.sqrt(
                _var(F.col("q1"), F.col("s1"), F.col("n1"))
                / F.col("n1").cast("double")
                + _var(F.col("q0"), F.col("s0"), F.col("n0"))
                / F.col("n0").cast("double")
            )
        ).alias("z"),
    )
    ptab = F.broadcast(
        spark.createDataFrame(p_table_rows(), "zq int, p_e9 long")
    )
    scored = zed.withColumn(
        "zq",
        F.least(
            F.lit(599),
            F.floor(F.abs(F.col("z")) * F.lit(100.0) + F.lit(0.5)),
        ).cast("int"),
    ).join(ptab, "zq")
    wk = Window.orderBy("p_e9", "n_name")  # bounded: one row per nation
    ranked = scored.withColumn(
        "k", F.row_number().over(wk).cast("bigint")
    ).withColumn(
        "bh_ok",
        F.col("p_e9") * F.col("m") * F.lit(10) <= F.col("k") * F.lit(10**9),
    )
    kstar = ranked.agg(
        F.max(F.when(F.col("bh_ok"), F.col("k")).otherwise(0))
        .cast("bigint")
        .alias("kstar")
    )
    return (
        ranked.crossJoin(F.broadcast(kstar))
        .select(
            "n_name",
            "n_orders",
            pround(F.col("z"), 6).alias("z6"),
            F.col("p_e9"),
            "k",
            (F.col("k") <= F.col("kstar")).alias("rejected"),
        )
        .orderBy("k")
    )


@q("q_nelson_aalen")
def q_nelson_aalen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nelson-Aalen cumulative-hazard estimator over time-to-first-
    purchase — the hazard-side companion to q_survival_km's survival
    curve (H(t) = Σ_{t_i ≤ t} d_i/n_i; KM estimates S(t) directly,
    Nelson-Aalen estimates the integrated hazard, and at scale both
    come from the same risk-set table).  Users enter at their first
    event; a user 'dies' on the day of their first purchase; users with
    no purchase are right-censored at their last event day.  Exactness:
    the risk set n_i and deaths d_i are exact integers from one
    day-grain agg; each increment is pinned to the 1e12 grid
    (floor(d·1e12/n + 0.5) — an exact int) and the cumulative sum runs
    in int64 on the calendar-bounded day grain, so H(t) is order-free;
    one final division per row."""
    ev = T(spark, sf_dir, "events").select(
        "user_id",
        F.datediff(
            F.to_date("ts"), F.lit("1970-01-01").cast("date")
        ).alias("d"),
        "event_type",
    )
    per_user = ev.groupBy("user_id").agg(
        F.min("d").alias("enter_d"),
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("d"))
        ).alias("death_d"),
        F.max("d").alias("last_d"),
    )
    # exit day: first purchase, else censoring at the last observed day
    spans = per_user.select(
        "user_id",
        "enter_d",
        F.coalesce("death_d", "last_d").alias("exit_d"),
        F.col("death_d").isNotNull().alias("died"),
    )
    days = spans.select(F.col("exit_d").alias("d")).distinct()
    # risk set: users with enter_d <= d <= exit_d (bounded day grain:
    # days x users join is days-bounded per user span)
    at_risk = (
        days.join(
            spans,
            (spans.enter_d <= days.d) & (days.d <= spans.exit_d),
        )
        .groupBy("d")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_risk"),
            F.sum(
                F.when(
                    F.col("died") & (F.col("exit_d") == F.col("d")), 1
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("deaths"),
        )
    )
    inc = at_risk.withColumn(
        "inc_e12",
        F.floor(
            (F.col("deaths") * F.lit(10**12)).cast("double")
            / F.col("n_risk").cast("double")
            + F.lit(0.5)
        ).cast("bigint"),
    )
    wd = Window.orderBy("d").rowsBetween(
        Window.unboundedPreceding, 0
    )  # calendar-bounded day grain: the bounded-window exemption
    return (
        inc.select(
            "d",
            "n_risk",
            "deaths",
            F.sum("inc_e12").over(wd).cast("bigint").alias("cumhaz_e12"),
        )
        .select(
            "d",
            "n_risk",
            "deaths",
            "cumhaz_e12",
            (F.col("cumhaz_e12").cast("double") / F.lit(1e12)).alias(
                "cum_hazard"
            ),
        )
        .orderBy("d")
    )


@q("q_ab_bayes_normal")
def q_ab_bayes_normal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bayesian A/B readout under the normal approximation — the
    posterior-probability companion to the frequentist q_abtest_zscore:
    users hash-split into arms, conversion = any purchase; with flat
    priors the posterior of Δ = p_B − p_A is ≈ N(p̂_B − p̂_A,
    p̂_A(1−p̂_A)/n_A + p̂_B(1−p̂_B)/n_B), and P(B > A) = Φ(Δ/σ) comes
    from the LITERAL quantized Φ table (functions/normal.py — no erf in
    either engine).  One user-grain agg, one 2-row pivot, exact-integer
    inputs into a fixed expression tree, table lookup by the same
    quantized index in both engines."""
    from .functions.geo import hash_units
    from .functions.normal import p_table_rows

    ev = T(spark, sf_dir, "events").select("user_id", "event_type")
    # outcome: heavy purchaser (>= 14 purchases — near the fixture's
    # per-user median, so both arms sit strictly inside (0,1); a
    # has-any-purchase outcome saturates at p=1 over a month of events
    # and degenerates the variance)
    users = ev.groupBy("user_id").agg(
        F.when(
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            )
            >= 14,
            1,
        )
        .otherwise(0)
        .cast("bigint")
        .alias("conv")
    ).withColumn("arm", hash_units(F.col("user_id"), "arm", 2))
    pivot = users.agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_a"),
        F.sum(F.when(F.col("arm") == 0, F.col("conv")).otherwise(0))
        .cast("bigint")
        .alias("c_a"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_b"),
        F.sum(F.when(F.col("arm") == 1, F.col("conv")).otherwise(0))
        .cast("bigint")
        .alias("c_b"),
    )
    pa = F.col("c_a").cast("double") / F.col("n_a").cast("double")
    pb = F.col("c_b").cast("double") / F.col("n_b").cast("double")
    var = pa * (F.lit(1.0) - pa) / F.col("n_a").cast("double") + pb * (
        F.lit(1.0) - pb
    ) / F.col("n_b").cast("double")
    z = F.when(var > 0, (pb - pa) / F.sqrt(var))  # NULL when degenerate
    scored = pivot.select(
        "n_a",
        "c_a",
        "n_b",
        "c_b",
        z.alias("z"),
        F.least(
            F.lit(599),
            F.floor(F.abs(z) * F.lit(100.0) + F.lit(0.5)),
        )
        .cast("int")
        .alias("zq"),
        (z >= 0).alias("b_ahead"),
    )
    ptab = F.broadcast(
        spark.createDataFrame(p_table_rows(), "zq int, p_e9 long")
    )
    # P(B > A) = 1 - p/2 when z >= 0 else p/2  (p is the two-sided
    # tail); left join so a degenerate-variance row survives with NULLs
    return scored.join(ptab, "zq", "left").select(
        "n_a",
        "c_a",
        "n_b",
        "c_b",
        pround(F.col("z"), 6).alias("z6"),
        F.when(
            F.col("b_ahead"),
            F.lit(10**9) - F.expr("p_e9 div 2"),
        )
        .otherwise(F.expr("p_e9 div 2"))
        .cast("bigint")
        .alias("prob_b_beats_a_e9"),
    )


#: Power-iteration rounds and the eigenvector's integer scale.
_PCA_ITERS = 3
_PCA_SCALE = 10**6


@q("q_pca_power_iteration")
def q_pca_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal direction of the embedding covariance by POWER
    ITERATION — distributed linear algebra in the engine's exact style:
    the DATA-sized work is the shared Arrow int64 Gram core
    (_embedding_gram_agg — one scan, constant 2145-key shuffle); the
    iteration then runs on the COLLECTED bounded 64×64 integer matrix
    C_ij = n·G_ij − S_i·S_j (exact Python bigints, like the k-row
    centroid pulls), 3 rounds of w = C·v with max-abs renormalization
    to the 1e6 grid using SIGN-SPLIT truncating division (|w|·1e6 //
    max|w|, negated back — floor-vs-truncate on negatives differs
    between engines, sign-splitting removes the ambiguity).  v0 = all
    ones, so the sign convention is deterministic.  The oracle unrolls
    the identical 3 rounds in HUGEINT (scale 1e6 keeps every product
    under 1.7e38 at 100× the fixture volume).  Output: the 64
    eigenvector components on the 1e6 grid."""
    rows = _embedding_gram_agg(spark, sf_dir).collect()  # 2145 bounded
    n = 0
    S = {}
    G = {}
    for r in rows:
        i, j, t = r["i"], r["j"], int(r["t"])
        if i == -1 and j == -1:
            n = t
        elif j == -1:
            S[i] = t
        else:
            G[(i, j)] = t
    dims = sorted(S)
    C = {
        (i, j): n * G[(min(i, j), max(i, j))] - S[i] * S[j]
        for i in dims
        for j in dims
    }
    v = {i: _PCA_SCALE for i in dims}
    for _ in range(_PCA_ITERS):
        w = {i: sum(C[(i, j)] * v[j] for j in dims) for i in dims}
        m = max(abs(x) for x in w.values())
        if m == 0:  # degenerate (zero covariance) — keep v
            break
        v = {
            i: (
                -((-w[i]) * _PCA_SCALE // m)
                if w[i] < 0
                else w[i] * _PCA_SCALE // m
            )
            for i in dims
        }
    return spark.createDataFrame(
        [(i + 1, v[i]) for i in dims], "dim int, v_e6 long"
    ).orderBy("dim")


@q("q_propensity_match")
def q_propensity_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified propensity matching — the MATCHED-pairs causal
    estimator next to q_causal_ipw's weighting estimator: users are
    stratified by a deterministic propensity proxy (click count, capped
    at 20 so the stratum grain is BOUNDED at any volume), and within
    each stratum the k-th treated user (by user_id — deterministic) is
    paired with the k-th control user; unmatched tails are dropped, the
    standard greedy-within-caliper discipline made order-free.  The ATT
    is the exact integer sum of matched outcome differences with one
    division.  Shape: user-grain aggs, two
    row_number windows partitioned by (stratum, arm) — distributed,
    never global — and one equi-join on (stratum, rank)."""
    from .functions.geo import hash_units

    ev = T(spark, sf_dir, "events").select("user_id", "event_type")
    users = ev.groupBy("user_id").agg(
        F.least(
            F.lit(20),
            F.sum(
                F.when(F.col("event_type") == "click", 1).otherwise(0)
            ),
        )
        .cast("bigint")
        .alias("stratum"),
        F.sum(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        )
        .cast("bigint")
        .alias("outcome"),
    ).withColumn("treat", hash_units(F.col("user_id"), "arm", 2))
    wr = Window.partitionBy("stratum", "treat").orderBy("user_id")
    ranked = users.withColumn("rn", F.row_number().over(wr))
    t = ranked.filter(F.col("treat") == 1).select(
        "stratum", "rn", F.col("outcome").alias("y_t")
    )
    c = ranked.filter(F.col("treat") == 0).select(
        "stratum", "rn", F.col("outcome").alias("y_c")
    )
    pairs = t.join(c, ["stratum", "rn"])
    sizes = users.groupBy("stratum").agg(
        F.sum(F.col("treat")).cast("bigint").alias("n_treated"),
        F.sum(1 - F.col("treat")).cast("bigint").alias("n_control"),
    )
    matched = pairs.groupBy("stratum").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_matched"),
        F.sum(F.col("y_t") - F.col("y_c")).cast("bigint").alias("dsum"),
    )
    return (
        sizes.join(matched, "stratum", "left")
        .select(
            "stratum",
            "n_treated",
            "n_control",
            F.coalesce("n_matched", F.lit(0)).cast("bigint").alias(
                "n_matched"
            ),
            F.when(
                F.col("n_matched") > 0,
                pround(
                    F.col("dsum").cast("double")
                    / F.col("n_matched").cast("double"),
                    6,
                ),
            ).alias("att"),
        )
        .orderBy("stratum")
    )


@q("q_holt_backtest")
def q_holt_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling one-step-ahead BACKTEST of the Holt forecast against the
    naive (yesterday) baseline — the evaluation loop q_snaive_backtest
    runs for the seasonal model, applied to q_holt_forecast's weights:
    for every day r ≥ 3 of each series, the forecast uses only the
    trailing ≤16-day prefix (its own length's literal weight row), so
    the whole backtest is ONE bounded day-grain self-join (≤ days×16
    rows per series) plus the weight broadcast — no per-day re-fit.
    Errors stay in exact scaled integers (|y·1e9 − f_e9|) until the two
    final pinned divisions; the improvement ratio is Holt MAE over
    naive MAE."""
    from .functions.holt import MAX_T, holt_weight_rows

    ev = T(spark, sf_dir, "events").select(
        "event_type",
        F.datediff(
            F.to_date("ts"), F.lit("1970-01-01").cast("date")
        ).alias("d"),
        F.floor(F.col("value") * 100 + F.lit(0.5))
        .cast("bigint")
        .alias("vcents"),
    )
    daily = ev.groupBy("event_type", "d").agg(
        F.sum("vcents").cast("bigint").alias("y")
    )
    wseq = Window.partitionBy("event_type").orderBy("d")
    seq = daily.withColumn("r", F.row_number().over(wseq)).withColumn(
        "y_prev", F.lag("y").over(wseq)
    )
    tgt = seq.filter(F.col("r") >= 3).select(
        "event_type",
        F.col("r").alias("r_t"),
        F.col("y").alias("y_true"),
        "y_prev",
        F.least(F.lit(MAX_T), F.col("r") - 1).cast("int").alias("t_len"),
    )
    hist = seq.select(
        "event_type", F.col("r").alias("r_h"), F.col("y").alias("y_h")
    )
    weights = F.broadcast(
        spark.createDataFrame(
            holt_weight_rows(), "t_len int, p int, wl long, wb long"
        )
    )
    cand = tgt.join(hist, "event_type").filter(
        (F.col("r_h") < F.col("r_t"))
        & (F.col("r_h") >= F.col("r_t") - F.col("t_len"))
    ).withColumn("p", (F.col("r_t") - F.col("r_h")).cast("int"))
    fc = (
        cand.join(weights, ["t_len", "p"])
        .groupBy("event_type", "r_t", "y_true", "y_prev")
        .agg(
            F.sum(F.col("y_h") * (F.col("wl") + F.col("wb")))
            .cast("bigint")
            .alias("f_e9")
        )
    )
    errs = fc.select(
        "event_type",
        F.abs(F.col("y_true") * F.lit(10**9) - F.col("f_e9")).alias(
            "err_holt_e9"
        ),
        (F.abs(F.col("y_true") - F.col("y_prev")) * F.lit(10**9)).alias(
            "err_naive_e9"
        ),
    )
    return (
        errs.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_days"),
            F.sum("err_holt_e9").cast("bigint").alias("se_h"),
            F.sum("err_naive_e9").cast("bigint").alias("se_n"),
        )
        .select(
            "event_type",
            "n_days",
            pround(
                F.col("se_h").cast("double")
                / (F.col("n_days") * F.lit(10**9)).cast("double"),
                2,
            ).alias("mae_holt_cents"),
            pround(
                F.col("se_n").cast("double")
                / (F.col("n_days") * F.lit(10**9)).cast("double"),
                2,
            ).alias("mae_naive_cents"),
            pround(
                F.col("se_h").cast("double") / F.col("se_n").cast("double"),
                6,
            ).alias("holt_vs_naive"),
        )
        .orderBy("event_type")
    )


@q("q_kde_density")
def q_kde_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kernel density estimation over the event-value distribution on
    the bounded dollar-bucket grid — the smooth-curve companion to
    q_histogram: a discrete Gaussian kernel (σ=5 buckets, ±15) whose
    weights are INTEGER LITERALS from functions/normal.py (exp has the
    same libm-divergence problem as erf), convolved by SCATTER exactly
    like q_geo_cell_smooth — each bucket's count exploded to its 31
    kernel targets at the already-aggregated bucket grain, re-summed in
    exact int64.  Top-20 density peaks (density desc, bucket asc)."""
    from .functions.normal import gaussian_kernel_rows

    ev = T(spark, sf_dir, "events").select(
        F.floor(F.col("value")).cast("bigint").alias("bucket")
    )
    counts = ev.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    kern = F.broadcast(
        spark.createDataFrame(gaussian_kernel_rows(), "o int, w long")
    )
    contrib = counts.crossJoin(kern).select(
        (F.col("bucket") + F.col("o")).alias("b"),
        (F.col("c") * F.col("w")).alias("cw"),
    )
    dens = contrib.groupBy("b").agg(
        F.sum("cw").cast("bigint").alias("density_e9")
    )
    return (
        dens.join(counts, dens.b == counts.bucket, "left")
        .select(
            F.col("b").alias("bucket"),
            F.coalesce("c", F.lit(0)).cast("bigint").alias("n_raw"),
            "density_e9",
        )
        .orderBy(F.col("density_e9").desc(), "bucket")
        .limit(20)
    )


#: PACF depth and the recursion's integer scale.
_PACF_LAGS = 5
_PACF_SCALE = 10**9


def _sdiv(a: int, b: int) -> int:
    """Sign-split truncating division (both engines agree on |a| // |b|
    for non-negative operands; floor-vs-truncate differs on negatives)."""
    s = -1 if (a < 0) != (b < 0) else 1
    return s * (abs(a) // abs(b))


def _durbin_levinson(G: list[int]) -> tuple[list[int], list[int]]:
    """Exact integer Levinson-Durbin at scale 1e9: returns (acf_e9,
    pacf_e9) for lags 1..len(G)-1, every division sign-split truncating
    — the contract both engines unroll identically."""
    Z = _PACF_SCALE
    K = len(G) - 1
    rho = [Z] + [_sdiv(G[k] * Z, G[0]) for k in range(1, K + 1)]
    phi = {1: {1: rho[1]}}
    for k in range(2, K + 1):
        num = rho[k] * Z - sum(
            phi[k - 1][j] * rho[k - j] for j in range(1, k)
        )
        den = Z * Z - sum(phi[k - 1][j] * rho[j] for j in range(1, k))
        kk = _sdiv(num * Z, den)
        phi[k] = {
            j: phi[k - 1][j] - _sdiv(kk * phi[k - 1][k - j], Z)
            for j in range(1, k)
        }
        phi[k][k] = kk
    return rho[1:], [phi[k][k] for k in range(1, K + 1)]


@q("q_pacf_durbin")
def q_pacf_durbin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial autocorrelation via Levinson-Durbin — the AR-order
    identification tool completing q_autocorr (ACF says WHAT correlates;
    PACF says which lags carry DIRECT signal, the ARIMA p-selector).
    Exactness: mean-centered lag products are cross-multiplied to
    integers ((n·y_t − S)(n·y_{t+k} − S) summed in DECIMAL(38,0) — the
    γ_k·n³ identity avoids the float mean), computed DISTRIBUTED by one
    bounded day-grain self-join; the ≤6 collected sums then run the
    Durbin recursion in exact Python bigints at the 1e9 scale with
    sign-split truncating division at every step — the oracle unrolls
    the identical recursion in HUGEINT scalar CTEs.  Output: lag,
    acf_e9, pacf_e9."""
    ev = T(spark, sf_dir, "events").select(
        F.datediff(
            F.to_date("ts"), F.lit("1970-01-01").cast("date")
        ).alias("d"),
        F.floor(F.col("value") * 100 + F.lit(0.5))
        .cast("bigint")
        .alias("vcents"),
    )
    daily = ev.groupBy("d").agg(F.sum("vcents").cast("bigint").alias("y"))
    tot = daily.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("s"),
    )
    seq = daily.crossJoin(F.broadcast(tot)).select(
        "d", ((F.col("n") * F.col("y")) - F.col("s")).alias("a")
    )
    b = seq.select(F.col("d").alias("d2"), F.col("a").alias("a2"))
    prods = (
        seq.join(
            b,
            (F.col("d2") >= F.col("d"))
            & (F.col("d2") <= F.col("d") + _PACF_LAGS),
        )
        .select(
            (F.col("d2") - F.col("d")).alias("lag"),
            (
                F.col("a").cast("decimal(19,0)")
                * F.col("a2").cast("decimal(19,0)")
            )
            .cast("decimal(38,0)")
            .alias("p"),
        )
        .groupBy("lag")
        .agg(F.sum("p").cast("decimal(38,0)").alias("g"))
    )
    rows = {int(r["lag"]): int(r["g"]) for r in prods.collect()}  # ≤6
    G = [rows.get(k, 0) for k in range(_PACF_LAGS + 1)]
    acf, pacf = _durbin_levinson(G)
    return spark.createDataFrame(
        [(k + 1, acf[k], pacf[k]) for k in range(_PACF_LAGS)],
        "lag int, acf_e9 long, pacf_e9 long",
    ).orderBy("lag")


@q("q_geo_od_matrix")
def q_geo_od_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Origin-destination flow matrix — the aggregate view of
    q_geo_trajectory's per-user paths: consecutive event positions per
    user (ordered by ts, event_id) become cell-to-cell transitions on
    the 0.5-degree grid, self-loops dropped, top-20 flows.  One
    user-partitioned window + one agg on the bounded cell-pair key
    space; the movement-analytics staple (traffic between zones) at the
    scale shape of a plain keyed count."""
    from .functions.geo import hash_units

    ev = T(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        "event_id",
        (hash_units(F.col("event_id"), "elat", 100_000) / F.lit(
            _GEO_CELL_UNITS
        ))
        .cast("bigint")
        .alias("cell_lat"),
        (hash_units(F.col("event_id"), "elon", 100_000) / F.lit(
            _GEO_CELL_UNITS
        ))
        .cast("bigint")
        .alias("cell_lon"),
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flows = (
        ev.withColumn("to_lat", F.lead("cell_lat").over(w))
        .withColumn("to_lon", F.lead("cell_lon").over(w))
        .filter(
            F.col("to_lat").isNotNull()
            & (
                (F.col("cell_lat") != F.col("to_lat"))
                | (F.col("cell_lon") != F.col("to_lon"))
            )
        )
        .groupBy(
            F.col("cell_lat").alias("from_lat"),
            F.col("cell_lon").alias("from_lon"),
            "to_lat",
            "to_lon",
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_trips"))
    )
    return flows.orderBy(
        F.col("n_trips").desc(), "from_lat", "from_lon", "to_lat", "to_lon"
    ).limit(20)


@q("q_price_index")
def q_price_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Laspeyres / Paasche / Fisher price indices, base year 1995 vs
    2000, over the matched-part basket — the economics/BI aggregate a
    pricing team runs on every catalog: how much of revenue change is
    PRICE change at fixed quantities.  Exactness: per-part unit values
    stay as exact (cents, qty) integer pairs; each part's
    price-relative term is ONE truncating integer division onto the 1e6
    grid (S_t·Q_0·1e6 // Q_t — all positive, engine-identical), the
    sums accumulate in DECIMAL(38,0)/HUGEINT, and each index is one
    final pinned division (Fisher via IEEE-exact sqrt).  Shape: two
    year-grain part aggs, one matched-part equi-join, one 1-row agg."""
    li = T(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.year("l_shipdate").alias("yr"),
        F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
        .cast("bigint")
        .alias("cents"),
        F.floor(F.col("l_quantity") + F.lit(0.5))
        .cast("bigint")
        .alias("qty"),
    )

    def year_agg(y: int, tag: str) -> DataFrame:
        return (
            li.filter(F.col("yr") == y)
            .groupBy("l_partkey")
            .agg(
                F.sum("cents").cast("bigint").alias(f"s_{tag}"),
                F.sum("qty").cast("bigint").alias(f"q_{tag}"),
            )
            .filter(F.col(f"q_{tag}") > 0)
        )
    base = year_agg(1995, "0")
    curr = year_agg(2000, "t")
    m = base.join(curr, "l_partkey")
    terms = m.select(
        # Laspeyres numerator term: p_t·q_0 = (S_t/Q_t)·Q_0, on the 1e6 grid
        F.expr("s_t * q_0 * 1000000 div q_t").alias("lnum"),
        # Paasche denominator term: p_0·q_t = (S_0/Q_0)·Q_t
        F.expr("s_0 * q_t * 1000000 div q_0").alias("pden"),
        F.col("s_0"),
        F.col("s_t"),
    )
    agg = terms.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_parts"),
        F.sum(F.col("lnum").cast("decimal(38,0)"))
        .cast("decimal(38,0)")
        .alias("lnum_sum"),
        F.sum(F.col("pden").cast("decimal(38,0)"))
        .cast("decimal(38,0)")
        .alias("pden_sum"),
        F.sum(F.col("s_0").cast("decimal(38,0)"))
        .cast("decimal(38,0)")
        .alias("s0_sum"),
        F.sum(F.col("s_t").cast("decimal(38,0)"))
        .cast("decimal(38,0)")
        .alias("st_sum"),
    )
    lasp = F.col("lnum_sum").cast("double") / (
        F.col("s0_sum").cast("double") * F.lit(1e6)
    )
    paas = (F.col("st_sum").cast("double") * F.lit(1e6)) / F.col(
        "pden_sum"
    ).cast("double")
    return agg.select(
        "n_parts",
        pround(lasp, 6).alias("laspeyres"),
        pround(paas, 6).alias("paasche"),
        pround(F.sqrt(lasp * paas), 6).alias("fisher"),
    )


#: DTW series-length unroll bound for the oracle's generated CTE chain.
_DTW_MAX_N = 40


@q("q_dtw_distance")
def q_dtw_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic time warping between the daily 'click' and 'purchase'
    value series — the elastic-alignment similarity the lag-based tools
    (q_rolling_corr / q_autocorr) can't express: DTW matches shapes
    even when one series leads by a varying number of days.  Exactness:
    costs are integer cent differences and the whole DP is min/plus on
    exact ints — no division anywhere.  Shape: the DISTRIBUTED work is
    the two day-grain aggs; the DP then runs on the collected
    calendar-bounded series (≤ _DTW_MAX_N points — enforced loudly) in
    Python; the oracle computes the SAME values with one generated CTE
    per row, each row's sequential dependency re-expressed as a window
    PREFIX-MIN via the identity D(i,j) = C_ij + min_{k≤j}(m_k −
    C_{i,k−1}) (m_k = min of the two row-(i−1) predecessors, C = the
    row's cost prefix sum) — exact integer algebra, so the unrolled
    form is bit-identical to the classic recurrence."""
    ev = T(spark, sf_dir, "events").select(
        "event_type",
        F.datediff(
            F.to_date("ts"), F.lit("1970-01-01").cast("date")
        ).alias("d"),
        F.floor(F.col("value") * 100 + F.lit(0.5))
        .cast("bigint")
        .alias("vcents"),
    )
    daily = (
        ev.filter(F.col("event_type").isin("click", "purchase"))
        .groupBy("event_type", "d")
        .agg(F.sum("vcents").cast("bigint").alias("y"))
    )
    rows = daily.collect()  # calendar-bounded: ≤ 2 × _DTW_MAX_N rows
    a = sorted(
        (r["d"], r["y"]) for r in rows if r["event_type"] == "click"
    )
    b = sorted(
        (r["d"], r["y"]) for r in rows if r["event_type"] == "purchase"
    )
    ya = [y for _, y in a]
    yb = [y for _, y in b]
    if len(ya) > _DTW_MAX_N or len(yb) > _DTW_MAX_N:
        raise ValueError(
            f"series length {len(ya)}x{len(yb)} exceeds the DTW unroll "
            f"bound {_DTW_MAX_N} — raise _DTW_MAX_N (and the oracle's "
            "generated chain) together"
        )
    INF = 10**15
    prev = [0] + [INF] * len(yb)  # D(0, j)
    for i, va in enumerate(ya, start=1):
        cur = [INF] * (len(yb) + 1)
        for j, vb in enumerate(yb, start=1):
            c = abs(va - vb)
            best = min(prev[j], cur[j - 1], prev[j - 1])
            cur[j] = c + best if best < INF else INF
        prev = cur
    return spark.createDataFrame(
        [(len(ya), len(yb), prev[len(yb)])],
        "n_a int, n_b int, dtw_cents long",
    )


@q("q_changepoint_binseg")
def q_changepoint_binseg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-split binary segmentation over the daily value series —
    the OFFLINE changepoint locator next to q_cusum_changepoint's
    online detector: the split t maximizing the between-segment
    sum-of-squares S_L²/n_L + S_R²/n_R (the variance-reduction
    objective).  Exactness: prefix sums via the distributed two-phase
    cumsum on the calendar-bounded day grain, each candidate's
    numerator/denominator kept as exact cross-multiplied integers
    (S_L²·n_R + S_R²·n_L over n_L·n_R), ONE IEEE division per candidate
    for the ranking (identical expression both engines), ties to the
    earlier day; segment means emitted as single pinned divisions."""
    ev = T(spark, sf_dir, "events").select(
        F.datediff(
            F.to_date("ts"), F.lit("1970-01-01").cast("date")
        ).alias("d"),
        F.floor(F.col("value") * 100 + F.lit(0.5))
        .cast("bigint")
        .alias("vcents"),
    )
    daily = ev.groupBy("d").agg(F.sum("vcents").cast("bigint").alias("y"))
    wd = Window.orderBy("d").rowsBetween(
        Window.unboundedPreceding, 0
    )  # calendar-bounded day grain: the bounded-window exemption
    tot = daily.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("s"),
    )
    pre = (
        daily.select(
            "d",
            F.sum("y").over(wd).cast("bigint").alias("s_l"),
            F.count(F.lit(1)).over(wd).cast("bigint").alias("n_l"),
        )
        .crossJoin(F.broadcast(tot))
        .filter(F.col("n_l") < F.col("n"))  # split leaves a right side
        .select(
            "d",
            "n_l",
            "s_l",
            (F.col("n") - F.col("n_l")).alias("n_r"),
            (F.col("s") - F.col("s_l")).alias("s_r"),
        )
    )
    d19 = lambda c: c.cast("decimal(19,0)")  # noqa: E731
    score_num = (
        (d19(F.col("s_l")) * d19(F.col("s_l"))).cast("decimal(38,0)")
        * F.col("n_r").cast("decimal(38,0)")
        + (d19(F.col("s_r")) * d19(F.col("s_r"))).cast("decimal(38,0)")
        * F.col("n_l").cast("decimal(38,0)")
    ).cast("decimal(38,0)")
    scored = pre.select(
        "d",
        "n_l",
        "n_r",
        "s_l",
        "s_r",
        (
            score_num.cast("double")
            / (F.col("n_l") * F.col("n_r")).cast("double")
        ).alias("score"),
    )
    wr = Window.orderBy(F.col("score").desc(), F.col("d").asc())
    best = scored.withColumn("rn", F.row_number().over(wr)).filter(
        F.col("rn") == 1
    )
    return best.select(
        F.col("d").alias("split_day"),
        "n_l",
        "n_r",
        pround(
            F.col("s_l").cast("double") / F.col("n_l").cast("double"), 2
        ).alias("mean_l_cents"),
        pround(
            F.col("s_r").cast("double") / F.col("n_r").cast("double"), 2
        ).alias("mean_r_cents"),
        pround(F.col("score"), 2).alias("score"),
    )


@q("q_attribution_time_decay")
def q_attribution_time_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-decay attribution — completes the attribution family
    (last-touch, positional, Shapley, Markov removal): each touchpoint
    before a user's first purchase earns credit halving per day of age
    at conversion, the DYADIC exact form (weight_e9 = 1e9 div 2^k, k =
    whole days before conversion, capped at 30 — q_decayed_engagement's
    discipline, so every weight is an exact integer and the shares are
    integer ratios into one pinned division).  Shape: the q_markov
    journey filter (events ≤ first purchase), one window for the
    conversion timestamp, channel-grain aggs."""
    ev = T(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    first_p = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min(F.struct("ts", "event_id")).alias("fp"))
    )
    touches = (
        ev.join(first_p, "user_id")
        .filter(
            (F.struct("ts", "event_id") <= F.col("fp"))
            & (F.col("event_type") != "purchase")
        )
        .select(
            "user_id",
            F.col("event_type").alias("channel"),
            F.least(
                F.lit(30),
                # integer MICROSECONDS end to end: DuckDB's epoch()
                # truncates fractional seconds while a double cast
                # keeps them — epoch_us/unix_micros agree exactly
                F.expr(
                    "(unix_micros(fp.ts) - unix_micros(ts)) "
                    "div 86400000000"
                ),
            )
            .cast("int")
            .alias("age_days"),
        )
        .withColumn(
            "weight_e9",
            F.expr("1000000000 div CAST(pow(2, age_days) AS BIGINT)"),
        )
    )
    tot = touches.agg(
        F.sum("weight_e9").cast("bigint").alias("t")
    )
    return (
        touches.groupBy("channel")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("touches"),
            F.sum("weight_e9").cast("bigint").alias("weight_e9"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "channel",
            "touches",
            "weight_e9",
            pround(
                F.col("weight_e9").cast("double") / F.col("t").cast("double"),
                6,
            ).alias("share"),
        )
        .orderBy("channel")
    )


@q("q_runs_test")
def q_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test for randomness of the daily value
    series around its median — the nonparametric trend/clustering
    guardrail next to q_mann_kendall: too FEW runs means regimes, too
    MANY means oscillation.  Exactness: the median comparison is
    cross-multiplied (2y vs the two middle values' sum), runs are
    lag-counted integers on the calendar-bounded day grain, μ and σ²
    are the textbook rationals evaluated as ONE fixed expression tree,
    and the p-value comes from the literal Φ table."""
    from .functions.normal import p_table_rows

    ev = T(spark, sf_dir, "events").select(
        F.datediff(
            F.to_date("ts"), F.lit("1970-01-01").cast("date")
        ).alias("d"),
        F.floor(F.col("value") * 100 + F.lit(0.5))
        .cast("bigint")
        .alias("vcents"),
    )
    daily = ev.groupBy("d").agg(F.sum("vcents").cast("bigint").alias("y"))
    wr = Window.orderBy("y", "d")  # bounded day grain
    wd = Window.orderBy("d")
    ranked = daily.withColumn("r", F.row_number().over(wr)).withColumn(
        "n", F.count(F.lit(1)).over(Window.partitionBy())
    )
    # middle rows for either parity: even n → 2r ∈ {n, n+2} (two rows),
    # odd n → 2r = n+1 (one row); the other disjuncts are unsatisfiable
    # for the opposite parity
    mid = ranked.filter(
        (F.col("r") * 2 == F.col("n"))
        | (F.col("r") * 2 == F.col("n") + 1)
        | (F.col("r") * 2 == F.col("n") + 2)
    )
    m2 = mid.agg(
        (F.sum("y") * 2 / F.count(F.lit(1)))
        .cast("bigint")
        .alias("m2")
    )  # 2×median: sum of the two middles (even n) or 2×middle (odd)
    signs = (
        daily.crossJoin(F.broadcast(m2))
        .select(
            "d",
            F.when(F.col("y") * 2 > F.col("m2"), 1)
            .otherwise(0)
            .alias("s"),
        )
        .withColumn("prev", F.lag("s").over(wd))
        .withColumn(
            "new_run",
            F.when(
                F.col("prev").isNull() | (F.col("prev") != F.col("s")), 1
            ).otherwise(0),
        )
    )
    agg = signs.agg(
        F.sum("new_run").cast("bigint").alias("runs"),
        F.sum("s").cast("bigint").alias("n1"),
        F.sum(1 - F.col("s")).cast("bigint").alias("n2"),
    )
    n1, n2 = F.col("n1"), F.col("n2")
    n = n1 + n2
    mu = F.lit(1.0) + (F.lit(2.0) * n1 * n2).cast("double") / n.cast(
        "double"
    )
    var = (
        (F.lit(2.0) * n1 * n2).cast("double")
        * (F.lit(2.0) * n1 * n2 - n).cast("double")
        / (
            n.cast("double")
            * n.cast("double")
            * (n - F.lit(1)).cast("double")
        )
    )
    z = F.when(
        var > 0, (F.col("runs").cast("double") - mu) / F.sqrt(var)
    )  # NULL when the series is one-sided/constant (var degenerates)
    scored = agg.select(
        "runs",
        "n1",
        "n2",
        z.alias("z"),
        F.least(
            F.lit(599),
            F.floor(F.abs(z) * F.lit(100.0) + F.lit(0.5)),
        )
        .cast("int")
        .alias("zq"),
    )
    ptab = F.broadcast(
        spark.createDataFrame(p_table_rows(), "zq int, p_e9 long")
    )
    return scored.join(ptab, "zq", "left").select(
        "runs", "n1", "n2", pround(F.col("z"), 6).alias("z6"), "p_e9"
    )


@q("q_mcnemar")
def q_mcnemar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's test on paired user activity (week 1 vs week 4 of the
    fixture month) — the PAIRED companion to the two-sample tests: only
    the discordant users (active→inactive vs inactive→active) carry
    signal.  χ² with continuity correction = (|b−c|−1)²/(b+c), exact
    integers into one division; the p-value uses χ²₁ = z², so the
    literal Φ table applies at z = √χ² (IEEE-exact sqrt)."""
    from .functions.normal import p_table_rows

    ev = T(spark, sf_dir, "events").select(
        "user_id",
        F.dayofmonth(F.to_date("ts")).alias("dom"),
    )
    users = ev.groupBy("user_id").agg(
        F.max(F.when(F.col("dom") <= 7, 1).otherwise(0)).alias("w1"),
        F.max(F.when(F.col("dom") >= 24, 1).otherwise(0)).alias("w4"),
    )
    agg = users.agg(
        F.sum(
            F.when((F.col("w1") == 1) & (F.col("w4") == 0), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("b"),
        F.sum(
            F.when((F.col("w1") == 0) & (F.col("w4") == 1), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("c"),
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
    )
    chi2 = F.when(
        F.col("b") + F.col("c") > 0,
        (
            (F.abs(F.col("b") - F.col("c")) - F.lit(1))
            * (F.abs(F.col("b") - F.col("c")) - F.lit(1))
        ).cast("double")
        / (F.col("b") + F.col("c")).cast("double"),
    )
    scored = agg.select(
        "n_users",
        "b",
        "c",
        pround(chi2, 6).alias("chi2"),
        F.least(
            F.lit(599),
            F.floor(F.sqrt(chi2) * F.lit(100.0) + F.lit(0.5)),
        )
        .cast("int")
        .alias("zq"),
    )
    ptab = F.broadcast(
        spark.createDataFrame(p_table_rows(), "zq int, p_e9 long")
    )
    return scored.join(ptab, "zq", "left").select(
        "n_users", "b", "c", "chi2", "p_e9"
    )


@q("q_cmh_test")
def q_cmh_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran-Mantel-Haenszel stratified 2x2 test — the INFERENTIAL
    twin of q_simpson_paradox's descriptive reversal table: does the
    exposure→outcome association survive after controlling for market
    segment?  Per stratum the 2x2 is (hash-split arm) × (customer has a
    >$450k order — ~64% at the fixtures; a $150k threshold was true
    for EVERY customer and zeroed the variance); the per-stratum
    expectation E = r1·c1/n and variance
    V = r1·r0·c1·c0/(n²(n−1)) are exact integer ratios PINNED to the
    1e9 grid per stratum, so the cross-strata sums are order-free int64
    adds (never a float sum over GROUP BY); the continuity-corrected z
    uses IEEE-exact sqrt and the literal Φ p-table.  Shape: one
    customer-grain agg, one 5-row stratum agg, one scalar readout."""
    from .functions.geo import hash_units
    from .functions.normal import p_table_rows

    cust = T(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    big = (
        T(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 450_000)
        .select("o_custkey")
        .distinct()
    )
    users = (
        cust.join(big, cust.c_custkey == big.o_custkey, "left")
        .select(
            "c_mktsegment",
            hash_units(F.col("c_custkey"), "arm", 2).alias("exposed"),
            F.when(F.col("o_custkey").isNotNull(), 1)
            .otherwise(0)
            .cast("bigint")
            .alias("outcome"),
        )
    )
    per = users.groupBy("c_mktsegment").agg(
        F.sum(
            F.when(
                (F.col("exposed") == 1) & (F.col("outcome") == 1), 1
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("a"),
        F.sum(F.col("exposed")).cast("bigint").alias("r1"),
        F.sum(F.col("outcome")).cast("bigint").alias("c1"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    # E·1e9 exactly, split so the scaled product stays in int64:
    # floor(a·1e9/n) = (a div n)·1e9 + ((a % n)·1e9) div n
    e_e9 = F.expr(
        "(r1 * c1 div n) * 1000000000 "
        "+ ((r1 * c1 % n) * 1000000000) div n"
    )
    # V·1e9 pinned via one deterministic double expression (the exact
    # int64 subproducts r1·r0 and c1·c0 stay under 2^53; the ×1e9 and
    # the division round identically in both engines)
    v_e9 = F.expr(
        "CAST(floor(CAST(r1 * (n - r1) AS DOUBLE) "
        "* CAST(c1 * (n - c1) AS DOUBLE) * 1000000000.0 "
        "/ (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) "
        "* CAST(n - 1 AS DOUBLE)) + 0.5) AS BIGINT)"
    )
    agg = per.select(
        "c_mktsegment", "a", e_e9.alias("e_e9"), v_e9.alias("v_e9")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_strata"),
        F.sum("a").cast("bigint").alias("sum_a"),
        F.sum("e_e9").cast("bigint").alias("sum_e_e9"),
        F.sum("v_e9").cast("bigint").alias("sum_v_e9"),
    )
    z = F.when(
        F.col("sum_v_e9") > 0,
        (
            F.abs(
                F.col("sum_a").cast("double")
                - F.col("sum_e_e9").cast("double") / F.lit(1e9)
            )
            - F.lit(0.5)
        )
        / F.sqrt(F.col("sum_v_e9").cast("double") / F.lit(1e9)),
    )
    scored = agg.select(
        "n_strata",
        "sum_a",
        "sum_e_e9",
        "sum_v_e9",
        z.alias("z"),
        F.least(
            F.lit(599),
            F.floor(F.abs(z) * F.lit(100.0) + F.lit(0.5)),
        )
        .cast("int")
        .alias("zq"),
    )
    ptab = F.broadcast(
        spark.createDataFrame(p_table_rows(), "zq int, p_e9 long")
    )
    return scored.join(ptab, "zq", "left").select(
        "n_strata",
        "sum_a",
        "sum_e_e9",
        "sum_v_e9",
        pround(F.col("z"), 6).alias("z6"),
        "p_e9",
    )


#: Shewhart X-bar/R chart constant A2 for subgroup size 5 (the classic
#: SPC table value, shipped as a literal like the Φ/kernel tables).
_SPC_A2_N5_E6 = 577_000  # 0.577 × 1e6


@q("q_spc_xbar")
def q_spc_xbar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shewhart X-bar/R control chart over daily 5-event subgroups —
    statistical process control, the industrial monitoring family the
    registry lacked: each day's subgroup is its 5 LOWEST-event_id
    events (deterministic), the chart centerline is the grand mean of
    subgroup means, and the control limits are CL ± A2·R̄ with the
    textbook A2(n=5) constant shipped as an integer literal.
    Exactness: subgroup sums and ranges are exact cents; means are
    single divisions; the A2 product is one deterministic double
    expression; out-of-control comparison is done on the SAME pinned
    values both engines compute.  Output: per-day xbar/r/limits/flag on
    the calendar-bounded day grain."""
    ev = T(spark, sf_dir, "events").select(
        F.datediff(
            F.to_date("ts"), F.lit("1970-01-01").cast("date")
        ).alias("d"),
        "event_id",
        F.floor(F.col("value") * 100 + F.lit(0.5))
        .cast("bigint")
        .alias("vcents"),
    )
    wday = Window.partitionBy("d").orderBy("event_id")
    sub = (
        ev.withColumn("rn", F.row_number().over(wday))
        .filter(F.col("rn") <= 5)
        .groupBy("d")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_sub"),
            F.sum("vcents").cast("bigint").alias("s"),
            F.max("vcents").alias("mx"),
            F.min("vcents").alias("mn"),
        )
        .filter(F.col("n_sub") == 5)  # full subgroups only
        .select(
            "d",
            F.col("s"),
            (F.col("s").cast("double") / F.lit(5.0)).alias("xbar"),
            (F.col("mx") - F.col("mn")).cast("bigint").alias("r"),
        )
    )
    # grand stats from EXACT integer sums (a float sum of per-day xbars
    # would be summation-order sensitive): CL = Σs / (5k), one division
    grand = sub.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("s").cast("bigint").alias("ss"),
        F.sum("r").cast("bigint").alias("sr"),
    ).select(
        (
            F.col("ss").cast("double")
            / (F.col("k") * F.lit(5)).cast("double")
        ).alias("cl"),
        (
            F.col("sr").cast("double")
            / F.col("k").cast("double")
            * F.lit(_SPC_A2_N5_E6 / 1e6)
        ).alias("a2rbar"),
    )
    return (
        sub.crossJoin(F.broadcast(grand))
        .select(
            "d",
            pround(F.col("xbar"), 2).alias("xbar_cents"),
            "r",
            pround(F.col("cl"), 2).alias("cl_cents"),
            pround(F.col("cl") + F.col("a2rbar"), 2).alias("ucl_cents"),
            pround(F.col("cl") - F.col("a2rbar"), 2).alias("lcl_cents"),
            (
                (F.col("xbar") > F.col("cl") + F.col("a2rbar"))
                | (F.col("xbar") < F.col("cl") - F.col("a2rbar"))
            ).alias("out_of_control"),
        )
        .orderBy("d")
    )


#: Hurst R/S window sizes (full chunks only; the day grain is ~30).
_HURST_SIZES = (5, 10, 15)


@q("q_hurst_exponent")
def q_hurst_exponent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hurst exponent by rescaled-range (R/S) analysis over the daily
    value series — the long-memory diagnostic next to q_autocorr and
    q_pacf_durbin (H>0.5 trending, H<0.5 mean-reverting).  Exactness:
    within each size-s chunk the mean is cross-multiplied away (work in
    units of 1/s: z_t = Σ(s·y − S_chunk) exact ints, R′ = max−min, D2 =
    Σ(s·y − S_chunk)²), so R/S = R′·√s/√D2 uses only IEEE-exact sqrt
    and deterministic products; each chunk's ln(R/S) is pinned to the
    ×1e6 grid (the q_zipf_law discipline) before the order-free integer
    mean, and the 3-point log-log OLS runs as fixed-order chains on the
    pinned values.  Shape: one day-grain agg, per-size bounded-chunk
    windows, a 3-row collect-free OLS."""
    ev = T(spark, sf_dir, "events").select(
        F.datediff(
            F.to_date("ts"), F.lit("1970-01-01").cast("date")
        ).alias("d"),
        F.floor(F.col("value") * 100 + F.lit(0.5))
        .cast("bigint")
        .alias("vcents"),
    )
    daily = ev.groupBy("d").agg(F.sum("vcents").cast("bigint").alias("y"))
    wseq = Window.orderBy("d")  # bounded day grain
    seq = daily.withColumn("t", F.row_number().over(wseq))
    per_size = []
    for s_ in _HURST_SIZES:
        chunks = (
            seq.withColumn("chunk", F.expr(f"(t - 1) div {s_}"))
            .withColumn(
                "n_in",
                F.count(F.lit(1)).over(Window.partitionBy("chunk")),
            )
            .filter(F.col("n_in") == s_)
        )
        cs = chunks.groupBy("chunk").agg(
            F.sum("y").cast("bigint").alias("sy")
        )
        dev = (
            chunks.join(cs, "chunk")
            .withColumn("a", F.col("y") * s_ - F.col("sy"))
            .withColumn(
                "z",
                F.sum("a").over(
                    Window.partitionBy("chunk")
                    .orderBy("t")
                    .rowsBetween(Window.unboundedPreceding, 0)
                ),
            )
        )
        rs = dev.groupBy("chunk").agg(
            (F.max("z") - F.min("z")).cast("bigint").alias("rp"),
            # DECIMAL(38,0) product+sum: bigint squares overflow int64
            # once deviations reach ~3e9 (ANSI would fail loudly on the
            # Spark side while DuckDB silently widens — keep them equal)
            F.sum(
                (
                    F.col("a").cast("decimal(19,0)")
                    * F.col("a").cast("decimal(19,0)")
                ).cast("decimal(38,0)")
            )
            .cast("decimal(38,0)")
            .alias("d2"),
        ).filter(
            (F.col("rp") > 0) & (F.col("d2") > 0)
        )
        ln_pin = rs.select(
            F.floor(
                F.log(
                    F.col("rp").cast("double")
                    * F.sqrt(F.lit(float(s_)))
                    / F.sqrt(F.col("d2").cast("double"))
                )
                * F.lit(1e6)
                + F.lit(0.5)
            )
            .cast("bigint")
            .alias("ln_e6")
        )
        per_size.append(
            ln_pin.agg(
                F.lit(s_).cast("int").alias("s"),
                F.count(F.lit(1)).cast("bigint").alias("n_chunks"),
                (
                    F.sum("ln_e6").cast("double")
                    / F.count(F.lit(1)).cast("double")
                    / F.lit(1e6)
                ).alias("ln_rs"),
            )
        )
    # one row per size, then a single-row crossJoin so the 3-term OLS
    # runs as a FIXED-ORDER chain (an agg over the union would sum
    # doubles in partition order)
    import math as _math

    lx = {
        s_: _math.floor(_math.log(s_) * 1e6 + 0.5) / 1e6
        for s_ in _HURST_SIZES
    }
    xbar = sum(lx.values()) / len(lx)
    sxx = sum((v - xbar) ** 2 for v in lx.values())
    r5 = per_size[0].select(
        F.col("n_chunks").alias("n5"), F.col("ln_rs").alias("l5")
    )
    r10 = per_size[1].select(
        F.col("n_chunks").alias("n10"), F.col("ln_rs").alias("l10")
    )
    r15 = per_size[2].select(
        F.col("n_chunks").alias("n15"), F.col("ln_rs").alias("l15")
    )
    one = r5.crossJoin(r10).crossJoin(r15)
    sxy = (
        F.lit(lx[5] - xbar) * F.col("l5")
        + F.lit(lx[10] - xbar) * F.col("l10")
        + F.lit(lx[15] - xbar) * F.col("l15")
    )
    return one.select(
        "n5",
        "n10",
        "n15",
        pround(F.col("l5"), 6).alias("ln_rs_5"),
        pround(F.col("l10"), 6).alias("ln_rs_10"),
        pround(F.col("l15"), 6).alias("ln_rs_15"),
        pround(sxy / F.lit(sxx), 6).alias("hurst"),
    )


#: Engle-Granger 5% critical value (2 variables, small sample) — a
#: textbook literal, like the Φ table and SPC constants.
_EG_CRIT_5PCT = -3.37


@q("q_cointegration")
def q_cointegration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engle-Granger cointegration test between the daily click and
    purchase value series — the econometrics capstone over the
    time-series family: step 1 regresses y on x with EXACT integer
    power sums (β and α from cross-multiplied sums, single divisions);
    step 2 pins each day's residual to the centi-cent grid
    (floor(e·100+0.5) — the zipf pinning discipline applied to OLS
    residuals, making every later sum an ORDER-FREE integer add) and
    runs the ADF(0) regression Δe_t = γ·e_{t−1}: γ̂, its t-statistic,
    and the cointegration verdict against the literal 5% Engle-Granger
    critical value.  Products that exceed int64 at volume run in
    DECIMAL(38,0)/HUGEINT.  All comparisons happen on identically
    computed doubles; the day grain is calendar-bounded."""
    ev = T(spark, sf_dir, "events").select(
        "event_type",
        F.datediff(
            F.to_date("ts"), F.lit("1970-01-01").cast("date")
        ).alias("d"),
        F.floor(F.col("value") * 100 + F.lit(0.5))
        .cast("bigint")
        .alias("vcents"),
    )
    daily = (
        ev.filter(F.col("event_type").isin("click", "purchase"))
        .groupBy("d")
        .agg(
            F.sum(
                F.when(F.col("event_type") == "click", F.col("vcents"))
            )
            .cast("bigint")
            .alias("x"),
            F.sum(
                F.when(F.col("event_type") == "purchase", F.col("vcents"))
            )
            .cast("bigint")
            .alias("y"),
        )
        .filter(F.col("x").isNotNull() & F.col("y").isNotNull())
    )
    d19 = lambda c: c.cast("decimal(19,0)")  # noqa: E731
    sums = daily.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum((d19(F.col("x")) * d19(F.col("x"))).cast("decimal(38,0)"))
        .cast("decimal(38,0)")
        .alias("sxx"),
        F.sum((d19(F.col("x")) * d19(F.col("y"))).cast("decimal(38,0)"))
        .cast("decimal(38,0)")
        .alias("sxy"),
    )
    beta = (
        (
            F.col("n").cast("decimal(19,0)") * F.col("sxy")
            - (d19(F.col("sx")) * d19(F.col("sy"))).cast("decimal(38,0)")
        )
        .cast("decimal(38,0)")
        .cast("double")
        / (
            F.col("n").cast("decimal(19,0)") * F.col("sxx")
            - (d19(F.col("sx")) * d19(F.col("sx"))).cast("decimal(38,0)")
        )
        .cast("decimal(38,0)")
        .cast("double")
    )
    withb = daily.crossJoin(
        F.broadcast(
            sums.select(
                "n",
                beta.alias("beta"),
                (
                    (
                        F.col("sy").cast("double")
                        - beta * F.col("sx").cast("double")
                    )
                    / F.col("n").cast("double")
                ).alias("alpha"),
            )
        )
    )
    resid = withb.select(
        "d",
        "n",
        "beta",
        "alpha",
        F.floor(
            (
                F.col("y").cast("double")
                - F.col("alpha")
                - F.col("beta") * F.col("x").cast("double")
            )
            * F.lit(100.0)
            + F.lit(0.5)
        )
        .cast("bigint")
        .alias("ep"),  # residual pinned to the centi-cent grid
    )
    wd = Window.orderBy("d")  # bounded day grain
    lagd = resid.withColumn("ep_prev", F.lag("ep").over(wd)).filter(
        F.col("ep_prev").isNotNull()
    )
    adf = lagd.select(
        "n",
        "beta",
        "alpha",
        (F.col("ep") - F.col("ep_prev")).alias("de"),
        "ep_prev",
    ).agg(
        F.first("n").alias("n"),
        F.first("beta").alias("beta"),
        F.first("alpha").alias("alpha"),
        F.count(F.lit(1)).cast("bigint").alias("m"),
        F.sum(
            (d19(F.col("ep_prev")) * d19(F.col("de"))).cast(
                "decimal(38,0)"
            )
        )
        .cast("decimal(38,0)")
        .alias("spd"),
        F.sum(
            (d19(F.col("ep_prev")) * d19(F.col("ep_prev"))).cast(
                "decimal(38,0)"
            )
        )
        .cast("decimal(38,0)")
        .alias("spp"),
        F.sum((d19(F.col("de")) * d19(F.col("de"))).cast("decimal(38,0)"))
        .cast("decimal(38,0)")
        .alias("sdd"),
    )
    # γ̂ = Σ(e_prev·Δe)/Σ(e_prev²); SSR = Σ(Δe²) − γ̂·Σ(e_prev·Δe)
    # (the closed form avoids re-walking residual rows with a float γ̂);
    # t = γ̂ / sqrt( (SSR/(m−1)) / Σ(e_prev²) )
    g = F.col("spd").cast("double") / F.col("spp").cast("double")
    ssr = F.col("sdd").cast("double") - g * F.col("spd").cast("double")
    t_stat = g / F.sqrt(
        (ssr / (F.col("m") - F.lit(1)).cast("double"))
        / F.col("spp").cast("double")
    )
    return adf.select(
        "n",
        "m",
        pround(F.col("beta"), 6).alias("beta"),
        pround(F.col("alpha"), 2).alias("alpha_cents"),
        pround(g, 6).alias("gamma"),
        pround(t_stat, 6).alias("adf_t"),
        (t_stat < F.lit(_EG_CRIT_5PCT)).alias("cointegrated_5pct"),
    )


#: χ²(df=4) 5% critical value — textbook literal (the Φ-table family).
_CHI2_DF4_5PCT = 9.4877


@q("q_kruskal_wallis")
def q_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis H across the five order priorities — the k-sample
    rank test completing q_mannwhitney_u (2 samples) and q_anova_f (the
    parametric k-sample F): same exact machinery, generalized — value
    grain with per-priority counts against the PINNED domain, ONE
    range-partitioned cumsum for the exclusive prefix, doubled tied
    rank sums R_j×2 = Σ c_j·(2B+t+1) in DECIMAL(38,0), and the
    tie-corrected H assembled as FIXED-ORDER 5-term chains (the
    q_anova_f discipline) with the verdict against the literal
    χ²(4) 5% critical value."""
    from .operators.rank import global_cumsum

    pris = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    od = T(spark, sf_dir, "orders")
    v = F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5)).cast(
        "bigint"
    )
    k = len(pris)
    g = (
        od.select(
            v.alias("v"),
            *[
                F.when(F.col("o_orderpriority") == p, 1)
                .otherwise(0)
                .alias(f"g{j}")
                for j, p in enumerate(pris)
            ],
        )
        .groupBy("v")
        .agg(
            *[
                F.sum(f"g{j}").cast("bigint").alias(f"c{j}")
                for j in range(k)
            ]
        )
        .withColumn(
            "t",
            sum(F.col(f"c{j}") for j in range(k)),
        )
    )
    cum = global_cumsum(g, [F.col("v")], "t", cum_col="cum")
    d38 = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    b = F.col("cum") - F.col("t")
    rank2 = 2 * b + F.col("t") + 1  # doubled tied average rank
    agg = cum.agg(
        *[
            F.sum(F.col(f"c{j}")).cast("bigint").alias(f"n{j}")
            for j in range(k)
        ],
        *[
            F.sum(d38(F.col(f"c{j}")) * d38(rank2))
            .cast("decimal(38,0)")
            .alias(f"r2_{j}")
            for j in range(k)
        ],
        F.sum(
            d38(F.col("t")) * d38(F.col("t")) * d38(F.col("t"))
            - d38(F.col("t"))
        )
        .cast("decimal(38,0)")
        .alias("tie3"),
    )
    from functools import reduce

    nd = reduce(
        lambda a, bb: a + bb, [F.col(f"n{j}") for j in range(k)]
    ).cast("double")
    # Σ R_j²/n_j with R_j = r2_j/2: fixed-order 5-term chain
    terms = [
        (F.col(f"r2_{j}").cast("double") * F.col(f"r2_{j}").cast("double"))
        / (F.lit(4.0) * F.col(f"n{j}").cast("double"))
        for j in range(k)
    ]
    srn = reduce(lambda a, bb: a + bb, terms)
    h_raw = (
        F.lit(12.0) / (nd * (nd + F.lit(1.0))) * srn
        - F.lit(3.0) * (nd + F.lit(1.0))
    )
    corr = F.lit(1.0) - F.col("tie3").cast("double") / (
        nd * nd * nd - nd
    )
    h = h_raw / corr
    return agg.select(
        *[F.col(f"n{j}") for j in range(k)],
        pround(h, 6).alias("h"),
        (h > F.lit(_CHI2_DF4_5PCT)).alias("significant_5pct"),
    )


@q("q_burrows_delta")
def q_burrows_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burrows' Delta stylometry [Burrows 2002] — authorship/source
    similarity from function-word usage, the classic attribution tool
    the text family lacked: relative frequencies of the corpus's top-20
    words across the top-10 sources (BOTH sets COUNT-bounded — the
    _hub_probes discipline, so the pair matrix is O(45) at any corpus
    size), z-scored per word, Delta(a,b) = mean |z_a − z_b|.
    Exactness: frequencies land on the 1e9 grid via truncating integer
    division; the per-word z uses the cross-multiplied form
    (k·f − Σf)/√(k·Σf² − (Σf)²) over exact integers (σ=0 words pin to
    z=0), re-pinned ×1e6; pair deltas are then order-free integer sums
    with one final division.  Ten closest pairs."""
    docs = T(spark, sf_dir, "documents").select("doc_id", "source", "text")
    tok = docs.select("source", F.explode(tokens("text")).alias("w"))
    top_words = (
        tok.groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("w"))
        .limit(20)
        .select("w")
    )
    top_sources = (
        docs.groupBy("source")
        .agg(F.count(F.lit(1)).alias("nd"))
        .orderBy(F.desc("nd"), F.asc("source"))
        .limit(10)
        .select("source")
    )
    stok = tok.join(F.broadcast(top_sources), "source")
    n_s = stok.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tok")
    )
    swc = (
        stok.join(F.broadcast(top_words), "w")
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    grid = (
        top_sources.crossJoin(top_words)
        .join(swc, ["source", "w"], "left")
        .join(n_s, "source")
        .select(
            "source",
            "w",
            F.expr(
                "coalesce(c, 0) * 1000000000 div n_tok"
            ).alias("f_e9"),
        )
    )
    d19 = lambda c: c.cast("decimal(19,0)")  # noqa: E731
    stats = grid.groupBy("w").agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("f_e9").cast("bigint").alias("sf"),
        F.sum((d19(F.col("f_e9")) * d19(F.col("f_e9"))).cast("decimal(38,0)"))
        .cast("decimal(38,0)")
        .alias("sff"),
    )
    zed = grid.join(F.broadcast(stats), "w").select(
        "source",
        "w",
        F.when(
            (
                F.col("k").cast("decimal(19,0)") * F.col("sff")
                - (d19(F.col("sf")) * d19(F.col("sf"))).cast(
                    "decimal(38,0)"
                )
            ).cast("decimal(38,0)")
            > 0,
            F.floor(
                (F.col("k") * F.col("f_e9") - F.col("sf")).cast("double")
                / F.sqrt(
                    (
                        F.col("k").cast("decimal(19,0)") * F.col("sff")
                        - (d19(F.col("sf")) * d19(F.col("sf"))).cast(
                            "decimal(38,0)"
                        )
                    )
                    .cast("decimal(38,0)")
                    .cast("double")
                )
                * F.lit(1e6)
                + F.lit(0.5)
            ).cast("bigint"),
        )
        .otherwise(F.lit(0).cast("bigint"))
        .alias("z_e6"),
    )
    a = zed.alias("a")
    b = zed.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.w") == F.col("b.w"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .select(
            F.col("a.source").alias("src_a"),
            F.col("b.source").alias("src_b"),
            F.abs(F.col("a.z_e6") - F.col("b.z_e6")).alias("dz"),
        )
        .groupBy("src_a", "src_b")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_words"),
            F.sum("dz").cast("bigint").alias("sdz"),
        )
    )
    return (
        pairs.select(
            "src_a",
            "src_b",
            "n_words",
            pround(
                F.col("sdz").cast("double")
                / (F.col("n_words").cast("double") * F.lit(1e6)),
                6,
            ).alias("delta"),
        )
        .orderBy("delta", "src_a", "src_b")
        .limit(10)
    )


#: F(4, ∞) 5% critical value — textbook literal (the Φ-table family);
#: the fixture's within-group dfs are large enough that the asymptotic
#: value is the operative threshold.
_F4_INF_5PCT = 2.372


@q("q_levene_bf")
def q_levene_bf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown-Forsythe (median-centered Levene) variance-homogeneity
    test across the five order priorities — the GATE one runs before
    trusting q_anova_f's equal-variance assumption.  Exactness: each
    group's exact doubled median comes from the distributed grouped
    rank (the q_exact_median_rank machinery per group — never a
    single-partition sort), the transformed values |2y − m2| are exact
    integers at the ×2 scale, and the one-way F on them builds from
    bigint/DECIMAL(38,0) power sums in fixed-order 5-term chains (the
    q_anova_f discipline), with the verdict against the literal
    F(4,∞) 5% critical value."""
    from functools import reduce

    from .operators.rank import grouped_rank

    pris = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    od = T(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("g"),
        F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5))
        .cast("bigint")
        .alias("y"),
    )
    ranked = grouped_rank(
        od,
        ["g"],
        [F.col("y"), F.col("g")],
        rank_col="r",
        total_col="n",
    )
    m2 = (
        ranked.filter(
            (F.col("r") * 2 == F.col("n"))
            | (F.col("r") * 2 == F.col("n") + 1)
            | (F.col("r") * 2 == F.col("n") + 2)
        )
        .groupBy("g")
        .agg(
            (F.sum("y") * 2 / F.count(F.lit(1)))
            .cast("bigint")
            .alias("m2")
        )
    )
    z = od.join(F.broadcast(m2), "g").select(
        "g", F.abs(F.col("y") * 2 - F.col("m2")).alias("z")
    )
    d19 = lambda c: c.cast("decimal(19,0)")  # noqa: E731
    aggs = []
    for j, p in enumerate(pris):
        hit = F.col("g") == p
        aggs += [
            F.sum(F.when(hit, 1).otherwise(0))
            .cast("bigint")
            .alias(f"n_{j}"),
            F.sum(F.when(hit, F.col("z")).otherwise(0))
            .cast("bigint")
            .alias(f"s_{j}"),
            F.sum(
                F.when(
                    hit, (d19(F.col("z")) * d19(F.col("z"))).cast(
                        "decimal(38,0)"
                    )
                ).otherwise(0)
            )
            .cast("decimal(38,0)")
            .alias(f"q_{j}"),
        ]
    one = z.agg(*aggs)
    k = len(pris)
    ns = [F.col(f"n_{j}") for j in range(k)]
    ss = [F.col(f"s_{j}") for j in range(k)]
    qs_ = [F.col(f"q_{j}") for j in range(k)]
    n_tot = reduce(lambda a, bb: a + bb, ns)
    s_tot = reduce(lambda a, bb: a + bb, ss)
    terms = [
        (d19(s_) * d19(s_)).cast("decimal(38,0)").cast("double")
        / n_.cast("double")
        for s_, n_ in zip(ss, ns)
    ]
    t_groups = reduce(lambda a, bb: a + bb, terms)
    q_tot = reduce(lambda a, bb: a + bb, qs_)
    grand = (d19(s_tot) * d19(s_tot)).cast("decimal(38,0)").cast(
        "double"
    ) / n_tot.cast("double")
    between = t_groups - grand
    within = q_tot.cast("double") - t_groups
    w_stat = (
        (n_tot - F.lit(k)).cast("double")
        / F.lit(float(k - 1))
        * between
        / within
    )
    return one.select(
        *[F.col(f"n_{j}") for j in range(k)],
        pround(w_stat, 6).alias("w_stat"),
        (w_stat > F.lit(_F4_INF_5PCT)).alias("heteroscedastic_5pct"),
    )


@q("q_dunn_posthoc")
def q_dunn_posthoc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dunn's post-hoc pairwise comparisons after Kruskal-Wallis, with
    Benjamini-Hochberg correction at q=0.05 — the follow-up that says
    WHICH priorities differ once q_kruskal_wallis says SOME do.  Same
    exact machinery: doubled tied rank sums per group from one
    range-partitioned cumsum, pairwise z from mean-rank differences
    with the tie-corrected variance as ONE fixed expression, p-values
    from the literal Φ table, and the BH step-up in cross-multiplied
    integers over the bounded 10-pair grain."""
    from .functions.normal import p_table_rows
    from .operators.rank import global_cumsum

    pris = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    od = T(spark, sf_dir, "orders")
    v = F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5)).cast(
        "bigint"
    )
    k = len(pris)
    g = (
        od.select(
            v.alias("v"),
            *[
                F.when(F.col("o_orderpriority") == p, 1)
                .otherwise(0)
                .alias(f"g{j}")
                for j, p in enumerate(pris)
            ],
        )
        .groupBy("v")
        .agg(
            *[
                F.sum(f"g{j}").cast("bigint").alias(f"c{j}")
                for j in range(k)
            ]
        )
        .withColumn("t", sum(F.col(f"c{j}") for j in range(k)))
    )
    cum = global_cumsum(g, [F.col("v")], "t", cum_col="cum")
    d38 = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    b = F.col("cum") - F.col("t")
    rank2 = 2 * b + F.col("t") + 1
    agg = cum.agg(
        *[
            F.sum(F.col(f"c{j}")).cast("bigint").alias(f"n{j}")
            for j in range(k)
        ],
        *[
            F.sum(d38(F.col(f"c{j}")) * d38(rank2))
            .cast("decimal(38,0)")
            .alias(f"r2_{j}")
            for j in range(k)
        ],
        F.sum(
            d38(F.col("t")) * d38(F.col("t")) * d38(F.col("t"))
            - d38(F.col("t"))
        )
        .cast("decimal(38,0)")
        .alias("tie3"),
    )
    # the 10 pair branches all read this 1-row frame — cut the lineage
    # so the fact-scan aggregation isn't re-expanded per pair
    agg = cut_lineage(agg)
    from functools import reduce

    nd = reduce(
        lambda a_, b_: a_ + b_, [F.col(f"n{j}") for j in range(k)]
    ).cast("double")
    base_var = nd * (nd + F.lit(1.0)) / F.lit(12.0) - F.col(
        "tie3"
    ).cast("double") / (F.lit(12.0) * (nd - F.lit(1.0)))
    pair_rows = []
    for i_ in range(k):
        for j_ in range(i_ + 1, k):
            mean_i = F.col(f"r2_{i_}").cast("double") / (
                F.lit(2.0) * F.col(f"n{i_}").cast("double")
            )
            mean_j = F.col(f"r2_{j_}").cast("double") / (
                F.lit(2.0) * F.col(f"n{j_}").cast("double")
            )
            zz = (mean_i - mean_j) / F.sqrt(
                base_var
                * (
                    F.lit(1.0) / F.col(f"n{i_}").cast("double")
                    + F.lit(1.0) / F.col(f"n{j_}").cast("double")
                )
            )
            pair_rows.append(
                agg.select(
                    F.lit(pris[i_]).alias("grp_a"),
                    F.lit(pris[j_]).alias("grp_b"),
                    zz.alias("z"),
                )
            )
    pairs = pair_rows[0]
    for p_ in pair_rows[1:]:
        pairs = pairs.unionByName(p_)
    ptab = F.broadcast(
        spark.createDataFrame(p_table_rows(), "zq int, p_e9 long")
    )
    scored = pairs.withColumn(
        "zq",
        F.least(
            F.lit(599),
            F.floor(F.abs(F.col("z")) * F.lit(100.0) + F.lit(0.5)),
        ).cast("int"),
    ).join(ptab, "zq")
    m = k * (k - 1) // 2
    wk = Window.orderBy("p_e9", "grp_a", "grp_b")  # bounded: 10 pairs
    ranked = scored.withColumn(
        "k", F.row_number().over(wk).cast("bigint")
    ).withColumn(
        "bh_ok",
        F.col("p_e9") * F.lit(m) * F.lit(20)
        <= F.col("k") * F.lit(10**9),
    )
    kstar = ranked.agg(
        F.max(F.when(F.col("bh_ok"), F.col("k")).otherwise(0))
        .cast("bigint")
        .alias("kstar")
    )
    return (
        ranked.crossJoin(F.broadcast(kstar))
        .select(
            "grp_a",
            "grp_b",
            pround(F.col("z"), 6).alias("z6"),
            "p_e9",
            "k",
            (F.col("k") <= F.col("kstar")).alias("rejected_5pct"),
        )
        .orderBy("k")
    )


@q("q_effect_sizes")
def q_effect_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Effect sizes for the URGENT-vs-LOW comparison — the magnitude
    companion the test family (q_ttest_welch / q_mannwhitney_u) needs:
    significance says a difference exists, Cohen's d and Cliff's delta
    say how big it is.  Exactness: d from bigint/DECIMAL(38,0) power
    sums in one fixed tree (pooled SD via IEEE-exact sqrt); Cliff's
    delta from EXACT pair counts — at the value grain, #(x>y) =
    Σ c₁(v)·cum₂(<v) and #(x<y) = Σ c₁(v)·(n₂ − cum₂(≤v)), both
    DECIMAL(38,0) sums over one range-partitioned cumsum — with one
    pinned division (never an all-pairs join)."""
    from .operators.rank import global_cumsum

    pri = F.col("o_orderpriority")
    od = T(spark, sf_dir, "orders").filter(
        pri.isin("1-URGENT", "5-LOW")
    )
    v = F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5)).cast(
        "bigint"
    )
    d19 = lambda c: c.cast("decimal(19,0)")  # noqa: E731
    g = (
        od.select(
            v.alias("v"),
            F.when(pri == "1-URGENT", 1).otherwise(0).alias("g1"),
            F.when(pri == "5-LOW", 1).otherwise(0).alias("g2"),
        )
        .groupBy("v")
        .agg(
            F.sum("g1").cast("bigint").alias("c1"),
            F.sum("g2").cast("bigint").alias("c2"),
        )
    )
    cum = global_cumsum(g, [F.col("v")], "c2", cum_col="cum2")
    d38 = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    agg = cum.agg(
        F.sum("c1").cast("bigint").alias("n1"),
        F.sum("c2").cast("bigint").alias("n2"),
        F.sum(d19(F.col("c1")) * d19(F.col("v")))
        .cast("decimal(38,0)")
        .alias("s1"),
        F.sum(d19(F.col("c2")) * d19(F.col("v")))
        .cast("decimal(38,0)")
        .alias("s2"),
        F.sum(
            d38(F.col("c1"))
            * (d19(F.col("v")) * d19(F.col("v"))).cast("decimal(38,0)")
        )
        .cast("decimal(38,0)")
        .alias("q1"),
        F.sum(
            d38(F.col("c2"))
            * (d19(F.col("v")) * d19(F.col("v"))).cast("decimal(38,0)")
        )
        .cast("decimal(38,0)")
        .alias("q2"),
        F.sum(d38(F.col("c1")) * d38(F.col("cum2") - F.col("c2")))
        .cast("decimal(38,0)")
        .alias("gt"),  # pairs where the URGENT value is larger
        F.sum(d38(F.col("c1")) * d38(F.col("c2")))
        .cast("decimal(38,0)")
        .alias("ties"),
    )
    n1d = F.col("n1").cast("double")
    n2d = F.col("n2").cast("double")
    m1 = F.col("s1").cast("double") / n1d
    m2 = F.col("s2").cast("double") / n2d
    ss1 = F.col("q1").cast("double") - m1 * F.col("s1").cast("double")
    ss2 = F.col("q2").cast("double") - m2 * F.col("s2").cast("double")
    sp = F.sqrt((ss1 + ss2) / (n1d + n2d - F.lit(2.0)))
    lt = (
        (d19(F.col("n1")) * d19(F.col("n2"))).cast("decimal(38,0)")
        - F.col("gt")
        - F.col("ties")
    ).cast("decimal(38,0)")
    delta = (F.col("gt") - lt).cast("double") / (
        n1d * n2d
    )
    return agg.select(
        "n1",
        "n2",
        F.col("gt").cast("bigint").alias("n_gt"),
        lt.cast("bigint").alias("n_lt"),
        F.col("ties").cast("bigint").alias("n_tie"),
        pround((m1 - m2) / sp, 6).alias("cohens_d"),
        pround(delta, 6).alias("cliffs_delta"),
    )


#: Anderson-Darling adjusted-statistic 5% critical value for normality
#: (Stephens 1974) — textbook literal.
_AD_CRIT_5PCT = 0.752


@q("q_anderson_darling")
def q_anderson_darling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anderson-Darling normality test on the daily value series — the
    distribution-fit gate in front of every normal-theory query
    (t/z/ANOVA/control charts), completing the nonparametric family
    with a goodness-of-fit member.  Φ comes from the literal p-table
    (Φ(z) = 1 − p/2 for z ≥ 0, p/2 otherwise — integer arithmetic on
    table values); each ln Φ / ln(1−Φ) is pinned to the ×1e6 grid so
    the (2i−1)-weighted A² sum is an ORDER-FREE integer add over the
    calendar-bounded day grain (the rank pairing i ↔ n+1−i is one
    bounded self-join); the small-sample adjustment and the verdict
    against the literal 0.752 critical value are fixed-tree doubles."""
    from .functions.normal import p_table_rows

    ev = T(spark, sf_dir, "events").select(
        F.datediff(
            F.to_date("ts"), F.lit("1970-01-01").cast("date")
        ).alias("d"),
        F.floor(F.col("value") * 100 + F.lit(0.5))
        .cast("bigint")
        .alias("vcents"),
    )
    daily = ev.groupBy("d").agg(F.sum("vcents").cast("bigint").alias("y"))
    d19 = lambda c: c.cast("decimal(19,0)")  # noqa: E731
    tot = daily.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("s"),
        F.sum((d19(F.col("y")) * d19(F.col("y"))).cast("decimal(38,0)"))
        .cast("decimal(38,0)")
        .alias("q"),
    )
    nd = F.col("n").cast("double")
    mean = F.col("s").cast("double") / nd
    sd = F.sqrt(
        (F.col("q").cast("double") - mean * F.col("s").cast("double"))
        / (nd - F.lit(1.0))
    )
    z = (F.col("y").cast("double") - mean) / sd
    wr = Window.orderBy("y", "d")  # bounded day grain
    ptab = F.broadcast(
        spark.createDataFrame(p_table_rows(), "zq int, p_e9 long")
    )
    ranked = (
        daily.crossJoin(F.broadcast(tot))
        .select(
            "d",
            "y",
            "n",
            z.alias("z"),
            F.least(
                F.lit(599),
                F.floor(F.abs(z) * F.lit(100.0) + F.lit(0.5)),
            )
            .cast("int")
            .alias("zq"),
        )
        .withColumn("i", F.row_number().over(wr).cast("bigint"))
        .join(ptab, "zq")
        .withColumn(
            "phi_e9",
            F.when(
                F.col("z") >= 0,
                F.lit(10**9) - F.expr("p_e9 div 2"),
            ).otherwise(F.expr("p_e9 div 2")),
        )
        .withColumn(
            "lnp_e6",
            F.floor(
                F.log(F.col("phi_e9").cast("double") / F.lit(1e9))
                * F.lit(1e6)
                + F.lit(0.5)
            ).cast("bigint"),
        )
        .withColumn(
            "lnq_e6",
            F.floor(
                F.log(
                    (F.lit(10**9) - F.col("phi_e9")).cast("double")
                    / F.lit(1e9)
                )
                * F.lit(1e6)
                + F.lit(0.5)
            ).cast("bigint"),
        )
    )
    # The rank pairing i ↔ n+1−i is an EQUI join on a precomputed mirror
    # key (n rides on every row via the broadcast tot, so n+1−i is a
    # per-row expression): the original theta form `i + rev_i == n+1`
    # planned a CartesianProduct — the structural ban of
    # tests/test_plans.py::test_no_query_plans_a_cartesian_product.
    rev = ranked.select(
        (F.col("n") + 1 - F.col("i")).alias("mirror_i"),
        F.col("lnq_e6").alias("lnq_rev_e6"),
    )
    paired = ranked.join(rev, ranked.i == rev.mirror_i).drop("mirror_i")
    agg = paired.agg(
        F.first("n").alias("n"),
        F.sum(
            (2 * F.col("i") - 1)
            * (F.col("lnp_e6") + F.col("lnq_rev_e6"))
        )
        .cast("bigint")
        .alias("wsum_e6"),
    )
    nd2 = F.col("n").cast("double")
    a2 = -nd2 - (
        F.col("wsum_e6").cast("double") / (nd2 * F.lit(1e6))
    )
    a2_star = a2 * (
        F.lit(1.0)
        + F.lit(0.75) / nd2
        + F.lit(2.25) / (nd2 * nd2)
    )
    return agg.select(
        "n",
        "wsum_e6",
        pround(a2, 6).alias("a2"),
        pround(a2_star, 6).alias("a2_star"),
        (a2_star > F.lit(_AD_CRIT_5PCT)).alias("non_normal_5pct"),
    )


# Register the TPC-H query set (module imports back into this registry).
from . import tpch  # noqa: E402,F401  (import side effect: @q registration)
