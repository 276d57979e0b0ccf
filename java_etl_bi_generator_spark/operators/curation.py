"""Corpus-curation rules, one definition each.

The flagship pipeline (``examples/llm_corpus_pipeline.py``) and the
registry queries call the same functions, so every pipeline stage built
here is checked against the DuckDB oracle through the queries that share
it:

- ``lang_hits`` / ``lang_pred``: stopword language vote (q_lang_id,
  q_langid_confusion, q_class_prf1, q_cohens_kappa).
- ``gopher_measures`` / ``gopher_rules`` / ``gopher_keep``: the Gopher
  rule bundle (q_gopher_quality_rules, q_curation_funnel).
- ``split_bucket``: the md5 split bucket of a document (q_corpus_sample,
  q_split_assign, q_stratified_sample, q_contamination_check,
  q_ngram_novelty, q_decontaminate_ngrams, q_curation_funnel).
- ``decontam_grams`` / ``ngram_hits``: the 5-gram decontamination probe
  (q_decontaminate_ngrams, q_curation_funnel).
- ``dsir_scores``: DSIR hashed-bucket importance selection
  (q_dsir_weights).
- ``mixing_weights``: cap-to-uniform domain mixing
  (q_domain_mixing_weights).
- ``temperature_shares``: alpha = 0.7 language temperature sampling
  (q_language_temperature_sampling).
- ``pack_sequences``: two-phase 512-token sequence packing
  (q_pack_sequences).

Expression rules take the caller's tokens column: one shared
``tokens()`` column keeps the generated code small (see
``token_count_of``).  The two report functions take the grouped token
frame, not the documents.  No function here pins its result, except
``dsir_scores``, whose token-bucket frame feeds both the bucket model
and the per-document fold; the callers choose every other cut.
"""

from __future__ import annotations

import functools
import operator

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

from ..functions.sampling import h32
from ..functions.text import (
    STOPWORDS_EN,
    punct_count,
    stopword_count_of,
    token_count_of,
    tokens,
    word_shingles,
)
from ..lineage import cut_lineage

STOPWORDS_PT = ("de", "a", "o", "que", "e", "do", "da", "em", "um", "para")
STOPWORDS_ES = ("de", "la", "que", "el", "en", "y", "a", "los", "se", "del")

DECONTAM_N = 5  # shingle width of the decontamination probe
DSIR_BUCKETS = 1024
DSIR_TARGET = "src7"
TEMPERATURE_ALPHA = 0.7
PACK_BIN_TOKENS = 512
PACK_BUCKET_IDS = 1000  # doc-id span of one in-bucket running sum


def lang_hits(toks: Column) -> list[Column]:
    """Stopword hits of the tokens in ``toks`` for en, pt and es."""
    return [
        stopword_count_of(toks, words)
        for words in (STOPWORDS_EN, STOPWORDS_PT, STOPWORDS_ES)
    ]


def lang_pred(toks: Column) -> Column:
    """The language with the most stopword hits; ties go to en, then pt."""
    en, pt, es = lang_hits(toks)
    return (
        F.when((en >= pt) & (en >= es), "en")
        .when(pt >= es, "pt")
        .otherwise("es")
    )


def gopher_measures(toks: Column) -> list[Column]:
    """The per-document counts the Gopher rules read (n_words,
    sum_word_chars, n_stop, n_symbols, n_alpha_words), as bigint columns
    over ``text`` and its tokens ``toks``."""
    return [
        token_count_of(toks).cast("bigint").alias("n_words"),
        F.length(F.regexp_replace(F.col("text"), r"\s", "")).cast("bigint")
        .alias("sum_word_chars"),
        stopword_count_of(toks).cast("bigint").alias("n_stop"),
        punct_count("text").cast("bigint").alias("n_symbols"),
        F.size(F.filter(toks, lambda x: x.rlike("[A-Za-z]")))
        .cast("bigint").alias("n_alpha_words"),
    ]


def gopher_rules() -> dict[str, Column]:
    """The Gopher rule bundle (Rae et al. 2021 §A1.1.2, thresholds
    adapted to the fixture corpus) over the ``gopher_measures`` columns,
    by name.  All integer arithmetic; the mean word length bounds are
    cross-multiplied (3n <= chars <= 10n)."""
    n = F.col("n_words")
    chars = F.col("sum_word_chars")
    return {
        "ok_word_count": (n >= 30) & (n <= 100000),
        "ok_mean_word_len": (chars >= 3 * n) & (chars <= 10 * n),
        "ok_stopwords": F.col("n_stop") >= 2,
        "ok_symbol_ratio": 10 * F.col("n_symbols") <= n,
        "ok_alpha_words": 10 * F.col("n_alpha_words") >= 8 * n,
    }


def gopher_keep() -> Column:
    """True where every Gopher rule holds."""
    return functools.reduce(operator.and_, gopher_rules().values())


def split_bucket() -> Column:
    """A document's split bucket in [0, 100): the first 16 bits of
    md5(doc_id) mod 100, so split membership is stable under re-runs,
    reshuffles and appends.  The 80/20 train/heldout splits cut it at
    80."""
    h = F.md5(F.col("doc_id").cast("string"))
    return F.conv(F.substring(h, 1, 4), 16, 10).cast("bigint") % 100


def decontam_grams() -> Column:
    """The distinct 5-word shingles of ``text``."""
    return F.array_distinct(word_shingles("text", DECONTAM_N))


def ngram_hits(grams: DataFrame, probe: Column, reference: Column) -> DataFrame:
    """(doc_id, n_hit) for each document of the ``probe`` rows that
    shares a shingle with the ``reference`` rows; n_hit counts its
    shingles found there.  ``grams`` holds one (doc_id, g, ...) row per
    distinct shingle of a document.  The reference shingle set is one
    partial-aggregate shuffle and the probe a shuffle-on-shingle left
    semi join, never a broadcast: the shingle set grows with the
    corpus."""
    ref = grams.filter(reference).select("g").distinct()
    return (
        grams.filter(probe)
        .select("doc_id", "g")
        .join(ref, "g", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )


def dsir_scores(docs: DataFrame) -> DataFrame:
    """DSIR importance scores [Xie et al. 2023] of ``docs`` (doc_id,
    source, text): (doc_id, source, n_tokens, s6, selected).

    Tokens hash into 1024 buckets with the portable md5 ``h32``, so both
    feature models have at most 1024 rows (broadcastable at any
    vocabulary size).  The target model is the src7 feed, the raw model
    all of ``docs``, both add-one smoothed over the buckets.  Each
    bucket's ln ratio is pinned to x1e6 micro-units on the model frame,
    so ``s6``, a document's summed ratio, is order-free integer
    addition.  ``selected`` is a per-token log-weight above the corpus
    average (DSIR selects by rank: with a small target the smoothing
    makes every ratio negative), tested by the exact cross-multiplication
    s6 * T_tokens > S_total * n_tokens."""
    tb = cut_lineage(
        docs.select("doc_id", "source", F.explode(tokens("text")).alias("tok"))
        .select(
            "doc_id",
            "source",
            (h32(F.col("tok")) % F.lit(DSIR_BUCKETS)).alias("b"),
        )
    )  # the bucket model and the per-doc fold both read it
    is_tgt = F.when(F.col("source") == DSIR_TARGET, 1).otherwise(0)
    model = tb.groupBy("b").agg(
        F.sum(is_tgt).cast("bigint").alias("c_tgt"),
        F.count(F.lit(1)).cast("bigint").alias("c_raw"),
    )
    scalars = tb.agg(
        F.sum(is_tgt).cast("bigint").alias("t_tgt"),
        F.count(F.lit(1)).cast("bigint").alias("t_raw"),
    )

    def ln6(c: str, t: str) -> Column:
        smoothed = (F.col(c).cast("double") + F.lit(1.0)) / (
            F.col(t).cast("double") + F.lit(float(DSIR_BUCKETS))
        )
        return F.floor(F.log(smoothed) * 1000000 + F.lit(0.5)).cast("bigint")

    ratios = model.crossJoin(F.broadcast(scalars)).select(
        "b", (ln6("c_tgt", "t_tgt") - ln6("c_raw", "t_raw")).alias("lr6")
    )
    per_doc = (
        tb.join(F.broadcast(ratios), "b")
        .groupBy("doc_id", "source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.sum("lr6").cast("bigint").alias("s6"),
        )
    )
    corpus = per_doc.agg(
        F.sum("s6").cast("bigint").alias("s_total"),
        F.sum("n_tokens").cast("bigint").alias("t_tokens"),
    )

    def wide(c: str) -> Column:
        return F.col(c).cast("decimal(38,0)")

    return per_doc.crossJoin(F.broadcast(corpus)).select(
        "doc_id",
        "source",
        "n_tokens",
        "s6",
        (wide("s6") * wide("t_tokens") > wide("s_total") * wide("n_tokens"))
        .alias("selected"),
    )


def mixing_weights(per_src: DataFrame) -> DataFrame:
    """Cap-to-uniform data-mixing weights: ``per_src`` (one row per
    source with a ``tokens`` count) plus ``natural_share`` = tokens /
    total and ``mix_weight`` = min(1, target / tokens), target = total /
    n_sources.  An over-represented source is downsampled to the uniform
    share; an under-represented one keeps weight 1 (capping, not
    upsampling).  The totals are windows over the whole source-grain
    frame: one exchange of a handful of rows, and ``per_src`` is derived
    once."""
    every = Window.partitionBy()  # one row per source, never documents
    n_tok = F.col("tokens").cast("double")
    total = F.sum("tokens").over(every).cast("double")
    target = total / F.count(F.lit(1)).over(every).cast("double")
    return per_src.select(
        "*",
        (n_tok / total).alias("natural_share"),
        F.when(n_tok > target, target / n_tok)
        .otherwise(F.lit(1.0))
        .alias("mix_weight"),
    )


def temperature_shares(per_lang: DataFrame) -> DataFrame:
    """Temperature sampling [Conneau & Lample 2019, XLM §3.1]:
    ``per_lang`` (one row per language with a ``tokens`` count) plus
    ``natural_share`` p = tokens / total and ``temperature_share`` q
    proportional to p^0.7.  ln(p) is pinned to the x1e6 micro grid
    before the exp, and the weight is pinned to micro units again before
    the normalizing sum, so the denominator is integer addition.  Both
    sums are windows over the whole language-grain frame, as in
    ``mixing_weights``."""
    every = Window.partitionBy()  # one row per language, never documents
    p = F.col("tokens").cast("double") / F.sum("tokens").over(every).cast(
        "double"
    )
    l6 = F.floor(F.log(p) * F.lit(1e6) + F.lit(0.5)).cast("bigint")
    w6 = F.floor(
        F.exp(F.lit(TEMPERATURE_ALPHA) * (l6.cast("double") / F.lit(1e6)))
        * F.lit(1e6)
        + F.lit(0.5)
    ).cast("bigint")
    scored = per_lang.select("*", p.alias("natural_share"), w6.alias("w6"))
    return scored.select(
        *per_lang.columns,
        "natural_share",
        (F.col("w6").cast("double") / F.sum("w6").over(every).cast("double"))
        .alias("temperature_share"),
    )


def pack_sequences(docs: DataFrame, *keys: str) -> DataFrame:
    """Contiguous sequence packing of ``docs`` (doc_id, text, keys):
    within each ``keys`` group (one stream when there are none), in
    doc_id order, bin_id = (cumulative tokens - own tokens) div 512.
    Returns (keys, doc_id, n_tok, bin_id).

    The prefix sum is distributed, a two-phase scan: doc-id range
    buckets carry in-bucket running sums in parallel, a bucket-grain
    offset table cumulates the bucket totals, and a broadcast join adds
    the offsets.  A data-grain ``Window.orderBy`` would pull every
    document into one partition."""
    d = docs.select(
        *keys, "doc_id", token_count_of(tokens("text")).alias("n_tok")
    ).withColumn(
        "bucket", (F.col("doc_id") / F.lit(PACK_BUCKET_IDS)).cast("bigint")
    )
    upto_here = (Window.unboundedPreceding, Window.currentRow)
    in_w = (
        Window.partitionBy(*keys, "bucket")
        .orderBy("doc_id")
        .rowsBetween(*upto_here)
    )
    within = d.withColumn("in_cum", F.sum("n_tok").over(in_w))
    totals = d.groupBy(*keys, "bucket").agg(F.sum("n_tok").alias("btot"))
    off_w = Window.partitionBy(*keys).orderBy("bucket").rowsBetween(*upto_here)
    offsets = totals.select(
        *keys,
        "bucket",
        (F.sum("btot").over(off_w) - F.col("btot")).alias("offset"),
    )
    return within.join(F.broadcast(offsets), [*keys, "bucket"]).select(
        *keys,
        "doc_id",
        "n_tok",
        (
            (F.col("offset") + F.col("in_cum") - F.col("n_tok"))
            / F.lit(PACK_BIN_TOKENS)
        ).cast("bigint").alias("bin_id"),
    )
