#!/usr/bin/env python
"""FLAGSHIP demo (VERDICT r8 task 6): the real LLM-corpus curation chain
end-to-end, every stage the registry's own operator, with row-count
reconciliation printed per stage — the pipeline a pretraining data team
runs between a crawl and the tokenizer:

  0. ingest          parquet corpus + a raw-file side channel read with
                     spark.read.format("binaryFile") (q_binaryfile_ingest
                     plumbing), cross-source exact-id dedup on union
  1. lang-id         stopword-hit heuristic, keep predicted English
                     (q_lang_id)
  2. Gopher gates    word-count / mean-word-length / stopword / symbol /
                     alpha rules, integer arithmetic (q_gopher_quality_rules)
  3. exact dedup     sha-256 content hash, keep min doc_id (q_dedup_exact)
  4. near dedup      MinHash+LSH candidates -> connected components ->
                     one doc per cluster (q_dedup_near_clusters)
  5. decontamination 5-gram overlap against the heldout split: any train
                     doc sharing a shingle with eval is dropped
                     (q_decontaminate_ngrams, pointed train-ward)
  6. temporal split  70/85 span boundaries on the ingestion clock
                     (doc_id — the fixture carries no document timestamp),
                     with the q_temporal_split audit shape
  7. domain mixing   per-source token mass -> cap-to-uniform weights
                     (q_domain_mixing_weights)
  7b. DSIR selection importance weights over 1024 hashed feature
                     buckets vs the src7 target, keep above-average
                     docs by exact integer cross-multiplication
                     (q_dsir_weights)
  7c. temperature    per-language alpha=0.7 sampling shares printed
                     (q_language_temperature_sampling)
  8. pack sequences  distributed prefix-sum packing into 512-token bins
                     (q_pack_sequences), written per split

Run::

    python examples/llm_corpus_pipeline.py [sf_dir] [output_dir]

Defaults: /root/testdata/sf0.01 -> a temp dir.  Every stage is a
DataFrame transformation over the same operators the declared queries
hash-check, so the demo inherits their verification; the printed funnel
is the reconciliation a production run logs.  At 100 TB nothing here is
pairwise or single-partition: LSH buckets bound the near-dup candidates,
the shingle probe is a shuffle-on-shingle semi-join, and packing uses
the two-phase distributed prefix sum.

One pin per counted stage: every stage a later stage reads is cut with
a LAZY ``cut_lineage`` right before its funnel count, so the count
materializes the stage once and everything downstream reads the pinned
rows instead of re-running ingest, tokenization, the gates and both
dedups from the source at every count.  The lang-id count is a single
filter over the union pin and needs none (its rows are pinned with the
Gopher gates).  An eager cut there would only add one job per stage:
its own count, before the funnel's.
"""

from __future__ import annotations

import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyspark.sql.functions as F

from java_etl_bi_generator_spark.catalog import load_table
from java_etl_bi_generator_spark.functions.text import (
    STOPWORDS_EN,
    punct_count,
    stopword_count_of,
    token_count_of,
    tokens,
    word_shingles,
)
from java_etl_bi_generator_spark.lineage import cut_lineage
from java_etl_bi_generator_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_dup_clusters,
)
from java_etl_bi_generator_spark.session import get_spark


def run(spark, sf_dir: str, out_dir: str) -> dict[str, int]:
    funnel: dict[str, int] = {}

    # -- 0. ingest: parquet corpus + raw-file side channel ---------------
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "source"
    )
    funnel["ingest_parquet"] = docs.count()

    # no leading "_": Spark's file index treats such paths as hidden
    raw_dir = os.path.join(out_dir, "raw_drop")
    os.makedirs(raw_dir, exist_ok=True)
    for r in docs.orderBy("doc_id").limit(16).collect():  # 16-file fixture
        with open(os.path.join(raw_dir, f"doc_{r['doc_id']:08d}.txt"), "w") as f:
            f.write(r["text"] or "")
    raw = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.txt")
        .load(raw_dir)
        .select(
            F.regexp_extract(
                F.element_at(F.split("path", "/"), -1), r"doc_(\d+)", 1
            ).cast("bigint").alias("doc_id"),
            F.col("content").cast("string").alias("text"),
            F.lit("raw_drop").alias("source"),
        )
    )
    funnel["ingest_rawfiles"] = raw.count()
    # cross-source id dedup: parquet wins (anti-join the raw side)
    docs = cut_lineage(
        docs.unionByName(
            raw.join(docs.select("doc_id"), "doc_id", "left_anti")
        ),
        eager=False,
    )
    funnel["after_union_dedup"] = docs.count()

    docs = docs.filter(F.trim(F.col("text")) != "").withColumn(
        "__toks", tokens("text")
    )

    # -- 1. lang-id gate (q_lang_id heuristic) ---------------------------
    toks = F.col("__toks")
    en = stopword_count_of(toks, STOPWORDS_EN)
    pt = stopword_count_of(
        toks, ("de", "a", "o", "que", "e", "do", "da", "em", "um", "para")
    )
    es = stopword_count_of(
        toks, ("de", "la", "que", "el", "en", "y", "a", "los", "se", "del")
    )
    docs = docs.filter((en >= pt) & (en >= es))
    funnel["after_lang_id"] = docs.count()

    # -- 2. Gopher quality gates (q_gopher_quality_rules) ----------------
    n_words = token_count_of(toks).cast("bigint")
    sum_chars = F.length(F.regexp_replace(F.col("text"), r"\s", "")).cast(
        "bigint"
    )
    n_stop = stopword_count_of(toks).cast("bigint")
    n_sym = punct_count("text").cast("bigint")
    n_alpha = (
        F.size(F.filter(toks, lambda x: x.rlike("[A-Za-z]"))).cast("bigint")
    )
    docs = cut_lineage(
        docs.filter(
            (n_words >= 30) & (n_words <= 100000)
            & (sum_chars >= 3 * n_words) & (sum_chars <= 10 * n_words)
            & (n_stop >= 2)
            & (10 * n_sym <= n_words)
            & (10 * n_alpha >= 8 * n_words)
        ),
        eager=False,
    )
    funnel["after_gopher_gates"] = docs.count()

    # -- 3. exact dedup (q_dedup_exact) -----------------------------------
    docs = cut_lineage(exact_dedup(docs, "text", "doc_id"), eager=False)
    funnel["after_exact_dedup"] = docs.count()

    # -- 4. near dedup (q_dedup_near_clusters: keep cluster min) ----------
    clusters = minhash_lsh_dup_clusters(
        docs.select("doc_id", "text"), "text", "doc_id"
    )  # -> (node, component), component = min node id
    losers = clusters.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias("doc_id")
    )
    docs = cut_lineage(docs.join(losers, "doc_id", "left_anti"), eager=False)
    funnel["after_near_dedup"] = docs.count()

    # -- 5. + 6. split on the ingestion clock, then decontaminate --------
    # 70/85 boundaries over the observed doc_id span (q_temporal_split
    # shape; the fixture has no document timestamp, so ingestion order
    # is the clock).
    bounds = docs.agg(
        F.min("doc_id").alias("mn"), F.max("doc_id").alias("mx")
    ).select(
        F.expr("mn + ((mx - mn) * 7) div 10").alias("b1"),
        F.expr("mn + ((mx - mn) * 17) div 20").alias("b2"),
    )
    docs = docs.join(F.broadcast(bounds)).withColumn(
        "split",
        F.when(F.col("doc_id") < F.col("b1"), "train")
        .when(F.col("doc_id") < F.col("b2"), "val")
        .otherwise("test"),
    ).drop("b1", "b2")

    # decontamination (q_decontaminate_ngrams, pointed train-ward):
    # drop any TRAIN doc sharing a 5-gram shingle with val/test.
    grams = cut_lineage(
        docs.repartition("doc_id").select(
            "doc_id", "split",
            F.array_distinct(word_shingles("text", 5)).alias("grams"),
        )
    )
    eval_grams = (
        grams.filter(F.col("split") != "train")
        .select(F.explode("grams").alias("g"))
        .distinct()
    )
    contaminated = (
        grams.filter(F.col("split") == "train")
        .select("doc_id", F.explode("grams").alias("g"))
        .join(eval_grams, "g", "left_semi")
        .select("doc_id")
        .distinct()
    )
    docs = cut_lineage(
        docs.join(contaminated, "doc_id", "left_anti"), eager=False
    )
    funnel["after_decontamination"] = docs.count()

    # -- 7. domain mixing weights (q_domain_mixing_weights) ---------------
    per_src = docs.groupBy("source").agg(
        F.sum(token_count_of(tokens("text"))).cast("bigint").alias("tokens"),
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
    )
    tot = per_src.agg(
        F.sum("tokens").cast("bigint").alias("total_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("n_sources"),
    )
    target = F.col("total_tokens").cast("double") / F.col("n_sources").cast(
        "double"
    )
    mix = per_src.join(F.broadcast(tot)).select(
        "source", "n_docs", "tokens",
        F.when(
            F.col("tokens").cast("double") > target,
            target / F.col("tokens").cast("double"),
        ).otherwise(F.lit(1.0)).alias("mix_weight"),
    )
    print("\ndomain mixing weights:")
    for r in mix.orderBy("source").collect():
        print(f"  {r['source']:<16s} docs={r['n_docs']:<8d} "
              f"tokens={r['tokens']:<10d} w={r['mix_weight']:.4f}")

    # -- 7b. DSIR importance selection (q_dsir_weights) -------------------
    # hashed-bucket importance ratios vs the src7 target; keep docs whose
    # per-token log-weight beats the corpus average (exact bigint
    # cross-multiplication, no float threshold).  Both bucket models are
    # <=1024 rows — broadcastable at any corpus size.
    h32 = lambda c: (  # noqa: E731
        F.conv(F.substring(F.md5(c), 1, 8), 16, 10).cast("bigint")
    )
    tb = cut_lineage(
        docs.select("doc_id", "source", F.explode(tokens("text")).alias("t"))
        .select("doc_id", "source", (h32(F.col("t")) % 1024).alias("b"))
    )
    is_tgt = F.when(F.col("source") == "src7", 1).otherwise(0)
    bmodel = tb.groupBy("b").agg(
        F.sum(is_tgt).cast("bigint").alias("c_tgt"),
        F.count(F.lit(1)).cast("bigint").alias("c_raw"),
    )
    bscal = tb.agg(
        F.sum(is_tgt).cast("bigint").alias("t_tgt"),
        F.count(F.lit(1)).cast("bigint").alias("t_raw"),
    )
    lp = lambda c, t: F.floor(  # noqa: E731
        F.log((c.cast("double") + 1.0) / (t.cast("double") + 1024.0))
        * 1000000 + F.lit(0.5)
    ).cast("bigint")
    lr = bmodel.crossJoin(F.broadcast(bscal)).select(
        "b",
        (lp(F.col("c_tgt"), F.col("t_tgt"))
         - lp(F.col("c_raw"), F.col("t_raw"))).alias("lr6"),
    )
    per_doc = (
        tb.join(F.broadcast(lr), "b")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tok"),
            F.sum("lr6").cast("bigint").alias("s6"),
        )
    )
    cavg = per_doc.agg(
        F.sum("s6").cast("bigint").alias("s_total"),
        F.sum("n_tok").cast("bigint").alias("t_tokens"),
    )
    keep = (
        per_doc.crossJoin(F.broadcast(cavg))
        .filter(
            F.col("s6").cast("decimal(38,0)")
            * F.col("t_tokens").cast("decimal(38,0)")
            > F.col("s_total").cast("decimal(38,0)")
            * F.col("n_tok").cast("decimal(38,0)")
        )
        .select("doc_id")
    )
    docs = cut_lineage(docs.join(keep, "doc_id", "left_semi"), eager=False)
    funnel["after_dsir_selection"] = docs.count()

    # -- 7c. language temperature sampling report (alpha = 0.7) ----------
    lang = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    per_lang = (
        docs.join(lang, "doc_id", "left")
        .groupBy("lang")
        .agg(F.sum(token_count_of(tokens("text"))).cast("bigint")
             .alias("tokens"))
    )
    ltot = per_lang.agg(F.sum("tokens").cast("bigint").alias("tt"))
    pj = per_lang.join(F.broadcast(ltot))
    pcol = F.col("tokens").cast("double") / F.col("tt").cast("double")
    w6 = F.floor(
        F.exp(F.lit(0.7) * (
            F.floor(F.log(pcol) * 1e6 + F.lit(0.5)).cast("bigint")
            .cast("double") / F.lit(1e6)
        )) * 1e6 + F.lit(0.5)
    ).cast("bigint")
    wl = pj.select("lang", "tokens", pcol.alias("p"), w6.alias("w6"))
    sw = wl.agg(F.sum("w6").cast("bigint").alias("sw6"))
    print("\nlanguage temperature sampling (alpha=0.7):")
    for r in (
        wl.join(F.broadcast(sw))
        .select(
            "lang", "tokens", "p",
            (F.col("w6").cast("double") / F.col("sw6").cast("double"))
            .alias("q"),
        )
        .orderBy("lang")
        .collect()
    ):
        print(f"  {r['lang'] or '??':<6s} tokens={r['tokens']:<10d} "
              f"p={r['p']:.4f} q={r['q']:.4f} boost={r['q']/r['p']:.3f}")

    # -- 8. pack sequences per split (q_pack_sequences) -------------------
    d = docs.select(
        "split", "doc_id", token_count_of(tokens("text")).alias("n_tok")
    ).withColumn("bucket", (F.col("doc_id") / F.lit(1000)).cast("bigint"))
    from pyspark.sql import Window

    in_w = (
        Window.partitionBy("split", "bucket")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    within = d.withColumn("in_cum", F.sum("n_tok").over(in_w))
    totals = d.groupBy("split", "bucket").agg(F.sum("n_tok").alias("btot"))
    off_w = (
        Window.partitionBy("split")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    offsets = totals.select(
        "split", "bucket",
        (F.sum("btot").over(off_w) - F.col("btot")).alias("offset"),
    )
    packed = within.join(F.broadcast(offsets), ["split", "bucket"]).select(
        "split", "doc_id", "n_tok",
        ((F.col("offset") + F.col("in_cum") - F.col("n_tok")) / F.lit(512))
        .cast("bigint").alias("bin_id"),
    )
    out_path = os.path.join(out_dir, "packed")
    packed.write.mode("overwrite").partitionBy("split").parquet(out_path)
    funnel["packed_rows"] = spark.read.parquet(out_path).count()
    funnel["packed_bins"] = (
        spark.read.parquet(out_path).select("split", "bin_id").distinct()
        .count()
    )

    print("\nfunnel reconciliation:")
    for stage, n in funnel.items():
        print(f"  {stage:<24s} {n}")
    return funnel


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    out_dir = (
        sys.argv[2]
        if len(sys.argv) > 2
        else tempfile.mkdtemp(prefix="llm_corpus_")
    )
    spark = get_spark(app_name="llm_corpus_pipeline")
    funnel = run(spark, sf_dir, out_dir)
    assert funnel["packed_rows"] > 0
    assert funnel["after_decontamination"] <= funnel["after_near_dedup"]
    print(f"\noutput: {out_dir}/packed (partitioned by split)")


if __name__ == "__main__":
    main()
