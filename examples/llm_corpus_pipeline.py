#!/usr/bin/env python
"""Flagship demo: the LLM-corpus curation chain end to end, with
row-count reconciliation printed per stage — the pipeline a pretraining
data team runs between a crawl and the tokenizer.  Each stage calls a
shared function, and a registry query that calls the same function is
hash-checked against the DuckDB oracle:

  0. ingest          parquet corpus + a raw-file side channel read with
                     spark.read.format("binaryFile") (q_binaryfile_ingest
                     plumbing), cross-source exact-id dedup on union
  1. lang-id         curation.lang_pred, keep predicted English
                     (q_lang_id)
  2. Gopher gates    curation.gopher_measures / gopher_keep, integer
                     arithmetic (q_gopher_quality_rules)
  3. exact dedup     dedup.exact_dedup: sha-256 content hash, keep min
                     doc_id (q_dedup_exact)
  4. near dedup      dedup.minhash_lsh_dup_clusters: MinHash+LSH
                     candidates -> connected components -> one doc per
                     cluster (q_dedup_near_clusters)
  5. decontamination curation.ngram_hits over decontam_grams: any train
                     doc sharing a 5-gram shingle with val/test is
                     dropped (q_decontaminate_ngrams, pointed train-ward)
  6. temporal split  70/85 span boundaries on the ingestion clock
                     (doc_id — the fixture carries no document timestamp),
                     with the q_temporal_split audit shape
  7. domain mixing   curation.mixing_weights over per-source token counts,
                     printed (q_domain_mixing_weights)
  7b. DSIR selection curation.dsir_scores: keep the docs it selects
                     (q_dsir_weights)
  7c. temperature    curation.temperature_shares over per-language token
                     counts, printed (q_language_temperature_sampling)
  8. pack sequences  curation.pack_sequences per split, 512-token bins
                     (q_pack_sequences), written partitioned by split

Run::

    python examples/llm_corpus_pipeline.py [sf_dir] [output_dir]

Defaults: /root/testdata/sf0.01 -> a temp dir.  The printed funnel is
the reconciliation a production run logs.  At 100 TB nothing here is
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
from java_etl_bi_generator_spark.functions.text import token_count_of, tokens
from java_etl_bi_generator_spark.lineage import cut_lineage
from java_etl_bi_generator_spark.operators.curation import (
    decontam_grams,
    dsir_scores,
    gopher_keep,
    gopher_measures,
    lang_pred,
    mixing_weights,
    ngram_hits,
    pack_sequences,
    temperature_shares,
)
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

    # -- 1. lang-id gate (q_lang_id) -------------------------------------
    toks = F.col("__toks")
    docs = docs.filter(lang_pred(toks) == "en")
    funnel["after_lang_id"] = docs.count()

    # -- 2. Gopher quality gates (q_gopher_quality_rules) ----------------
    docs = cut_lineage(
        docs.select("*", *gopher_measures(toks))
        .filter(gopher_keep())
        .select(*docs.columns),
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
            "doc_id", "split", decontam_grams().alias("grams")
        )
    )
    contaminated = ngram_hits(
        grams.select("doc_id", "split", F.explode("grams").alias("g")),
        probe=F.col("split") == "train",
        reference=F.col("split") != "train",
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
    mix = mixing_weights(per_src)
    print("\ndomain mixing weights:")
    for r in mix.orderBy("source").collect():
        print(f"  {r['source']:<16s} docs={r['n_docs']:<8d} "
              f"tokens={r['tokens']:<10d} w={r['mix_weight']:.4f}")

    # -- 7b. DSIR importance selection (q_dsir_weights) -------------------
    # keep docs whose per-token log-weight beats the corpus average
    keep = dsir_scores(docs).filter("selected").select("doc_id")
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
    print("\nlanguage temperature sampling (alpha=0.7):")
    for r in temperature_shares(per_lang).orderBy("lang").collect():
        p, q = r["natural_share"], r["temperature_share"]
        print(f"  {r['lang'] or '??':<6s} tokens={r['tokens']:<10d} "
              f"p={p:.4f} q={q:.4f} boost={q/p:.3f}")

    # -- 8. pack sequences per split (q_pack_sequences) -------------------
    packed = pack_sequences(docs, "split")
    out_path = os.path.join(out_dir, "packed")
    packed.write.mode("overwrite").partitionBy("split").parquet(out_path)
    written = spark.read.parquet(out_path).agg(
        F.count(F.lit(1)).alias("rows"),
        F.count_distinct("split", "bin_id").alias("bins"),
    ).first()
    funnel["packed_rows"] = written["rows"]
    funnel["packed_bins"] = written["bins"]

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
