#!/usr/bin/env python
"""End-to-end training-corpus curation on this engine (north-star surface;
BASELINE.json) — the pipeline an LLM data team runs before tokenization:

  1. exact dedup          (sha256 content hash, keep min doc_id)
  2. near-dup pruning     (MinHash+LSH candidates -> connected components
                           -> keep one doc per cluster)
  2b. passage cut         (cross-document duplicated >= 8-token spans
                           removed from the survivors; each passage stays
                           alive in its min-id document; docs left empty
                           by the cut are dropped — the substring-dedup
                           fix step)
  3. quality + language   (heuristic score >= 0.3, predicted English)
  4. split assignment     (deterministic md5-bucket 80/10/10 train/val/test)
  5. write                (parquet partitioned by split — each split is a
                           self-contained directory for the trainer)

Run::

    python examples/corpus_curation.py [sf_dir] [output_dir]

Defaults: /root/testdata/sf0.01 -> /tmp/corpus_out.  Every step is a
DataFrame transformation — the same script distributes unchanged on a
cluster; at 100 TB the LSH signature table and the cluster map are the
only shuffles wider than the corpus scan.
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
    quality_score,
    stopword_count_of,
    tokens,
)
from java_etl_bi_generator_spark.lineage import cut_lineage
from java_etl_bi_generator_spark.operators.curation import split_bucket
from java_etl_bi_generator_spark.operators.dedup import (
    cut_passages,
    duplicated_passages,
    exact_dedup,
    minhash_lsh_dup_clusters,
)
from java_etl_bi_generator_spark.session import get_spark


def curate(spark, sf_dir: str, out_dir: str) -> dict[str, int]:
    docs = load_table(spark, sf_dir, "documents")
    n0 = docs.count()

    # 1. exact dedup
    docs = exact_dedup(docs, "text", "doc_id")
    n1 = docs.count()

    # 2. near-dup pruning: LSH star-edge clusters -> keep min id per
    #    cluster (every non-representative member is dropped).  Star
    #    edges, not materialized candidate pairs: pair enumeration is
    #    |bucket|^2 and goes quadratic on boilerplate mega-clusters
    #    (measured in SCALING.md round 4); the cluster map is what this
    #    step consumes, and star edges produce the identical components
    #    at linear cost.
    clusters = minhash_lsh_dup_clusters(
        docs, "text", "doc_id", num_hashes=16, bands=4
    )  # (node, component)
    drop = clusters.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias("doc_id")
    )
    docs = docs.join(drop, "doc_id", "left_anti")
    n2 = docs.count()

    # 2b. substring-level dedup: cross-document duplicated passages
    #     (>= 8 shared tokens) are CUT out of the surviving docs — the
    #     suffix-array-dedup fix step (near-dedup drops whole docs;
    #     this removes the boilerplate the survivors still share).
    #     keep_canonical: each passage stays alive in its min-id doc.
    #     The survivors are materialized first: spans, the cut, and the
    #     outer join would otherwise each replay the LSH-cluster
    #     anti-join subtree (DataFrame lineage is not a CTE).
    docs = cut_lineage(docs)
    spans = duplicated_passages(
        docs, "text", "doc_id", k=8, keep_canonical=True
    )
    cut = cut_passages(docs, spans, "text", "doc_id")
    docs = (
        docs.join(
            cut.select("doc_id", "clean_text", "n_tokens_after"), "doc_id"
        )
        .filter(F.col("n_tokens_after") > 0)   # fully-boilerplate docs die
        .drop("text", "n_tokens_after")
        .withColumnRenamed("clean_text", "text")
    )
    n2b = docs.count()

    # 3. quality + language gate (shared token array — one split per doc)
    toks = tokens("text")
    docs = docs.withColumn("__toks", toks)
    en_hits = stopword_count_of(F.col("__toks"), STOPWORDS_EN)
    docs = (
        docs.withColumn("quality", quality_score("text", F.col("__toks")))
        .filter((F.col("quality") >= 0.3) & (en_hits > 0))
        .drop("__toks")
    )
    n3 = docs.count()

    # 4. deterministic split: stable under re-runs and appends
    bucket = split_bucket()
    docs = docs.withColumn(
        "split",
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test"),
    )

    # 5. partitioned write — one directory per split
    docs.write.mode("overwrite").partitionBy("split").parquet(out_dir)
    out = {
        r["split"]: r["n"]
        for r in docs.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    print(
        f"docs={n0} after_exact_dedup={n1} after_near_dedup={n2} "
        f"after_passage_cut={n2b} after_quality_lang={n3} "
        f"splits={out} -> {out_dir}"
    )
    return out


if __name__ == "__main__":
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    out_dir = (
        sys.argv[2]
        if len(sys.argv) > 2
        else os.path.join(tempfile.gettempdir(), "corpus_out")
    )
    curate(get_spark(app_name="corpus-curation"), sf_dir, out_dir)
