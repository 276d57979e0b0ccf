#!/usr/bin/env python
"""Benchmark harness — runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query executes fully via the ``noop`` sink (all stages run, nothing
is materialized on the driver) — the honest measure of plan cost.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time
from functools import partial

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from java_etl_bi_generator_spark.queries import registry  # noqa: E402
from java_etl_bi_generator_spark.session import get_spark  # noqa: E402

HEADLINE = [
    "q_star_flagship",       # 5-table star join + rollup
    "q_tpch_q1",             # TPC-H Q1 pricing summary (full agg set)
    "q_tpch_q5",             # TPC-H Q5 six-table local-supplier volume
    "q_groupby_sum",         # grouped sums over the fact table
    "q_join_star_3way",      # star join
    "q_join_broadcast_left", # broadcast left join
    "q_window_running_sum",  # window frame agg
    "q_window_tumbling",     # event-time window agg
    "q_dedup_exact",         # sha256 content dedup
    "q_dedup_near",          # MinHash+LSH banding candidates
    "q_text_stats",          # token/punct/stopword counting
    "q_heavy_hitters",       # corpus token heavy hitters
    "q_vector_topk",         # brute-force cosine top-k
    "q_date_dim_generate",   # calendar generator
    "q_tpch_q21",            # decorrelated EXISTS/NOT-EXISTS via windows
    "q_funnel",              # stacked conditional window minima
    "q_tfidf",               # single-explode tf-idf with window df
    "q_sessionize",          # gaps-and-islands session assignment
    "q_anomaly_zscore",      # broadcast-stats outlier scan
    "q_rfm",                 # 3-way ntile segmentation
    "q_chunk_documents",     # overlapping token-window chunking
    "q_basket_pairs",        # within-basket co-occurrence + lift
    # ---- end of the original round-1..3 22-query set (see
    # LIKE_FOR_LIKE below); everything after this line joined in
    # round 4+ ----
    "q_pagerank",            # iterative integer PageRank (checkpointed)
    "q_exact_median_rank",   # distributed global-rank exact median
    "q_bucketed_join",       # shuffle-free pre-bucketed fact join
    "q_rolling_distinct",    # rolling window distinct users
    "q_rolling_distinct_hll",  # day-grain mergeable-sketch scale path
    "q_dedup_cut",           # substring-passage detect + cut (round 4)
    "q_ks_test",             # integer KS drift via distributed cumsum
    "q_setsim_prefix_join",  # exact Jaccard join via prefix filtering (round 4)
    "q_kcore",               # bounded k-core peel (round 4)
    "q_overlap_count_sweepline",  # enumerate-free pair counting (round 4)
    "q_spearman_by_group",   # avg-rank Spearman via grouped cumsum (round 4)
    "q_knn_grid_join",       # grid-bucketed nearest-neighbor join (round 4)
    "q_bootstrap_ci",        # one-pass Poisson bootstrap CI (round 4)
    "q_linkage_weights",     # Fellegi-Sunter blocked pair scoring (round 4)
    "q_grid_density_clusters",  # grid DBSCAN via connected cells (round 4)
    "q_decayed_engagement",  # exact dyadic half-life scoring (round 4)
    "q_media_header_roundtrip",  # engine-written binary fixture + codegen header parse (round 5)
    "q_decontaminate_ngrams",  # 5-gram benchmark decontamination (round 5)
    "q_bpe_train_rounds",    # distributed BPE trainer, 3 merge rounds (round 5)
    "q_curation_funnel",     # per-source dedup/quality/decontamination funnel (round 5)
    "q_media_wav_decode",    # 16-bit PCM codegen audio decode (round 7)
    "q_dp_quantile",         # DP histogram quantile release (round 8)
    "q_media_mp4_header",    # canonical MP4 codegen header parse (round 8)
    "q_hits",                # HITS hubs/authorities, 2 int64 rounds (round 8)
    "q_bradley_terry",       # 3 integer MM rounds over order-pair games (r8b)
    "q_quality_linear_scorer",  # hashed-linear corpus scoring (r8b)
    "q_vector_medoid",       # linear sum-of-squares medoid per cell (r8b)
    "q_graph_assortativity",  # exact degree assortativity (round 9)
    "q_pr_curve",            # PR curve + dsum-folded AP (round 9)
    "q_zipf_law",            # rank-frequency OLS exponent (round 9)
    "q_semantic_outliers",   # per-cell centroid-distance outliers (round 9)
    "q_media_wav_extensible",  # extensible-fmt RIFF codegen walk (round 9)
    "q_dsir_weights",        # hashed-bucket importance weights (round 10)
    "q_language_temperature_sampling",  # alpha=0.7 mixing shares (round 10)
    "q_watermark_lateness_profile",  # block-stitched running max (round 10)
    "q_embedding_covariance",  # Arrow int64 Gram partials (round 10)
    "q_harmonic_centrality",  # probe-keyed BFS, integer 12/d (round 10)
    "q_media_png_decode",    # stored-deflate PNG decode + adler (round 11)
    "q_zorder_layout",       # Z-order skipping audit (round 11)
    "q_rake_keywords",       # RAKE phrase/keyword extraction (round 11)
    "q_shapley_synergy",     # Shapley pairwise-synergy game (round 11)
    "q_join_salted",         # explicit skew-salted join (round 11)
    "q_geo_radius_join",     # grid-bucketed spatial radius join (round 11b)
    "q_ip_cidr_lpm",         # equi-join CIDR longest-prefix match (round 11b)
    "q_link_prediction",     # capped wedge-join common neighbors (round 11b)
    "q_pca_power_iteration", # Arrow Gram core + integer power iteration (round 11e)
    # ---- round 12 additions (VERDICT r11 item 3: the headline set was
    # overhead-bound at sf0.1 and excluded the registry's biggest
    # movers, so the round-11 wins — cdc_chunking 26.7->2.65 s,
    # fuzzy_match 12.8->0.97 s, the PQ/ANN family — were invisible to
    # the measured board.  Additions-only: every pre-existing entry
    # keeps its name and position, so round-over-round comparability
    # survives.  q_pq_train_sampled / q_ivfpq_rerank retrain their
    # sub-quantizers inline (train-once cost in production); they are
    # benched here anyway per the verdict because the round-11 rewrite
    # moved exactly that cost, with the caveat documented. ----
    "q_cdc_chunking",        # content-defined chunking, md5 token chain (round 12)
    "q_fuzzy_match",         # blocked levenshtein pair scoring (round 12)
    "q_fuzzy_ids_fastss",    # FastSS deletion-neighborhood self-join (round 12)
    "q_pq_train_sampled",    # PQ sub-quantizer Lloyd training (round 12)
    "q_ivfpq_rerank",        # IVF-PQ ADC shortlist + exact rerank (round 12)
    "q_dedup_near_clusters", # LSH star edges + connected components (round 12)
    "q_dedup_cluster_quality",  # CC output P/R/F1 vs sampled exact truth (round 12)
]

# The original 22-query set benched since round 1 — reported as its own
# subtotal every round so round-over-round comparability survives set
# growth (round-4 verdict task 5): the headline total absorbs new heavy
# operators each round, the like-for-like subtotal does not.
LIKE_FOR_LIKE = HEADLINE[:22]

# The r1 anchor for the like-for-like 22-query subtotal (BASELINE.md
# "Operative anchor table"): the 2x gate means like_for_like must stay
# under 2 * R1_ANCHOR_LFL_22Q.
R1_ANCHOR_LFL_22Q = 17.39

# Round-robin time above which a query is re-measured min-of-6 in a
# fresh isolated JVM (VERDICT r10 task 8: lowered 1.5 -> 1.0 s so the
# 1.0-1.5 s entries stop wobbling the board; regressions are reported
# only from isolated numbers).
ISOLATION_THRESHOLD = 1.0
assert LIKE_FOR_LIKE[-1] == "q_basket_pairs"


def noop_seconds(build) -> float:
    """Seconds to build a query's DataFrame with ``build()`` and run every
    stage of it through the ``noop`` sink (nothing is materialized on the
    driver), on the ``time.perf_counter`` clock.  Every script that times
    a query calls this, so they all time the same plan the same way."""
    t0 = time.perf_counter()
    build().write.mode("overwrite").format("noop").save()
    return time.perf_counter() - t0


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0

    spark = get_spark(app_name="bench")
    qs = registry()

    # Warm JVM/codegen on each headline plan at the smallest SF so measured
    # times are steady-state execution, not first-compile JIT (a long-lived
    # cluster session never pays that per query).  Data volume at sf0.001
    # is negligible (~1k-6k rows/table).
    warm_dir = "/root/testdata/sf0.001"
    for name in HEADLINE:
        noop_seconds(partial(qs[name], spark, warm_dir))

    # Min of three measured iterations per query: the steady-state plan
    # cost, insulated from one-off GC pauses / host contention (JMH-style;
    # round-to-round spread of a min-of-2 measured ~15-20% on this host,
    # the third iteration roughly halves it).
    times: dict[str, float] = {}
    for _ in range(3):
        for name in HEADLINE:
            dt = round(noop_seconds(partial(qs[name], spark, sf_dir)), 3)
            if name not in times or dt < times[name]:
                times[name] = dt

    # Isolated re-measurement of the heavy tail (round-5 verdict task 6,
    # widened by round-6 verdict task 3): the round-4 basket/rfm drift
    # audit proved min-of-3 ROUND-ROBIN under-converges JIT once 40+
    # heavy queries share one JVM — isolated fresh-session min-of-6
    # re-measured both FASTER than their round-3 numbers (SCALING.md
    # "bench noise audit"), and round 6's +10-20% uniform drift on
    # untouched code confirmed the round-robin column alone misleads.
    # Every query whose round-robin time exceeds ISOLATION_THRESHOLD is
    # re-measured min-of-6 in a fresh session, and the HEADLINE totals
    # are sums of best-known-per-query (min of the two columns), so a
    # shared-JVM bad lap can no longer move the round-over-round story.
    isolated: dict[str, float] = {}
    heavy = [n for n in HEADLINE if times[n] > ISOLATION_THRESHOLD]
    spark.stop()
    spark = get_spark(app_name="bench-isolated")
    for name in heavy:
        noop_seconds(partial(qs[name], spark, warm_dir))
        isolated[name] = round(
            min(noop_seconds(partial(qs[name], spark, sf_dir)) for _ in range(6)), 3
        )

    best = {n: min(times[n], isolated.get(n, times[n])) for n in HEADLINE}
    total = round(sum(best.values()), 3)
    like_for_like = round(sum(best[n] for n in LIKE_FOR_LIKE), 3)

    # The driver records only the LAST ~2000 chars of stdout and parses the
    # final JSON line it finds there (round-7 verdict task 1: the r7 line
    # carried three 43-entry maps, outgrew the capture, and the round's
    # headline was lost — "parsed": null).  So: the full per-query detail
    # goes to a sidecar file, and the ONE stdout JSON line stays compact
    # (headline totals + the best-known per-query map, ~1.4 KB at 44
    # queries) and is printed LAST so the tail always contains it whole.
    detail = {
        "metric": "headline_queries_total_runtime",
        "value": total,
        "value_like_for_like_22q": like_for_like,
        "r1_anchor_like_for_like_22q": R1_ANCHOR_LFL_22Q,
        "value_round_robin": round(sum(times.values()), 3),
        "unit": "sec",
        "queries": best,
        "queries_round_robin": times,
        "isolated_heavy_min_of_6": isolated,
        "sf": sf,
    }
    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json"
    )
    with open(detail_path, "w") as f:
        json.dump(detail, f, indent=1)

    print(
        json.dumps(
            {
                "metric": "headline_queries_total_runtime",
                "value": total,
                "value_like_for_like_22q": like_for_like,
                "unit": "sec",
                # best-known per query (min of round-robin and isolated);
                # per-column detail in BENCH_DETAIL.json
                "queries": best,
                "sf": sf,
            }
        )
    )


if __name__ == "__main__":
    main()
