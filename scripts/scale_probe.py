#!/usr/bin/env python
"""Scale probe beyond the driver fixtures: synthesize events tables of
arbitrary volume with the Python Data Source generator (zero input
storage), write them in the testdata layout, and time the event-analytics
headline queries on each — the measured answer to "does the plan hold at
100x sf0.1?".

Run::

    python scripts/scale_probe.py [rows ...]      # default 1e5 1e6 1e7

Prints one markdown table row per volume (min-of-2 per query, seconds),
ready for SCALING.md.
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time
from functools import partial

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import noop_seconds  # noqa: E402
from java_etl_bi_generator_spark.queries import registry  # noqa: E402
from java_etl_bi_generator_spark.session import get_spark  # noqa: E402
from synthetic_tables import write_table  # noqa: E402

EVENT_PROBES = [
    "q_window_tumbling",
    "q_sessionize",
    "q_funnel",
    "q_rolling_distinct",
]
DOC_PROBES = [
    "q_dedup_exact",
    "q_dedup_near",
    "q_dedup_near_clusters",
    "q_setsim_prefix_join",
    "q_text_stats",
    "q_tfidf",
    "q_heavy_hitters",
    # round 5
    "q_decontaminate_ngrams",
    "q_gopher_quality_rules",
    "q_bpe_train_rounds",
    "q_curation_funnel",
]
EMB_PROBES = [
    "q_vector_topk",
    "q_vector_topk_ivf",
    "q_kmeans_cells",
    "q_embed_centroid",
    "q_embed_quantize",
]
STAR_PROBES = [
    "q_tpch_q1",
    "q_tpch_q3",
    "q_tpch_q5",
    "q_tpch_q6",
    "q_join_star_3way",
    "q_star_flagship",
]
GRAPH_PROBES = [
    "q_pagerank",
    "q_bfs_levels",
    "q_shortest_path_weighted",
    "q_triangle_count",
    "q_degree_distribution",
    "q_lpa_communities",  # round 7: mode-LPA, 4 bounded rounds
]


# Loudly-declared per-query volume ceilings: queries whose SEMANTICS are
# quadratic past a point on this corpus (not an implementation defect).
# q_setsim_prefix_join is an EXACT all-pairs join; on the word-salad
# synthetic corpus the 3-gram vocabulary saturates, so past ~50k docs
# the true candidate set itself grows quadratically (measured: 500k docs
# spilled >79 GB of candidate shuffle and died; the probabilistic
# handoff, q_dedup_near_clusters, probes fine at 500k).  See SCALING.md
# "Dedup family".
PROBE_MAX_ROWS = {"q_setsim_prefix_join": 50_000}


def _probe(spark, qs, probes, tmp, label, n):
    times = {}
    skipped = []
    for name in probes:
        cap = PROBE_MAX_ROWS.get(name)
        if cap is not None and n > cap:
            skipped.append(name)
            times[name] = None
            continue
        build = partial(qs[name], spark, tmp)
        noop_seconds(build)  # warm
        times[name] = min(noop_seconds(build) for _ in range(2))
    for name in skipped:
        print(f"NOTE: {name} skipped at {n:,} rows (declared ceiling "
              f"{PROBE_MAX_ROWS[name]:,}: exact all-pairs semantics are "
              f"quadratic on this corpus — see SCALING.md)", flush=True)
    print(
        f"| {n:,} | "
        + " | ".join(
            f"{times[p]:.2f}" if times[p] is not None else "skip"
            for p in probes
        )
        + f" | {sum(t for t in times.values() if t is not None):.2f} |"
    )


def main() -> None:
    mode = "events"
    args = sys.argv[1:]
    if args and args[0] in ("events", "documents", "embeddings", "star",
                            "graph", "semdedup", "pq"):
        mode, args = args[0], args[1:]
    spark = get_spark(app_name="scale_probe")
    qs = registry()

    if mode == "events":
        volumes = [int(float(a)) for a in args] or [
            100_000, 1_000_000, 10_000_000,
        ]
        print("| events rows | " + " | ".join(EVENT_PROBES) + " | total |")
        print("|" + "---|" * (len(EVENT_PROBES) + 2))
        for n in volumes:
            tmp = tempfile.mkdtemp(prefix=f"scale_probe_{n}_")
            write_table(spark, tmp, "events", n, num_users=max(1000, n // 100))
            _probe(spark, qs, EVENT_PROBES, tmp, "events", n)
            shutil.rmtree(tmp, ignore_errors=True)
    elif mode == "documents":
        volumes = [int(float(a)) for a in args] or [5_000, 50_000, 500_000]
        print("| docs | " + " | ".join(DOC_PROBES) + " | total |")
        print("|" + "---|" * (len(DOC_PROBES) + 2))
        for n in volumes:
            tmp = tempfile.mkdtemp(prefix=f"scale_probe_docs_{n}_")
            write_table(spark, tmp, "documents", n)
            _probe(spark, qs, DOC_PROBES, tmp, "documents", n)
            shutil.rmtree(tmp, ignore_errors=True)
    elif mode == "semdedup":
        # SemDeDup at corpus scale with the PRODUCTION k~sqrt(N) rule
        # (round-6 verdict task 5): q_semdedup_cells pins k=8 for the
        # fixture oracle; the docstring's claim that k~sqrt(N) bounds
        # the within-cell pairwise term (sum of |cell|^2) is what this
        # probe measures — train time, assign+census time, full
        # prune time, and the cell-size skew that drives the quadratic
        # term.  Volumes as args (default 50k then 500k).
        import math

        from java_etl_bi_generator_spark.queries import semdedup_census
        volumes = [int(float(a)) for a in args] or [50_000, 500_000]
        print("| vectors | k=sqrt(N) | train_s | census_s | cells | "
              "avg_cell | max_cell | skew | sum_sz2 | dropped | total_s |")
        print("|" + "---|" * 11)
        for n in volumes:
            tmp = tempfile.mkdtemp(prefix=f"scale_probe_sem_{n}_")
            em = spark.read.parquet(write_table(spark, tmp, "embeddings", n))
            k = int(math.isqrt(n))
            t0 = time.time()
            census = semdedup_census(em, k=k, iters=2)
            t_train = time.time() - t0  # kmeans_fit_int runs eagerly
            t1 = time.time()
            rows = census.collect()
            t_census = time.time() - t1
            sizes = [r["n_vecs"] for r in rows]
            dropped = sum(r["n_dropped"] for r in rows)
            avg = sum(sizes) / max(1, len(sizes))
            mx = max(sizes) if sizes else 0
            sz2 = sum(s * s for s in sizes)
            print(
                f"| {n:,} | {k} | {t_train:.1f} | {t_census:.1f} | "
                f"{len(sizes)} | {avg:.1f} | {mx} | {mx / max(1.0, avg):.1f} | "
                f"{sz2:,} | {dropped} | {t_train + t_census:.1f} |",
                flush=True,
            )
            shutil.rmtree(tmp, ignore_errors=True)
    elif mode == "pq":
        # PQ / IVF-PQ TRAINING cost on both sides of the trainer's
        # driver bound (operators/kmeans.py DRIVER_LLOYD_LIMIT, patched
        # here: the driver side runs the rounds in numpy over one
        # bounded collect, the distributed side one Spark job per round)
        # — the measurement the bound is set from.  The query constants
        # M=4, k=16, iters=2, coarse k=8; seconds are min-of-2 after a
        # warm-up.  peak_rss_mb is the driver's (Python + JVM) VmHWM
        # after each side, distributed first: the high-water mark only
        # rises, so the driver column shows what the collect adds.
        from java_etl_bi_generator_spark.operators import kmeans
        from java_etl_bi_generator_spark.queries import (
            _PQ_ITERS,
            _PQ_K,
            _PQ_M,
            _ivfpq_index,
        )

        def peak_rss_mb() -> float:
            kb = 0
            for pid in (os.getpid(), spark.sparkContext._gateway.proc.pid):
                with open(f"/proc/{pid}/status") as f:
                    kb += sum(int(line.split()[1]) for line in f
                              if line.startswith("VmHWM:"))
            return kb / 1024

        def train_s(fn) -> float:
            fn()  # warm
            best = float("inf")
            for _ in range(2):
                t0 = time.perf_counter()
                fn()
                best = min(best, time.perf_counter() - t0)
            return best

        volumes = [int(float(a)) for a in args] or [
            1_000, 5_000, 10_000, 20_000, 50_000,
        ]
        default_limit = kmeans.DRIVER_LLOYD_LIMIT
        print("| vectors | components | pq distributed_s | pq driver_s | "
              "ivfpq distributed_s | ivfpq driver_s | "
              "peak_rss_mb distributed / driver |")
        print("|" + "---|" * 7)
        try:
            for n in volumes:
                tmp = tempfile.mkdtemp(prefix=f"scale_probe_pq_{n}_")
                em = spark.read.parquet(
                    write_table(spark, tmp, "embeddings", n)
                )
                dim = len(em.first()["embedding"])
                row, rss = [], []
                for limit in (0, n * dim):
                    kmeans.DRIVER_LLOYD_LIMIT = limit
                    row.append(train_s(lambda: kmeans.pq_fit_int(
                        em, m=_PQ_M, k=_PQ_K, iters=_PQ_ITERS)))
                    row.append(train_s(  # uncached: measure the training
                        lambda: _ivfpq_index(em, cache_key=None)))
                    rss.append(peak_rss_mb())
                kmeans.DRIVER_LLOYD_LIMIT = default_limit
                print(
                    f"| {n:,} | {n * dim:,} | {row[0]:.2f} | {row[2]:.2f} | "
                    f"{row[1]:.2f} | {row[3]:.2f} | "
                    f"{rss[0]:.0f} / {rss[1]:.0f} |",
                    flush=True,
                )
                shutil.rmtree(tmp, ignore_errors=True)
        finally:
            kmeans.DRIVER_LLOYD_LIMIT = default_limit
    elif mode == "graph":
        # iterative/graph family over the co-purchase graph the star
        # generator's lineitem induces (nodes scale with the part count)
        from java_etl_bi_generator_spark.sources.synthetic_star import (
            generate_star,
        )

        volumes = [int(float(a)) for a in args] or [1_500_000, 15_000_000]
        print("| orders (4 lines each) | " + " | ".join(GRAPH_PROBES)
              + " | total |")
        print("|" + "---|" * (len(GRAPH_PROBES) + 2))
        for n in volumes:
            tmp = tempfile.mkdtemp(prefix=f"scale_probe_graph_{n}_")
            generate_star(spark, tmp, n)
            _probe(spark, qs, GRAPH_PROBES, tmp, "graph", n)
            shutil.rmtree(tmp, ignore_errors=True)
    elif mode == "star":
        from java_etl_bi_generator_spark.sources.synthetic_star import (
            generate_star,
        )

        volumes = [int(float(a)) for a in args] or [1_500_000, 15_000_000]
        print("| orders (4 lines each) | " + " | ".join(STAR_PROBES) + " | total |")
        print("|" + "---|" * (len(STAR_PROBES) + 2))
        for n in volumes:
            tmp = tempfile.mkdtemp(prefix=f"scale_probe_star_{n}_")
            generate_star(spark, tmp, n)
            _probe(spark, qs, STAR_PROBES, tmp, "star", n)
            shutil.rmtree(tmp, ignore_errors=True)
    else:
        volumes = [int(float(a)) for a in args] or [50_000, 500_000]
        print("| vectors | " + " | ".join(EMB_PROBES) + " | total |")
        print("|" + "---|" * (len(EMB_PROBES) + 2))
        for n in volumes:
            tmp = tempfile.mkdtemp(prefix=f"scale_probe_emb_{n}_")
            write_table(spark, tmp, "embeddings", n)
            _probe(spark, qs, EMB_PROBES, tmp, "embeddings", n)
            shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
