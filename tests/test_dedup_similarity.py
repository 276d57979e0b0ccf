"""Dedup + similarity operator behavior tests (beyond the oracle parity)."""

from __future__ import annotations

import pyspark.sql.functions as F

from java_etl_bi_generator_spark.catalog import load_table
from java_etl_bi_generator_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_candidates,
    ngram_jaccard_pairs,
)
from java_etl_bi_generator_spark.operators.similarity import (
    brute_force_topk,
    ivf_topk,
)

from .conftest import SF_DIR


def test_exact_dedup_removes_planted_duplicates(spark):
    df = spark.createDataFrame(
        [(1, "same text"), (2, "same text"), (3, "other text")],
        ["doc_id", "text"],
    )
    kept = exact_dedup(df, "text", "doc_id").collect()
    assert {r["doc_id"] for r in kept} == {1, 3}  # min id wins


def test_minhash_lsh_finds_planted_near_dup(spark):
    base = " ".join(f"word{i}" for i in range(60))  # 58 distinct shingles
    near = base.replace("word30", "changed")        # 3 shingles differ, j≈0.90
    far = " ".join(f"other{i}" for i in range(60))
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, far)], ["doc_id", "text"]
    )
    pairs = {(r["id_a"], r["id_b"])
             for r in minhash_lsh_candidates(df, "text", "doc_id").collect()}
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_ngram_jaccard_exact_values(spark):
    df = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d e"), (3, "z y x w v")],
        ["doc_id", "text"],
    )
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"]
             for r in ngram_jaccard_pairs(df, "text", "doc_id", 3, 0.1).collect()}
    assert pairs == {(1, 2): 1.0}


def test_ivf_recall_against_brute_force(spark):
    em = load_table(spark, SF_DIR, "embeddings")
    q = em.filter(F.col("vec_id") == 7).select(
        F.col("embedding").cast("array<double>").alias("e")
    ).first()["e"]
    exact = [r["vec_id"] for r in brute_force_topk(em, q, k=10).collect()]
    approx = [r["vec_id"] for r in ivf_topk(em, q, k=10, nprobe=4).collect()]
    assert exact[0] == 7  # self is nearest
    # IVF with generous nprobe should recover most of the exact top-10
    assert len(set(exact) & set(approx)) >= 6


def test_connected_components_clusters(spark):
    from java_etl_bi_generator_spark.operators.graph import (
        connected_components,
    )

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (8, 9), (9, 1)], ["id_a", "id_b"]
    )
    comps = {r["node"]: r["component"]
             for r in connected_components(pairs).collect()}
    # {1,2,3,8,9} chain through 9-1; {5,6} separate
    assert comps[1] == comps[2] == comps[3] == comps[8] == comps[9] == 1
    assert comps[5] == comps[6] == 5


def test_connected_components_large_star_small_star(spark):
    """r11 change 21: the large-star/small-star rewrite must converge to
    the exact min-label partition on the topologies that stressed the
    old label loop — deep chains (the LSH star-edge failure mode that
    needed 16 rounds), cycles, self-loops — and keep the one-row-per-
    node output contract."""
    from java_etl_bi_generator_spark.operators.graph import (
        connected_components,
    )

    def reference(pairs):
        parent: dict[int, int] = {}

        def find(x):
            while parent.setdefault(x, x) != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in pairs:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        comps: dict[int, list[int]] = {}
        for x in list(parent):
            comps.setdefault(find(x), []).append(x)
        return sorted(
            (x, min(members))
            for members in comps.values()
            for x in members
        )

    cases = {
        # 60-deep chain: the old propagate+jump loop needed ~log-squared
        # rounds here; LS/SS must still produce the exact min labels.
        "deep_chain": [(i, i + 1) for i in range(60)],
        "cycle": [(i, (i + 1) % 23) for i in range(23)],
        "self_loops_and_edges": [(5, 5), (7, 8), (9, 9), (8, 11)],
        "sibling_stars": [(100, i) for i in range(1, 8)]
        + [(200, i) for i in range(4, 12)],
        # hashed 64-bit ids: a bigint fixpoint sum over these overflows
        # (ANSI ARITHMETIC_OVERFLOW)
        "ids_near_2_62": [(2**62, 2**62 + 1), (2**62 + 1, 2**62 + 2)],
    }
    for name, pairs in cases.items():
        df = spark.createDataFrame(
            [(int(a), int(b)) for a, b in pairs], ["id_a", "id_b"]
        )
        rows = connected_components(df).collect()
        got = sorted((r["node"], r["component"]) for r in rows)
        assert got == reference(pairs), name
        # one row per node, no duplicates from the star extraction
        assert len({r["node"] for r in rows}) == len(rows), name


def test_bellman_ford_hops_and_weights(spark):
    from java_etl_bi_generator_spark.operators.graph import bellman_ford

    # Path 1-2-3-4 plus a shortcut 1-4 (weight 10), island 7-8, and node 9
    # reachable from no source.  Undirected: feed both directions.
    und = [(1, 2, 1), (2, 3, 1), (3, 4, 1), (1, 4, 10), (7, 8, 2), (8, 9, 2)]
    rows = [(a, b, w) for a, b, w in und] + [(b, a, w) for a, b, w in und]
    edges = spark.createDataFrame(rows, ["src", "dst", "w"])
    sources = spark.createDataFrame([(1,)], ["node"])

    hops = {r["node"]: r["dist"]
            for r in bellman_ford(edges, sources, iterations=5).collect()}
    # BFS: the weight column is ignored, so 1-4 is one hop
    assert hops == {1: 0, 2: 1, 3: 2, 4: 1}  # 7,8,9 unreached -> absent

    w = {r["node"]: r["dist"]
         for r in bellman_ford(edges, sources, iterations=5,
                               weight_col="w").collect()}
    # weighted: the 3-edge path (cost 3) beats the shortcut (cost 10)
    assert w == {1: 0, 2: 1, 3: 2, 4: 3}

    # bounded depth: 2 rounds cannot see node 4 via the cheap path yet,
    # but the shortcut (1 edge) already offers cost 10
    w2 = {r["node"]: r["dist"]
          for r in bellman_ford(edges, sources, iterations=2,
                                weight_col="w").collect()}
    assert w2[4] == 10 and w2[3] == 2

    # multi-source: seeding both islands reaches everything
    both = spark.createDataFrame([(1,), (9,)], ["node"])
    m = {r["node"]: r["dist"]
         for r in bellman_ford(edges, both, iterations=4,
                               weight_col="w").collect()}
    assert m[9] == 0 and m[8] == 2 and m[7] == 4 and m[4] == 3


def test_bellman_ford_matches_reference_on_random_graphs(spark):
    """Seeded random digraphs vs a pure-Python Bellman-Ford: the
    distributed relaxation must agree on every reached node, including
    iteration-bounded partial results."""
    import random

    from java_etl_bi_generator_spark.operators.graph import bellman_ford

    for seed in (1, 2, 3):
        rng = random.Random(seed)
        n = 30
        edges = sorted(
            {
                (rng.randrange(n), rng.randrange(n))
                for _ in range(90)
            }
        )
        edges = [(a, b, rng.randrange(1, 9)) for a, b in edges if a != b]
        srcs = sorted(rng.sample(range(n), 3))
        for iters in (2, 8):
            # reference: k-bounded relaxation over all nodes
            INF = float("inf")
            dist = {v: INF for v in range(n)}
            for s in srcs:
                dist[s] = 0
            for _ in range(iters):
                nxt = dict(dist)
                for a, b, w in edges:
                    if dist[a] + w < nxt[b]:
                        nxt[b] = dist[a] + w
                dist = nxt
            expected = {v: d for v, d in dist.items() if d < INF}
            # nodes absent from the edge list never enter the spine
            on_graph = {a for a, _, _ in edges} | {b for _, b, _ in edges}
            expected = {
                v: d for v, d in expected.items()
                if v in on_graph
            }

            e_df = spark.createDataFrame(edges, ["src", "dst", "w"])
            s_df = spark.createDataFrame([(s,) for s in srcs], ["node"])
            got = {
                r["node"]: r["dist"]
                for r in bellman_ford(
                    e_df, s_df, iterations=iters, weight_col="w"
                ).collect()
            }
            assert got == expected, (seed, iters)


def test_containment_detects_doc_inside_doc(spark):
    """A short doc fully quoted inside a long one: containment(short->long)
    is 1.0 even though Jaccard is diluted below any useful threshold."""
    from java_etl_bi_generator_spark.operators.dedup import containment_pairs

    short = " ".join(f"w{i}" for i in range(10))
    long = short + " " + " ".join(f"x{i}" for i in range(90))
    other = " ".join(f"y{i}" for i in range(20))
    df = spark.createDataFrame(
        [(1, short), (2, long), (3, other)], ["doc_id", "text"]
    )
    rows = {
        (r["id_a"], r["id_b"]): r["containment"]
        for r in containment_pairs(df, "text", "doc_id", n=2, min_pct=20).collect()
    }
    assert rows[(1, 2)] == 1.0            # short's shingles all inside long
    assert (3, 1) not in rows and (3, 2) not in rows
    # the reverse direction is diluted: |S_short|/|S_long| = 9/99 < 20%
    assert (2, 1) not in rows


def test_duplicated_passages_positions_and_merge(spark):
    """Two docs share one 10-token passage at different offsets: each doc
    reports ONE merged island covering exactly the shared span (the three
    overlapping 8-token windows inside it merge)."""
    from java_etl_bi_generator_spark.operators.dedup import duplicated_passages

    shared = " ".join(f"s{i}" for i in range(10))
    d1 = "a1 a2 a3 " + shared + " b1 b2"           # passage at tokens 4..13
    d2 = shared + " c1 c2 c3 c4 c5"                # passage at tokens 1..10
    d3 = " ".join(f"z{i}" for i in range(20))      # no duplication
    df = spark.createDataFrame(
        [(1, d1), (2, d2), (3, d3)], ["doc_id", "text"]
    )
    got = {
        r["doc_id"]: (r["tok_start"], r["tok_end"], r["n_windows"])
        for r in duplicated_passages(df, "text", "doc_id", k=8).collect()
    }
    assert got == {1: (4, 13, 3), 2: (1, 10, 3)}


def test_duplicated_passages_separate_islands(spark):
    """Non-overlapping duplicated spans in one doc stay separate islands."""
    from java_etl_bi_generator_spark.operators.dedup import duplicated_passages

    p1 = " ".join(f"p{i}" for i in range(8))
    p2 = " ".join(f"q{i}" for i in range(8))
    gap = " ".join(f"g{i}" for i in range(12))
    host = p1 + " " + gap + " " + p2               # p1 at 1..8, p2 at 21..28
    df = spark.createDataFrame(
        [(1, host), (2, p1), (3, p2)], ["doc_id", "text"]
    )
    got = sorted(
        (r["doc_id"], r["tok_start"], r["tok_end"])
        for r in duplicated_passages(df, "text", "doc_id", k=8).collect()
    )
    assert got == [(1, 1, 8), (1, 21, 28), (2, 1, 8), (3, 1, 8)]


def test_cut_passages_removes_exact_spans(spark):
    """Cut removes exactly the spanned tokens; docs without spans pass
    through with identical text; a fully-covered doc empties."""
    from java_etl_bi_generator_spark.operators.dedup import cut_passages

    df = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "x y z"), (3, "p q r s")],
        ["doc_id", "text"],
    )
    spans = spark.createDataFrame(
        [(1, 2, 4), (3, 1, 4)], ["doc_id", "tok_start", "tok_end"]
    ).select(
        "doc_id",
        F.col("tok_start").cast("bigint"),
        F.col("tok_end").cast("bigint"),
    )
    got = {
        r["doc_id"]: (r["n_tokens_before"], r["n_tokens_after"], r["clean_text"])
        for r in cut_passages(df, spans, "text", "doc_id").collect()
    }
    assert got[1] == (6, 3, "a e f")      # b c d cut
    assert got[2] == (3, 3, "x y z")      # untouched
    assert got[3] == (4, 0, "")           # fully cut


def test_duplicated_passages_hash_key_equivalent(spark):
    """The 100TB hashed-shuffle-key variant produces identical spans to
    the string-keyed default on the fixture corpus (md5 collisions are
    the only divergence mode, and there are none)."""
    from java_etl_bi_generator_spark.operators.dedup import (
        duplicated_passages,
    )

    docs = load_table(spark, SF_DIR, "documents")
    for kc in (False, True):  # incl. the min-id canonical exemption path
        a = sorted(
            map(
                tuple,
                duplicated_passages(
                    docs, "text", "doc_id", k=8, keep_canonical=kc
                ).collect(),
            )
        )
        b = sorted(
            map(
                tuple,
                duplicated_passages(
                    docs,
                    "text",
                    "doc_id",
                    k=8,
                    keep_canonical=kc,
                    hash_shuffle_key=True,
                ).collect(),
            )
        )
        assert a == b and len(a) > 0


def test_mmr_displaces_near_duplicate(spark):
    """Plain top-2 returns the near-duplicate pair; MMR's diversity
    penalty replaces the duplicate with the distinct-but-relevant vector."""
    from java_etl_bi_generator_spark.operators.similarity import mmr_topk

    rows = [
        (1, [0.9, 0.43589, 0.0]),   # closest to the query (cos 0.90)
        (2, [0.9, 0.43, 0.1]),      # near-duplicate of 1 (cos ~0.995 to it)
        (3, [0.8, -0.6, 0.0]),      # distinct direction (cos 0.80 to query)
        (4, [0.0, 0.1, 0.99]),      # barely relevant
    ]
    em = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    exact2 = [
        r["vec_id"]
        for r in brute_force_topk(em, [1.0, 0.0, 0.0], k=2).collect()
    ]
    assert exact2 == [1, 2]
    mmr2 = [
        r["vec_id"]
        for r in mmr_topk(
            em, [1.0, 0.0, 0.0], n_candidates=4, k=2, lam=0.5
        ).collect()
    ]
    assert mmr2 == [1, 3]


def test_prefix_jaccard_matches_all_pairs_join(spark):
    """The prefix-filter join's exactness claim: identical output to the
    naive all-pairs shingle join at the same threshold (prefix lemma)."""
    from java_etl_bi_generator_spark.operators.dedup import (
        prefix_jaccard_pairs,
    )

    docs = load_table(spark, SF_DIR, "documents")
    fast = prefix_jaccard_pairs(
        docs, "text", "doc_id", n=2, t_num=1, t_den=5
    )
    naive = ngram_jaccard_pairs(docs, "text", "doc_id", n=2, threshold=0.2)
    f = {(r["id_a"], r["id_b"], r["jaccard"]) for r in fast.collect()}
    s = {(r["id_a"], r["id_b"], r["jaccard"]) for r in naive.collect()}
    # the naive path filters on the ROUNDED ratio, the prefix path on the
    # exact integer inequality — compare on pairs whose exact ratio is
    # unambiguously on one side (all planted/testdata pairs are)
    assert f == s
    assert f  # non-vacuous: testdata must yield pairs at this threshold


def test_prefix_jaccard_planted_threshold_boundary(spark):
    """Integer threshold arithmetic: J exactly at t is kept, below is cut."""
    from java_etl_bi_generator_spark.operators.dedup import (
        prefix_jaccard_pairs,
    )

    # doc1/doc2: 2-gram shingle sets of sizes 4 and 4 sharing exactly 2
    # -> J = 2/6 = 1/3 >= 1/3 (kept at t=1/3); at t=2/5 it must be cut.
    d1 = "a b c d e"        # shingles: ab bc cd de
    d2 = "a b c x y"        # shingles: ab bc cx xy  -> shared {ab, bc}
    df = spark.createDataFrame([(1, d1), (2, d2)], ["doc_id", "text"])
    kept = prefix_jaccard_pairs(df, "text", "doc_id", n=2, t_num=1, t_den=3)
    assert [(r["id_a"], r["id_b"]) for r in kept.collect()] == [(1, 2)]
    cut = prefix_jaccard_pairs(df, "text", "doc_id", n=2, t_num=2, t_den=5)
    assert cut.count() == 0


def test_kcore_peel_cascades(spark):
    """3-core of a 4-clique with a pendant chain: the chain nodes peel
    over SUCCESSIVE rounds (each removal exposes the next), which a
    single degree filter cannot reproduce; the clique survives with
    residual degree 3."""
    from java_etl_bi_generator_spark.operators.graph import kcore_peel

    clique = [(a, b) for a in range(4) for b in range(4) if a < b]
    # pendant triangle hung off clique node 3: node 4 starts at degree 3
    # and only falls below k once round 1 has removed 5 and 6
    tri = [(3, 4), (4, 5), (4, 6), (5, 6)]
    und = clique + tri
    edges = spark.createDataFrame(
        und + [(b, a) for a, b in und], ["src", "dst"]
    )
    got = {
        r["node"]: r["deg"] for r in kcore_peel(edges, k=3, rounds=4).collect()
    }
    assert got == {0: 3, 1: 3, 2: 3, 3: 3}
    # one round is NOT enough: node 4 starts at degree 3 and survives
    # round 1; it peels only after 5/6 are gone — the cascade a single
    # degree filter cannot reproduce
    after1 = {
        r["node"] for r in kcore_peel(edges, k=3, rounds=1).collect()
    }
    assert 4 in after1 and 5 not in after1 and 6 not in after1


def test_semdedup_cells_invariants(spark, sf_dir):
    """SemDeDup census invariants: cells partition the corpus (sizes sum
    to N), every cell keeps at least one representative (the lowest id
    can never be dropped — the drop rule requires a LOWER-id neighbor),
    and kept + dropped = size per cell."""
    from java_etl_bi_generator_spark.catalog import load_table
    from java_etl_bi_generator_spark.queries import registry

    rows = registry()["q_semdedup_cells"](spark, sf_dir).collect()
    n = load_table(spark, sf_dir, "embeddings").count()
    assert sum(r["n_vecs"] for r in rows) == n
    for r in rows:
        assert r["n_kept"] + r["n_dropped"] == r["n_vecs"]
        assert r["n_kept"] >= 1
        assert r["n_dropped"] >= 0


def test_bpe_encode_tracks_training(spark, sf_dir):
    """The encode summary must be consistent with the trainer's merge
    log: every merge round strictly reduces corpus tokens, and the
    total reduction equals the sum of the merged-pair counts (each
    occurrence of a merged pair removes exactly one token)."""
    from java_etl_bi_generator_spark.queries import registry

    enc = registry()["q_bpe_encode"](spark, sf_dir).collect()[0]
    merges = registry()["q_bpe_train_rounds"](spark, sf_dir).collect()
    assert enc["n_merges"] == len(merges) == 3
    saved = sum(m["pair_count"] for m in merges)
    if all(len(set(m["merged_pair"].split(" "))) == 2 for m in merges):
        # distinct-symbol pairs never overlap: every counted occurrence
        # merges, so the reduction equals the pair-count sum exactly
        assert enc["tokens_before"] - enc["tokens_after"] == saved
    else:
        # a same-symbol pair overlaps itself in runs ('aaaa' counts 3
        # pairs, greedy merges 2) — reduction is bounded by the counts
        assert 0 < enc["tokens_before"] - enc["tokens_after"] <= saved
    assert 1.0 <= enc["fertility"] or enc["total_words"] == 0
    assert 0.0 < enc["compression"] <= 1.0


def test_cross_source_dedup_known_pair_counts(spark, tmp_path):
    """Round-6 verdict task 1: the declared q_cross_source_dedup logic on
    a synthetic corpus with KNOWN shared hashes — an inverted join
    condition, a wrong src_a < src_b tie-break, or a broken grouping
    all fail here (the sf0.01 fixture alone only exercises the seeded
    mirror rows)."""
    from java_etl_bi_generator_spark.queries import q_cross_source_dedup

    rows = [
        (1, "A", "shared-ab"),
        (2, "B", "shared-ab"),
        (3, "A", "shared-abc"),
        (4, "B", "shared-abc"),
        (5, "C", "shared-abc"),
        (6, "A", "only-a"),
        (25, "A", "mirrored"),  # doc_id % 25 == 0 -> seeded mirror:A row
    ]
    spark.createDataFrame(
        rows, "doc_id bigint, source string, text string"
    ).write.parquet(f"{tmp_path}/documents.parquet")
    got = {
        (r["src_a"], r["src_b"]): r["n_shared_hashes"]
        for r in q_cross_source_dedup(spark, str(tmp_path)).collect()
    }
    assert got == {
        ("A", "B"): 2,          # shared-ab, shared-abc
        ("A", "C"): 1,          # shared-abc
        ("B", "C"): 1,          # shared-abc
        ("A", "mirror:A"): 1,   # the seeded mirror crawl of doc 25
    }


def test_lpa_bridge_does_not_merge_dense_communities(spark):
    """The docstring's distinguishing claim vs connected components: two
    4-cliques joined by ONE bridge edge stay two communities under
    mode-LPA (each node's clique neighbors outvote the bridge), while
    connected components would merge them."""
    from java_etl_bi_generator_spark.operators.graph import (
        label_propagation_mode,
    )

    def clique(ids):
        return [(a, b) for a in ids for b in ids if a != b]

    edges = clique([1, 2, 3, 4]) + clique([10, 11, 12, 13])
    edges += [(4, 10), (10, 4)]  # the bridge
    sym = spark.createDataFrame(edges, "src bigint, dst bigint")
    got = {
        r["node"]: r["label"]
        for r in label_propagation_mode(sym, rounds=4).collect()
    }
    left = {got[n] for n in (1, 2, 3, 4)}
    right = {got[n] for n in (10, 11, 12, 13)}
    assert left == {1}, left    # clique label converges to min id
    assert right == {10}, right
    assert left != right        # the bridge did NOT merge them
