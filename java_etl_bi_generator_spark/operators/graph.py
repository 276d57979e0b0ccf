"""Connected components over near-duplicate pairs — the final step of
corpus dedup: candidate pairs (from MinHash/SimHash/cosine) form a graph;
each connected component is one duplicate cluster, and one representative
per cluster is kept.

Implemented as a TWO-PHASE loop (round 12): cheap propagate+jump label
rounds solve the shallow graphs near-dup clustering actually produces,
and alternating large-star/small-star edge contraction [Kiveris et al.
2014] finishes the deep residual on the label-quotient graph.  The loop
is driver-side control flow only; all data stays distributed, with
``lineage.cut_lineage`` every round to cut the growing plan (reliable
``checkpoint()`` when a checkpoint dir is configured — the cluster-safe
form — else ``localCheckpoint``).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from ..lineage import cut_lineage


def connected_components(
    pairs: DataFrame,
    max_iterations: int = 20,
    id_a: str = "id_a",
    id_b: str = "id_b",
    label_rounds: int = 6,
) -> DataFrame:
    """(id_a, id_b) edges -> (node, component), component = min node id.

    TWO-PHASE round-12 shape, from the round-11 driver-board adjudication
    (q_grid_density_clusters 0.56x after the pure star-contraction
    rewrite) plus a measured contraction trace: label propagation with
    pointer jumping costs ONE shuffle per round (the propagate groupBy;
    the node-grain joins broadcast on small graphs) and solves shallow
    graphs in 2-5 rounds, while star contraction costs 4-5 exchanges per
    round but O(log) rounds on deep chain graphs.  The sf0.1 LSH
    star-edge graph (3,931 pairs) contracts its label-quotient graph
    484 -> 208 -> 104 -> 54 edges in the first three label rounds and
    then spends 12 MORE rounds chasing one residual chain — exactly the
    regime where star contraction's chain-halving wins.  So:

      phase 1 — up to ``label_rounds`` propagate+jump rounds (the round-10
        loop, verbatim).  Shallow graphs (grid DBSCAN: 5 rounds, exact /
        entity dedup: 2) converge here and return directly.
      phase 2 — if the sum fixpoint is not reached, contract the LABEL
        QUOTIENT graph (component-id endpoints of still-crossing edges —
        a few dozen edges where phase 1 left thousands) with alternating
        large-star/small-star, and compose: final(n) = comp2(label(n)).

    Composition is exact: labels only ever decrease toward (and never
    below) the component minimum, the minimum node always keeps itself,
    and the quotient of a connected component is connected, so phase 2's
    min-label per quotient component IS the component's min node id.
    Phase 2 inherits ``max_iterations`` and fails loudly on a true
    non-convergence (ADVICE r11) instead of emitting partial labels.
    """
    edges = cut_lineage(
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .union(pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
        .distinct()
    )
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
    )
    prev_sum = None
    converged = False
    for _ in range(label_rounds):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.node)
            .groupBy("src")
            .agg(F.min("component").alias("nbr_component"))
        )
        new_labels = (
            labels.join(neighbor_min, labels.node == neighbor_min.src, "left")
            .select(
                "node",
                F.least(
                    F.col("component"),
                    F.coalesce(F.col("nbr_component"), F.col("component")),
                ).alias("component"),
            )
        )
        # pointer jumping: follow the component's own (possibly smaller)
        # label; the propagate result is pinned first because the
        # self-join consumes it on both sides.  Both cuts are LAZY, so
        # the sum aggregate below is the round's one ACTION — but not
        # its one job: with AQE on, that action still runs each shuffle
        # stage under the two cuts as its own job (4 + 3 + 2 = 9 jobs
        # per round in a profile).  Lazy only saves each cut's own
        # eager count job (r11 lesson).
        stepped = cut_lineage(new_labels, eager=False)
        roots = stepped.select(
            F.col("node").alias("__cnode"),
            F.col("component").alias("__ccomp"),
        )
        jumped = (
            stepped.join(roots, stepped.component == roots.__cnode, "left")
            .select(
                "node",
                F.least(
                    F.col("component"),
                    F.coalesce(F.col("__ccomp"), F.col("component")),
                ).alias("component"),
            )
        )
        labels = cut_lineage(jumped, eager=False)
        # Exact DECIMAL(38,0) sum: a bigint sum overflows (an ANSI error)
        # on hashed 64-bit ids.  Labels only ever decrease, so an equal
        # exact sum still means no label changed.
        cur_sum = labels.agg(
            F.sum(F.col("component").cast("decimal(38,0)"))
        ).first()[0]
        if cur_sum == prev_sum:
            converged = True
            break
        prev_sum = cur_sum
    if converged:
        return labels
    # phase 2: star-contract the label quotient (tiny by now) and compose
    la = labels.select(F.col("node").alias("src"), F.col("component").alias("__ca"))
    lb = labels.select(F.col("node").alias("dst"), F.col("component").alias("__cb"))
    quotient = (
        edges.join(la, "src")
        .join(lb, "dst")
        .filter(F.col("__ca") != F.col("__cb"))
        .select(F.col("__ca").alias("id_a"), F.col("__cb").alias("id_b"))
    )
    comp2 = _star_contract(quotient, max_iterations)
    return labels.join(
        comp2, labels.component == comp2.node, "left"
    ).select(
        labels.node.alias("node"),
        F.coalesce(comp2.component, labels.component).alias("component"),
    )


def _star_contract(
    pairs: DataFrame,
    max_iterations: int = 20,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """(id_a, id_b) edges -> (node, component), component = min node id.

    Round-12 shape: the same alternating large-star / small-star edge
    contraction shipped in round 11, with the star-forest convergence test
    FUSED into the round's large-star groupBy and moved to loop ENTRY.
    Every star edge points child > parent (large-star emits m <= u < v,
    small-star emits min(Γ⁻) < x), so over the symmetric edge set E a
    node's child-degree is |{v < u}| and parent-degree |{v > u}| — ONE
    groupBy(u) yields min(v) for the large-star rewire AND both counts
    for the exact test (violation: both parent and child, or child of
    two parents).  Checking the round's INPUT instead of its output is
    the identical test one position earlier in the same contraction
    sequence (both loops stop at the first star forest), and
    contraction is the identity on a star forest, so outputs are
    bit-identical; the redundant per-round ``distinct`` on the
    large-star output is dropped (small-star's groupBy-min ignores
    duplicates and its own distinct dedups the union).  Net per round
    vs the r11 loop: 5-6 exchanges -> 3 and no separate 2|E|-row
    violations pass — the shallow-graph scheduling cost the r11 driver
    board flagged (q_grid_density_clusters 0.56x).
    """
    E = cut_lineage(
        pairs.select(F.col(id_a).alias("u"), F.col(id_b).alias("v"))
        .union(pairs.select(F.col(id_b).alias("u"), F.col(id_a).alias("v")))
        .distinct()
    )
    nodes = E.select(F.col("u").alias("node")).distinct()
    stars = E.filter(F.col("u") > F.col("v")).select(
        F.col("u").alias("s"), F.col("v").alias("t")
    )

    def head(edges: DataFrame) -> DataFrame:
        # fused round head: large-star minimum + star-forest test counts
        return edges.groupBy("u").agg(
            F.min("v").alias("__mn"),
            F.sum(F.when(F.col("u") > F.col("v"), 1).otherwise(0)).alias(
                "__nc"
            ),
            F.sum(F.when(F.col("u") < F.col("v"), 1).otherwise(0)).alias(
                "__np"
            ),
        )

    def n_violations(g: DataFrame) -> int:
        return g.filter(
            ((F.col("__np") > 0) & (F.col("__nc") > 0))
            | (F.col("__nc") > 1)
        ).count()

    converged = False
    for _ in range(max_iterations):
        g = head(E)
        # The round's ONE action: materializes the previous round's
        # lazily-cut stars in passing (the r11 job-count lesson).  g is
        # NOT cut: the large-star join below recomputes the tiny
        # edge-grain aggregate inside the next action's job, where its
        # exchange is shared with the join's probe side — cutting it
        # would either add a job (eager) or put two joins between lazy
        # cuts (the measured r11 pathology).
        if n_violations(g) == 0:
            converged = True
            break
        # large-star: (v, m(u)) for v in Γ(u), v > u; m ≤ u < v keeps
        # every emitted edge strictly parent-pointing (a > b).  No
        # distinct: duplicates collapse in sm's min and ss's distinct.
        lm = g.select(
            "u", F.least(F.col("u"), F.col("__mn")).alias("__m")
        )
        ls = (
            E.join(lm, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("a"), F.col("__m").alias("b"))
        )
        # small-star: per parent a, rewire Γ⁻(a) ∪ {a} to min(Γ⁻(a)).
        sm = ls.groupBy("a").agg(F.min("b").alias("__m"))
        ss = (
            ls.join(sm, "a")
            .select(F.col("b").alias("x"), F.col("__m").alias("m"))
            .unionAll(sm.select(F.col("a").alias("x"), F.col("__m").alias("m")))
            .filter(F.col("x") != F.col("m"))
            .select(F.col("x").alias("s"), F.col("m").alias("t"))
            .distinct()
        )
        stars = cut_lineage(ss, eager=False)
        # E must stay free of duplicate edges: the fused head would
        # count a repeated edge twice, and __nc > 1 would then read as
        # a node with two parents (a false violation).  ss's distinct,
        # with every star edge s > t, guarantees it.
        E = stars.select(F.col("s").alias("u"), F.col("t").alias("v")).unionAll(
            stars.select(F.col("t").alias("u"), F.col("s").alias("v"))
        )
    if not converged:
        # The cap-exhausted path's final contraction is unchecked above;
        # re-test it and FAIL LOUDLY on true non-convergence instead of
        # silently emitting min-parent labels that are not a valid
        # partition labeling (ADVICE r11: the silent-cap failure mode).
        E = stars.select(F.col("s").alias("u"), F.col("t").alias("v")).unionAll(
            stars.select(F.col("t").alias("u"), F.col("s").alias("v"))
        )
        v = n_violations(head(E))
        if v != 0:
            raise RuntimeError(
                f"connected_components: star contraction not converged "
                f"after {max_iterations} rounds ({v} star-forest "
                f"violations) — raise max_iterations"
            )
    # min-parent extraction: a no-op at convergence (each child has
    # exactly one parent in a star forest); kept for the one-row-per-
    # node contract.
    roots = stars.groupBy("s").agg(F.min("t").alias("__comp")).select(
        F.col("s").alias("node"), "__comp"
    )
    return nodes.join(roots, "node", "left").select(
        "node", F.coalesce(F.col("__comp"), F.col("node")).alias("component")
    )


def pagerank_integer(
    edges: DataFrame,
    iterations: int = 5,
    scale: int = 10**12,
    damping_pct: int = 85,
    symmetric: bool = False,
) -> DataFrame:
    """Fixed-iteration PageRank in EXACT integer arithmetic.

    ``edges`` is a directed (src, dst) edge list; the node set is every
    node with out-degree >= 1 (feed symmetric edges for an undirected
    graph, which also removes dangling-node mass loss).  Ranks are scaled
    bigints (initial mass = ``scale`` per node); each step is

        rank' = (100-d)%*scale + d% * sum(rank_src div out_degree_src)

    with truncating integer division throughout — bit-identical across
    engines (no float summation-order sensitivity), so the result is
    hash-checkable against an unrolled SQL oracle.

    Scale shape: one shuffle per iteration (groupBy dst), the out-degree
    table joins broadcast-size, and lineage is cut per iteration with
    ``lineage.cut_lineage`` — reliable ``checkpoint()`` to cluster
    storage when a checkpoint dir is configured, ``localCheckpoint``
    locally; the plan per iteration is identical either way.

    ``symmetric=True`` declares the edge list symmetric (every (a,b) has
    its (b,a)) — then every node with out-degree also has in-degree, the
    per-iteration left join against the node spine is an identity, and
    the update reduces to renaming the contribution aggregate: one join +
    one agg per round instead of two joins.  Results are bit-identical
    to the general path for symmetric inputs.
    """
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("out_degree"))
    # (src, dst, out_degree) — static per run, reused every iteration.
    # LAZY cut (the connected_components lesson): there is no per-round
    # action in this loop — the terminal action materializes every
    # pinned RDD as it runs, so an eager cut would only add a separate
    # full-materialization job.  Safe: deterministic input, and the
    # first materialization caches the blocks every iteration reuses.
    # (A/B at sf0.1, min-of-6: lazy and eager are within the ±0.15 s
    # noise band here; lazy is kept for the job-count reduction.)
    ed = cut_lineage(edges.join(deg, "src"), eager=False)
    base = (100 - damping_pct) * scale // 100
    ranks = deg.select(F.col("src").alias("node"), F.lit(scale).alias("rank"))
    for it in range(iterations):
        contrib = (
            ed.join(ranks, ed.src == ranks.node)
            .select("dst", F.expr("rank div out_degree").alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("in_mass"))
        )
        upd = (
            F.lit(base)
            + F.expr(f"({damping_pct} * coalesce(in_mass, 0)) div 100")
        ).alias("rank")
        if symmetric:
            # symmetric graph: contrib's dst set IS the node set
            ranks = contrib.select(F.col("dst").alias("node"), upd)
        else:
            ranks = (
                deg.select(F.col("src").alias("node"))
                .join(contrib, F.col("node") == contrib.dst, "left")
                .select("node", upd)
            )
        # Cut every 2nd round: lineage depth stays bounded at two
        # join+agg levels — well inside codegen/stack limits — while
        # halving the materialization jobs an every-round cut would
        # schedule.  The final round stays uncut (its consumer is the
        # terminal action; materializing first would only add a job).
        # On a cluster each cut is a reliable checkpoint (see
        # cut_lineage), so failure recovery replays at most one round.
        # LAZY: with no per-round action, the terminal action runs the
        # whole chain as one job and persists each pinned RDD in
        # passing — eager cuts were measured as pure job-scheduling
        # overhead on the small-graph benchmarks (profiled via
        # scripts/profile_query.py: q_pagerank 22 jobs, none above
        # 0.2 cpu-s).
        if it % 2 == 1 and it != iterations - 1:
            ranks = cut_lineage(ranks, eager=False)
    return ranks


def triangle_counts(edges: DataFrame) -> DataFrame:
    """Per-node triangle participation over an undirected graph.

    ``edges`` must be canonical (src < dst, distinct).  Triangles are
    enumerated once each via the oriented wedge join (a<b<c):
    e(a,b) ⋈ e(b,c) ⋈ e(a,c) — two self-joins, both equi-joins that
    Catalyst plans as shuffle-hash/sort-merge on the node key, never a
    cartesian.  Returns (node, n_triangles) for every node in >= 1
    triangle, each triangle crediting all three corners.
    """
    e1 = edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    e2 = edges.select(F.col("src").alias("b"), F.col("dst").alias("c"))
    e3 = edges.select(F.col("src").alias("a2"), F.col("dst").alias("c2"))
    tri = (
        e1.join(e2, "b")
        .join(e3, (F.col("a") == F.col("a2")) & (F.col("c") == F.col("c2")))
        .select("a", "b", "c")
    )
    corners = (
        tri.select(F.col("a").alias("node"))
        .unionAll(tri.select(F.col("b").alias("node")))
        .unionAll(tri.select(F.col("c").alias("node")))
    )
    return corners.groupBy("node").agg(F.count(F.lit(1)).alias("n_triangles"))


def bellman_ford(
    edges: DataFrame,
    sources: DataFrame,
    iterations: int,
    weight_col: str | None = None,
    inf: int = 2**40,
) -> DataFrame:
    """Bounded-iteration multi-source shortest paths in EXACT integer
    arithmetic — Bellman-Ford relaxation; with ``weight_col=None`` every
    edge costs 1 and the result is multi-source BFS hop levels.

    ``edges`` is a directed (src, dst[, weight]) list (feed symmetric
    edges for an undirected graph); ``sources`` is a one-column ``node``
    frame.  The distance spine holds every node that appears on either
    edge end, seeded 0 for sources and the ``inf`` sentinel otherwise;
    each round relaxes

        dist'[v] = least(dist[v], min over in-edges (dist[u] + w(u,v)))

    so after k rounds every node whose shortest path uses <= k edges
    carries its exact distance (integer weights => no float
    summation-order sensitivity; the trajectory is bit-identical to an
    unrolled k-level SQL oracle).  Unreached nodes keep the sentinel and
    are dropped from the result.

    Scale shape: one shuffle per round (the min-relaxation groupBy on
    ``dst``); already-settled infinite rows are filtered out of the
    relaxation probe side, so each round's join carries only the reached
    frontier's closure; lineage is cut every second round through
    ``lineage.cut_lineage`` (reliable ``checkpoint()`` on a cluster with
    a checkpoint dir, ``localCheckpoint`` locally), the same bounded-plan
    discipline as ``pagerank_integer``.
    """
    w = (
        F.col(weight_col).cast("bigint")
        if weight_col
        else F.lit(1).cast("bigint")
    )
    ed = cut_lineage(
        edges.select(F.col("src"), F.col("dst"), w.alias("__w")), eager=False
    )
    nodes = (
        ed.select(F.col("src").alias("node"))
        .union(ed.select(F.col("dst").alias("node")))
        .distinct()
    )
    dist = nodes.join(
        sources.select(F.col("node"), F.lit(0).cast("bigint").alias("__s")),
        "node",
        "left",
    ).select(
        "node",
        F.coalesce(F.col("__s"), F.lit(inf).cast("bigint")).alias("dist"),
    )
    for it in range(iterations):
        relax = (
            ed.join(
                dist.filter(F.col("dist") < inf), ed.src == dist.node
            )
            .select("dst", (F.col("dist") + F.col("__w")).alias("__cand"))
            .groupBy("dst")
            .agg(F.min("__cand").alias("__nd"))
        )
        dist = dist.join(relax, dist.node == relax.dst, "left").select(
            "node",
            F.least(
                F.col("dist"), F.coalesce(F.col("__nd"), F.col("dist"))
            ).alias("dist"),
        )
        # LAZY for the same reason as pagerank_integer's round cuts: no
        # per-round action, so the terminal action materializes the
        # pinned RDDs in one job instead of one eager job per cut.
        if it % 2 == 1 and it != iterations - 1:
            dist = cut_lineage(dist, eager=False)
    return dist.filter(F.col("dist") < inf)


def kcore_peel(edges: DataFrame, k: int, rounds: int) -> DataFrame:
    """Bounded k-core peel: each round drops every node whose current
    degree is < k, plus its incident edges; survivors are returned with
    their residual degree after ``rounds`` peels.

    ``edges`` is a SYMMETRIC directed edge list (both directions of each
    undirected edge), so degree = out-degree on ``src``.  The peel is
    confluent — the k-core is the unique maximal subgraph of min-degree
    >= k, independent of removal order — so if the peel converges within
    the round budget the result IS the exact k-core; either way the
    bounded trajectory is bit-identical to an unrolled SQL oracle (pure
    integer counting, no floats).

    Scale shape: one degree groupBy + two semi-joins per round (the same
    shuffle budget as a Bellman-Ford relaxation); the edge frame only
    shrinks, and lineage is cut every second round so the plan stays
    bounded (``lineage.cut_lineage``: reliable ``checkpoint()`` on a
    cluster with a checkpoint dir, ``localCheckpoint`` locally).
    """
    e = edges.select("src", "dst")
    for r in range(rounds):
        keep = (
            e.groupBy("src")
            .agg(F.count(F.lit(1)).alias("deg"))
            .filter(F.col("deg") >= k)
            .select("src")
        )
        e = e.join(keep, "src", "left_semi").join(
            keep.select(F.col("src").alias("dst")), "dst", "left_semi"
        )
        # LAZY (see pagerank_integer): the terminal action materializes
        # the pinned edge RDDs in passing; the peel's own keep-join
        # consumes each round's edges twice, and the persisted blocks
        # cover both consumers.
        if r % 2 == 1 and r != rounds - 1:
            e = cut_lineage(e, eager=False)
    return (
        e.groupBy("src")
        .agg(F.count(F.lit(1)).alias("deg"))
        .select(F.col("src").alias("node"), "deg")
    )


def label_propagation_mode(sym: DataFrame, rounds: int = 4) -> DataFrame:
    """Synchronous mode-label propagation [Raghavan, Albert & Kumara
    2007] — the near-linear community detector: every node starts as
    its own community, and each round adopts the label MOST FREQUENT
    among its neighbors, ties broken to the SMALLEST label (the
    deterministic synchronous variant; the paper's random asynchronous
    order is not reproducible across engines).  Fixed ``rounds`` keeps
    the trajectory engine-identical (unrolled CTE oracle), the same
    bounded-iteration contract as kcore_peel / pagerank_integer.
    Distinct from connected_components: mode-adoption lets DENSE
    regions keep their own label against a bridge edge, so one thin
    connection does not merge two communities.

    Scale shape: per round one edges⋈labels shuffle + one (node, label)
    count + one per-node argmax window — all on the edge grain;
    ``cut_lineage`` per round stops plan replay (the connected_components
    lesson).  Returns (node, label)."""
    # LAZY cuts throughout (see pagerank_integer): the loop has no
    # per-round action, so the terminal action materializes every
    # pinned RDD in one job; each round's labels have a single consumer
    # (the next round) and the mode-window tie-break is deterministic.
    edges = cut_lineage(sym.select("src", "dst"), eager=False)
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
    )
    w = Window.partitionBy("__n").orderBy(
        F.col("__c").desc(), F.col("label").asc()
    )
    for _ in range(rounds):
        counts = (
            edges.join(labels, edges.dst == labels.node)
            .select(F.col("src").alias("__n"), "label")
            .groupBy("__n", "label")
            .agg(F.count(F.lit(1)).alias("__c"))
        )
        labels = cut_lineage(
            counts.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .select(F.col("__n").alias("node"), "label"),
            eager=False,
        )
    return labels
