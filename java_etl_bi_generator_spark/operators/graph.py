"""Graph operators over edge-list DataFrames.

``connected_components`` is the final step of corpus dedup: candidate
pairs (from MinHash/SimHash/cosine) form a graph, each connected
component is one duplicate cluster, and one representative per cluster
is kept.  It labels the graph with a union-find on the driver whenever
the distinct edges fit a bounded collect, and otherwise runs
distributed label rounds until the label-quotient graph fits.  The
other operators (PageRank, Bellman-Ford, k-core, label propagation) are
bounded-round loops whose data stays distributed, with
``lineage.cut_lineage`` cutting the growing plan (reliable
``checkpoint()`` when a checkpoint dir is configured, else
``localCheckpoint``).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window
from pyspark.sql.types import StructField, StructType

from ..lineage import cut_lineage
from .bounded import collect_at_most, local_frame

# Most edges connected_components collects to the driver: two Python
# ints per edge, a few hundred MB of driver memory at most.
DRIVER_EDGE_LIMIT = 1_000_000


def _union_find(edges) -> dict:
    """node -> minimum node id of its component, over (a, b) ``edges``.

    Path halving, and the smaller root wins every union, so each root is
    its component's minimum.  A null endpoint joins nothing and keeps a
    null label."""
    parent: dict = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        if a is None or b is None:
            continue
        ra, rb = find(a), find(b)
        if ra < rb:
            parent[rb] = ra
        elif rb < ra:
            parent[ra] = rb
    return {x: find(x) for x in parent}


def _label_frame(spark, labels: dict, id_type, names) -> DataFrame:
    """A driver-side ``labels`` dict as a two-column frame of ``id_type``."""
    return local_frame(
        spark,
        {names[0]: list(labels.keys()), names[1]: list(labels.values())},
        StructType([StructField(n, id_type) for n in names]),
    )


def connected_components(
    pairs: DataFrame,
    max_iterations: int = 20,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """(id_a, id_b) edges -> (node, component), component = min node id.

    One row per node; ``node`` and ``component`` keep the edges' id type.

    If the distinct edges number at most ``DRIVER_EDGE_LIMIT``, they are
    collected and union-found on the driver, and the labels come back
    through Arrow.  Otherwise up to ``max_iterations`` distributed
    propagate+jump label rounds run: each round takes every node's
    minimum neighbour label, then follows that label's own label.  After
    each round the label-quotient edges (the endpoint labels of edges
    that still cross two labels) get the same bounded collect, which is
    the round's one action; once they fit, the union-find finishes them
    and its labels are joined back.  This is exact: every label is a
    node of the same component, the component's minimum keeps itself,
    and the quotient of a connected component is connected.  A graph
    whose quotient still does not fit after ``max_iterations`` rounds
    raises ``RuntimeError``.
    """
    spark = pairs.sparkSession
    directed = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    sym = directed.union(
        pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst"))
    )
    id_type = sym.schema["src"].dataType
    found = collect_at_most(directed.distinct(), DRIVER_EDGE_LIMIT)
    if found is not None:
        return _label_frame(
            spark, _union_find(found), id_type, ("node", "component")
        )

    edges = cut_lineage(sym.distinct(), eager=False)
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
    )
    for _ in range(max_iterations):
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
        # pointer jumping: the self-join reads the propagate result on
        # both sides, so it is pinned first
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
        la = labels.select(
            F.col("node").alias("src"), F.col("component").alias("__ca")
        )
        lb = labels.select(
            F.col("node").alias("dst"), F.col("component").alias("__cb")
        )
        # edges are symmetric, so each crossing pair appears once as a < b
        found = collect_at_most(
            edges.join(la, "src")
            .join(lb, "dst")
            .filter(F.col("__ca") < F.col("__cb"))
            .select("__ca", "__cb")
            .distinct(),
            DRIVER_EDGE_LIMIT,
        )
        if found is not None:
            finish = _label_frame(
                spark, _union_find(found), id_type, ("__label", "__root")
            )
            return labels.join(
                finish, labels.component == F.col("__label"), "left"
            ).select(
                "node",
                F.coalesce(F.col("__root"), F.col("component")).alias(
                    "component"
                ),
            )
    raise RuntimeError(
        f"connected_components: label quotient still above "
        f"{DRIVER_EDGE_LIMIT} edges after {max_iterations} rounds; "
        f"raise max_iterations"
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
