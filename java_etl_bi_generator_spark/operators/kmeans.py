"""Distributed integer-pinned k-means (Lloyd's) over an embedding column
— the trainer for the IVF coarse quantizer and the PQ codebooks
(similarity.py's ``ivf_topk`` consumes any cell assignment).  Public
algorithm (Lloyd 1982; the IVF coarse quantizer in FAISS is exactly
this).

Every quantity is an exact integer, so training is bit-identical across
engines AND across partitionings (the DuckDB oracles unroll the same
arithmetic):

- components quantize to micro-units: xi = floor(x·1e6 + 0.5) (the
  per-row IEEE step both engines evaluate identically);
- distances are exact bigint Σ(xi−ci)²;
- means are FLOOR-DIVIDED integer centroids (sum // n, the pinned
  ((s % n) + n) % n remainder form in SQL) — at most one micro-unit of
  centroid precision traded for cross-engine reproducibility;
- seeds order by (md5(vec_id), vec_id) — hash order decorrelates the
  seeds from ingestion order, with an explicit total-order tiebreak.

One Lloyd loop (``_lloyd_int``) trains both model kinds: a product
quantizer of m codebooks over contiguous subspace slices, with plain
k-means as its m=1 case.  ``kmeans_fit_int`` and ``pq_fit_int`` are
thin entry points over it.

Scale shape — the part that matters at 100 TB:

- The **model** (m × k × subdim micro-units) lives on the driver and is
  folded into the plan as one literal table per subspace and iteration
  (``bigint_literal``).  k ≤ a few thousand and dim ≤ a few thousand ⇒
  at most a few MB of literals — the standard "broadcast the model,
  shuffle only the sufficient statistics" layout.
- **Assignment is a pure map** (``assign_cells_int``): per row,
  squared-L2 to each literal centroid via ``aggregate(zip_with(...))``
  higher-order functions (JVM-side, no UDF), argmin via ``array_min``
  over ``struct(dist, idx)`` (struct ordering ⇒ ties break to the
  lowest index, deterministically).  No join, no shuffle.  Past
  ``ARROW_ASSIGN_LITERAL_LIMIT`` k×subdim components the model ships in
  the task closure instead (Arrow argmin, bit-identical).
- **Update shuffles only m × k × subdim rows**: ``posexplode`` the
  vector, partial-aggregate ``sum(v), count`` per (cell of the
  coordinate's subspace, coordinate) map-side, final combine is
  m × k × subdim rows regardless of corpus size.
- Per iteration: one scan + one tiny shuffle + one collect.  ``iters``
  is fixed (no convergence-dependent row counts).

Empty cells keep their previous centroid (documented standard choice;
re-seeding would break determinism).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from ..functions.vectors import as_double_array


MICRO = 1_000_000  # micro-unit quantization scale shared with the oracles


def quantize_micro(vec_col: Column | str) -> Column:
    """array<double> (or float) → array<bigint> micro-units:
    per-component floor(x·1e6 + 0.5)."""
    return F.transform(
        as_double_array(vec_col),
        lambda x: F.floor(x * F.lit(float(MICRO)) + F.lit(0.5)).cast(
            "bigint"
        ),
    )


def bigint_literal(values: list[int] | list[list[int]]) -> Column:
    """Literal ``array<bigint>`` of a list of ints — or
    ``array<array<bigint>>`` of a list of int lists (a centroid or
    lookup table) — built from ONE parsed SQL string.  Building every
    component as its own ``F.lit(..).cast(..)`` Column costs one py4j
    round-trip per element and a literal tree of the same size for the
    analyzer to walk on every job; for the PQ trainer (m·k·subdim
    literals rebuilt each Lloyd round) that construction+analysis
    overhead was the query's wall clock (q_pq_train_sampled: 12.5 s of
    a 14 s warm run spent in pq_fit_int driving 3 tiny jobs —
    OPTIMIZATION_r11.md).  One ``F.expr`` parse hands the whole value
    to the JVM at once; the values, types and nullability are those of
    the per-element form."""

    def sql(v) -> str:
        if isinstance(v, (list, tuple)):
            return "array(" + ",".join(sql(x) for x in v) + ")"
        return f"{int(v)}L"

    return F.expr(sql(values))


def sq_dist_int(vec: Column, centroid: list[int]) -> Column:
    """Exact bigint squared L2 between an array<bigint> column and a
    literal integer vector."""
    c = bigint_literal(centroid)
    return F.aggregate(
        F.zip_with(vec, c, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )


def _nearest_cands(vec: Column, centroids: list[list[int]]) -> Column:
    """array<struct<d,i>> of (exact bigint squared L2, centroid index)
    — the shared candidate builder: a ``transform`` loop over the
    one-literal centroid table instead of k unrolled distance subtrees
    (identical values, types and struct-min tie-break; the arithmetic
    is the same zip_with/aggregate fold per centroid)."""
    tbl = bigint_literal(centroids)
    k = len(centroids)
    return F.transform(
        F.sequence(F.lit(0), F.lit(k - 1)),
        lambda ci: F.struct(
            F.aggregate(
                F.zip_with(
                    vec,
                    F.element_at(tbl, ci + F.lit(1)),
                    lambda x, y: (x - y) * (x - y),
                ),
                F.lit(0).cast("bigint"),
                lambda acc, x: acc + x,
            ).alias("d"),
            ci.alias("i"),
        ),
    )


def nearest_cell_int(
    vec_col: Column | str, centroids: list[list[int]]
) -> Column:
    """Index of the nearest integer centroid by exact squared L2; ties
    deterministically to the lower index (struct min ordering).  Pass a
    raw embedding by NAME (quantized internally) or an
    already-quantized ``array<bigint>`` Column."""
    v = quantize_micro(vec_col) if isinstance(vec_col, str) else vec_col
    return F.array_min(_nearest_cands(v, centroids))["i"]


def nearest_cell_int_struct(
    vec_col: Column | str, centroids: list[list[int]]
) -> Column:
    """``struct(d, i)`` of the nearest integer centroid — the exact
    squared L2 AND the argmin index from one fold (ties to the lower
    index via struct-min, like nearest_cell_int).  Product quantization
    consumes both fields: ``i`` is the code, ``d`` the per-subspace
    quantization error."""
    v = quantize_micro(vec_col) if isinstance(vec_col, str) else vec_col
    return F.array_min(_nearest_cands(v, centroids))


# Model-size switch between the two exact assignment paths: the
# literal-plan form (nearest_cell_int — zero Python, whole-stage
# codegen) is unbeatable while the k×dim literal count stays small, but
# Catalyst's analysis + codegen cost grows with the literal count and
# measured 165 s to TRAIN k=223/dim=64 on 50k vectors (round-7 SemDeDup
# probe, SCALING.md) — the k~sqrt(N) regime needs the Arrow path below.
ARROW_ASSIGN_LITERAL_LIMIT = 4096  # k*dim above this → Arrow argmin


def assign_cells_arrow_int(
    df: DataFrame,
    centroids: list[list[int]],
    vec_col: str,
    cell_col: str = "cell",
) -> DataFrame:
    """Exact argmin assignment for LARGE k (the k~sqrt(N) SemDeDup /
    IVF regime): the k×dim micro-unit model ships to workers in the
    task closure (a few MB even at k·dim ~ 10⁶ — the standard
    "broadcast the model" layout), and each Arrow batch computes
    ``argmin_c(−2·v·c + ‖c‖²)`` as ONE int64 matmul + argmin.  All
    arithmetic is exact int64 (micro-unit components ≤ ~2e6, dim ≤ a
    few thousand → |dot| ≤ ~1e15, inside int64) and ``np.argmin``
    returns the FIRST minimum, matching nearest_cell_int's struct-min
    ties-to-lowest-index — so the two paths are bit-identical
    (tests/test_kmeans.py pins this).  ``vec_col`` must already be
    array<bigint> micro-units (quantize_micro)."""
    import numpy as np
    import pandas as pd  # noqa: F401  (mapInPandas contract)

    C = np.asarray(centroids, dtype=np.int64)  # k × dim
    cc = (C * C).sum(axis=1)  # ‖c‖², k

    out_fields = df.schema.fields
    out_schema = ", ".join(
        [f"`{f.name}` {f.dataType.simpleString()}" for f in out_fields]
        + [f"`{cell_col}` int"]
    )

    def _assign(batches):
        for pdf in batches:
            if len(pdf) == 0:
                yield pdf.assign(**{cell_col: []})
                continue
            V = np.array(pdf[vec_col].tolist(), dtype=np.int64)  # B × dim
            # ‖v‖² is constant per row — drop it from the argmin
            d = cc[None, :] - 2 * (V @ C.T)  # B × k, exact int64
            pdf = pdf.copy()
            pdf[cell_col] = np.argmin(d, axis=1).astype("int32")
            yield pdf

    return df.mapInPandas(_assign, schema=out_schema)




def assign_cells_int(
    df: DataFrame,
    centroids: list[list[int]],
    vec_col: str,
    cell_col: str = "cell",
) -> DataFrame:
    """``df`` plus ``cell_col``, the index of each row's nearest integer
    centroid.  The path is chosen by model size: the literal plan
    (nearest_cell_int) up to ``ARROW_ASSIGN_LITERAL_LIMIT`` k×dim
    components, the Arrow argmin (assign_cells_arrow_int) past it.  Both
    are exact and bit-identical, so the choice never changes a result.
    ``vec_col`` must already be array<bigint> micro-units."""
    if len(centroids) * len(centroids[0]) > ARROW_ASSIGN_LITERAL_LIMIT:
        return assign_cells_arrow_int(df, centroids, vec_col, cell_col)
    return df.withColumn(cell_col, nearest_cell_int(F.col(vec_col), centroids))


def _lloyd_int(
    embeddings: DataFrame,
    m: int,
    k: int,
    iters: int,
    id_col: str,
    vec_col: str,
    pre_quantized: bool,
    name: str,
) -> list[list[list[int]]]:
    """The one Lloyd loop: m × k × subdim micro-unit centroids, one
    codebook per contiguous subspace slice (m=1 is plain k-means).
    Seeds are the first k vectors in (md5(id), id) order, sliced per
    subspace.  Each round assigns every subspace (assign_cells_int),
    shuffles one sum/count row per (cell, coordinate) and floor-divides
    on the driver; empty cells keep their centroid."""
    qcol = F.col(vec_col) if pre_quantized else quantize_micro(vec_col)
    seeds = (
        embeddings.select(
            F.md5(F.col(id_col).cast("string")).alias("__h"),
            F.col(id_col).alias("__id"),
            qcol.alias("__v"),
        )
        .orderBy("__h", "__id")
        .limit(k)
        .collect()
    )
    if not seeds:
        raise ValueError(f"{name}: no input vectors to seed from")
    dim = len(seeds[0]["__v"])
    if dim % m != 0:
        raise ValueError(f"{name}: dim {dim} not divisible by m {m}")
    subdim = dim // m
    models = [
        [list(r["__v"])[s * subdim : (s + 1) * subdim] for r in seeds]
        for s in range(m)
    ]
    vecs = embeddings.select(qcol.alias("__v"))
    subs = ["__v"]
    if m > 1:
        subs = [f"__v{s}" for s in range(m)]
        vecs = vecs.select(
            "__v",
            *[
                F.slice("__v", s * subdim + 1, subdim).alias(sub)
                for s, sub in enumerate(subs)
            ],
        )
    cells = [f"__c{s}" for s in range(m)]
    # the cell of coordinate __pos is the one of its subspace (m=1 skips
    # the array lookup); the driver splits __pos back into (subspace,
    # position in subspace)
    cell = F.col("__c0") if m == 1 else F.element_at(
        F.array(*cells), F.expr(f"CAST(__pos div {subdim} AS INT)") + 1
    )
    for _ in range(iters):
        assigned = vecs
        for s, sub in enumerate(subs):
            assigned = assign_cells_int(assigned, models[s], sub, cells[s])
        stats = (
            assigned.select(*cells, F.posexplode("__v").alias("__pos", "__x"))
            .groupBy(cell.alias("__cell"), "__pos")
            .agg(F.sum("__x").alias("__sum"), F.count(F.lit(1)).alias("__n"))
            .collect()
        )
        nxt = [[list(c) for c in ms] for ms in models]
        for r in stats:
            s, p = divmod(r["__pos"], subdim)
            nxt[s][r["__cell"]][p] = int(r["__sum"]) // int(r["__n"])
        models = nxt
    return models


def kmeans_fit_int(
    embeddings: DataFrame,
    k: int = 8,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    pre_quantized: bool = False,
) -> list[list[int]]:
    """Integer-pinned Lloyd's: returns k × dim micro-unit centroids that
    any engine reproduces bit-for-bit from the same input (the m=1 case
    of the shared loop).  ``pre_quantized=True`` takes ``vec_col`` as
    array<bigint> micro-units directly — the IVF-PQ residual trainer
    needs this: residuals are exact integer differences, and
    re-quantizing a double form could drift by one micro-unit."""
    if k < 1:
        raise ValueError(f"kmeans_fit_int: k must be >= 1, got {k}")
    return _lloyd_int(
        embeddings, 1, k, iters, id_col, vec_col, pre_quantized,
        "kmeans_fit_int",
    )[0]


def pq_fit_int(
    embeddings: DataFrame,
    m: int,
    k: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    pre_quantized: bool = False,
) -> list[list[list[int]]]:
    """Train M product-quantizer codebooks in ONE distributed pass per
    Lloyd round — output-IDENTICAL to M independent ``kmeans_fit_int``
    runs over the subspace slices (same md5-ordered seed vectors sliced
    per subspace, same exact integer distance/update arithmetic; the
    equivalence is pinned by tests/test_kmeans.py), but the M seed
    collects fuse into one and each round runs one scan + one
    (m·k·subdim)-row sufficient-stats shuffle instead of M scans and M
    shuffles — the fixed-job-overhead reduction that matters when a
    query trains inline (q_pq_*, q_ivfpq_topk).  Returns m × k × subdim
    micro-unit centroids."""
    if k < 1 or m < 1:
        raise ValueError(f"pq_fit_int: m and k must be >= 1, got {m}, {k}")
    return _lloyd_int(
        embeddings, m, k, iters, id_col, vec_col, pre_quantized,
        "pq_fit_int",
    )
