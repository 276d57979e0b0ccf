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

- The **model** (m × k × subdim micro-units) lives on the driver and
  ships to workers in the task closure.  k ≤ a few thousand and dim ≤ a
  few thousand ⇒ at most a few MB — the standard "broadcast the model,
  shuffle only the sufficient statistics" layout.
- **Assignment is a pure map** (``assign_codes_int``): each Arrow batch
  runs one exact int64 matmul + argmin per codebook (ties to the lowest
  index), all m codebooks in one ``mapInPandas`` pass.  No join, no
  shuffle.  A batch whose arithmetic could leave int64 raises.
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
from pyspark.sql.types import IntegerType, LongType, StructField, StructType

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
    ``array<array<bigint>>`` of a list of int lists (an ADC lookup,
    residual or query table) — built from ONE parsed SQL string.
    Building every component as its own ``F.lit(..).cast(..)`` Column
    costs one py4j round-trip per element and a literal tree of the
    same size for the analyzer to walk on every job
    (OPTIMIZATION_r11.md); one ``F.expr`` parse hands the whole value
    to the JVM at once, with the values, types and nullability of the
    per-element form."""

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


def assign_codes_int(
    df: DataFrame,
    codebooks: list[list[list[int]]],
    vec_col: str,
    code_cols: list[str],
    dist_cols: list[str] | None = None,
) -> DataFrame:
    """``df`` plus one int code column per codebook: codebook s assigns
    the s-th contiguous slice of ``vec_col`` (an array<bigint> of
    micro-units, see quantize_micro) to its nearest centroid by exact
    squared L2, ties to the lowest index (``np.argmin`` returns the
    first minimum).  One codebook is plain k-means assignment; m
    codebooks are a product quantizer's encode, all m in one pass.
    ``dist_cols`` names optional bigint columns for each code's exact
    squared L2, ‖v_s‖² + min_c(‖c‖² − 2·v_s·c).

    The model ships to workers in the task closure (the "broadcast the
    model" layout: a few MB even at k·dim ~ 10⁶) and each Arrow batch
    runs one int64 matmul + argmin per codebook.  Every product and
    partial sum is bounded by subdim·(max|v| + max|c|)², so a batch
    past 2⁶³ raises ``OverflowError`` before any arithmetic instead of
    returning wrong codes."""
    import numpy as np

    books = [np.asarray(cb, dtype=np.int64) for cb in codebooks]  # k × subdim
    subdim = books[0].shape[1]
    cmax = max(max(-int(C.min()), int(C.max())) for C in books)

    def check(vmax: int) -> None:
        if subdim * (vmax + cmax) ** 2 >= 2**63:
            raise OverflowError(
                f"assign_codes_int: subdim {subdim} x (max|v| {vmax} + "
                f"max|c| {cmax})^2 exceeds int64"
            )

    check(0)
    norms = [(C * C).sum(axis=1) for C in books]  # ‖c‖², k per codebook
    dist_cols = dist_cols or []
    schema = StructType(
        df.schema.fields
        + [StructField(c, IntegerType()) for c in code_cols]
        + [StructField(c, LongType()) for c in dist_cols]
    )

    def _assign(batches):
        for pdf in batches:
            if len(pdf) == 0:
                yield pdf.assign(**{c: [] for c in code_cols + dist_cols})
                continue
            V = np.array(pdf[vec_col].tolist(), dtype=np.int64)  # B × dim
            check(max(-int(V.min()), int(V.max())))
            pdf = pdf.copy()
            rows = np.arange(len(pdf))
            for s, (C, cc) in enumerate(zip(books, norms)):
                Vs = V[:, s * subdim : (s + 1) * subdim]
                # ‖v‖² is constant per row, so the argmin leaves it out
                d = cc[None, :] - 2 * (Vs @ C.T)  # B × k
                code = np.argmin(d, axis=1)
                pdf[code_cols[s]] = code.astype("int32")
                if dist_cols:
                    pdf[dist_cols[s]] = (Vs * Vs).sum(axis=1) + d[rows, code]
            yield pdf

    return df.mapInPandas(_assign, schema=schema)


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
    subspace.  Each round assigns every subspace in one pass
    (assign_codes_int), shuffles one sum/count row per (cell,
    coordinate) and floor-divides on the driver; empty cells keep their
    centroid."""
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
    cells = [f"__c{s}" for s in range(m)]
    # the cell of coordinate __pos is the one of its subspace (m=1 skips
    # the array lookup); the driver splits __pos back into (subspace,
    # position in subspace)
    cell = F.col("__c0") if m == 1 else F.element_at(
        F.array(*cells), F.expr(f"CAST(__pos div {subdim} AS INT)") + 1
    )
    for _ in range(iters):
        assigned = assign_codes_int(vecs, models, "__v", cells)
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
