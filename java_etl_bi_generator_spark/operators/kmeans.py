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
  runs the exact int64 matmul + argmin of ``_nearest_codes`` per
  codebook (ties to the lowest index), all m codebooks in one
  ``mapInPandas`` pass.  No join, no shuffle.  A batch whose arithmetic
  could leave int64 raises.
- **Training up to ``DRIVER_LLOYD_LIMIT`` components (N·dim) runs on the
  driver.**  One bounded collect (``operators.bounded``) brings the
  quantized vectors over in (md5(id), id) order, so its first k rows
  are the seeds, and every round runs in numpy with the same kernel and
  the same integer update.  Below the bound the whole sufficient
  statistic is the data, and one job replaces the seed collect and
  every round.
- **Above it, each round is distributed and shuffles only m × k × subdim
  rows**: ``posexplode`` the vector, partial-aggregate ``sum(v), count``
  per (cell of the coordinate's subspace, coordinate) map-side, final
  combine is m × k × subdim rows regardless of corpus size.  The
  vectors are pinned once, since every round re-reads them; a round is
  one scan of the pin + one tiny shuffle + one collect.

``iters`` is fixed (no convergence-dependent row counts), and both
paths return the same model: a cell sum that could leave int64 raises
on both, as Spark's ANSI ``sum`` does.

Empty cells keep their previous centroid (documented standard choice;
re-seeding would break determinism).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame
from pyspark.sql.types import IntegerType, LongType, StructField, StructType

from ..functions.vectors import as_double_array
from ..lineage import cut_lineage
from .bounded import collect_at_most


MICRO = 1_000_000  # micro-unit quantization scale shared with the oracles

# Most vector components (N·dim) _lloyd_int trains on in driver memory.
# Counted in components, not vectors, so a wide input cannot blow up
# the driver.  Measured with ``scripts/scale_probe.py pq`` (SCALING.md).
DRIVER_LLOYD_LIMIT = 3_200_000
# Components per collected row: the driver collect cuts each vector into
# rows of at most this many, so its row bound is a component bound.
_ROW_COMPONENTS = 64


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


def _absmax(a) -> int:
    return max(-int(a.min()), int(a.max())) if a.size else 0


def _check_int64(subdim: int, vmax: int, cmax: int) -> None:
    if subdim * (vmax + cmax) ** 2 >= 2**63:
        raise OverflowError(
            f"subdim {subdim} x (max|v| {vmax} + max|c| {cmax})^2 exceeds "
            "int64"
        )


def _nearest_codes(V, books: list) -> list:
    """The one exact assignment kernel.  ``V`` is an N × dim int64 array
    of micro-units and ``books`` m codebooks, each a k × subdim int64
    array; codebook s assigns the s-th contiguous slice of every row.
    Returns, per codebook, (code, d): the nearest centroid's index by
    exact squared L2, ties to the lowest index (``np.argmin`` returns
    the first minimum), and d = ‖c‖² − 2·v_s·c at that centroid.

    Every product and partial sum is bounded by subdim·(max|v| +
    max|c|)², so inputs past 2⁶³ raise ``OverflowError`` before any
    arithmetic instead of returning wrong codes."""
    import numpy as np

    subdim = books[0].shape[1]
    _check_int64(subdim, _absmax(V), max(_absmax(C) for C in books))
    rows = np.arange(len(V))
    out = []
    for s, C in enumerate(books):
        Vs = V[:, s * subdim : (s + 1) * subdim]
        # ‖v‖² is constant per row, so the argmin leaves it out
        d = (C * C).sum(axis=1)[None, :] - 2 * (Vs @ C.T)  # N × k
        code = np.argmin(d, axis=1)
        out.append((code, d[rows, code]))
    return out


def assign_codes_int(
    df: DataFrame,
    codebooks: list[list[list[int]]],
    vec_col: str,
    code_cols: list[str],
    dist_cols: list[str] | None = None,
) -> DataFrame:
    """``df`` plus one int code column per codebook: codebook s assigns
    the s-th contiguous slice of ``vec_col`` (an array<bigint> of
    micro-units, see quantize_micro) to its nearest centroid
    (``_nearest_codes``).  One codebook is plain k-means assignment; m
    codebooks are a product quantizer's encode, all m in one pass.
    ``dist_cols`` names optional bigint columns for each code's exact
    squared L2, ‖v_s‖² + min_c(‖c‖² − 2·v_s·c).

    The model ships to workers in the task closure (the "broadcast the
    model" layout: a few MB even at k·dim ~ 10⁶) and each Arrow batch
    runs ``_nearest_codes``.  A model too large for int64 arithmetic
    raises ``OverflowError`` before any job, a batch of too large
    vectors when it runs."""
    import numpy as np

    books = [np.asarray(cb, dtype=np.int64) for cb in codebooks]  # k × subdim
    subdim = books[0].shape[1]
    _check_int64(subdim, 0, max(_absmax(C) for C in books))
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
            pdf = pdf.copy()
            for s, (code, d) in enumerate(_nearest_codes(V, books)):
                pdf[code_cols[s]] = code.astype("int32")
                if dist_cols:
                    Vs = V[:, s * subdim : (s + 1) * subdim]
                    pdf[dist_cols[s]] = (Vs * Vs).sum(axis=1) + d
            yield pdf

    return df.mapInPandas(_assign, schema=schema)


def _subdim(dim: int, m: int, name: str) -> int:
    if dim % m != 0:
        raise ValueError(f"{name}: dim {dim} not divisible by m {m}")
    return dim // m


def _collected_vectors(table, name: str):
    """The N × dim int64 array of a driver collect of ``_lloyd_int``
    (rows of at most _ROW_COMPONENTS components, in vector order)."""
    import numpy as np
    import pyarrow.compute as pc

    flat = pc.list_flatten(table.column("__v"))
    dims = table.column("__dim")
    if (flat.null_count or dims.null_count
            or pc.min(dims).as_py() != pc.max(dims).as_py()):
        raise ValueError(f"{name}: vectors must be non-null and of one dim")
    n = pc.sum(pc.equal(table.column("__part"), 0)).as_py()
    values = flat.to_numpy().astype(np.int64, copy=False)
    return values.reshape(n, dims[0].as_py())


def _lloyd_rounds(V, m: int, k: int, iters: int, name: str) -> list:
    """``_lloyd_int``'s rounds on the driver over the N × dim micro-unit
    array ``V``, in (md5(id), id) order: the first k rows seed, and each
    round assigns with ``_nearest_codes`` and floor-divides every cell's
    int64 sum by its count; empty cells keep their centroid."""
    import numpy as np

    n, dim = V.shape
    subdim = _subdim(dim, m, name)
    if n * _absmax(V) >= 2**63:
        raise OverflowError(
            f"{name}: cell sum bound {n} x max|v| {_absmax(V)} exceeds int64"
        )
    books = [V[:k, s * subdim : (s + 1) * subdim].copy() for s in range(m)]
    # rows per kernel call: its N × k distance block stays a few MB
    step = max(1, 2**20 // len(books[0]))
    for _ in range(iters):
        codes = [np.empty(n, dtype=np.int64) for _ in range(m)]
        for lo in range(0, n, step):
            found = _nearest_codes(V[lo : lo + step], books)
            for s, (code, _) in enumerate(found):
                codes[s][lo : lo + step] = code
        for s, code in enumerate(codes):
            sums = np.zeros_like(books[s])
            np.add.at(sums, code, V[:, s * subdim : (s + 1) * subdim])
            count = np.bincount(code, minlength=len(sums))[:, None]
            mean = sums // np.maximum(count, 1)
            books[s] = np.where(count > 0, mean, books[s])
    return [C.tolist() for C in books]


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
    subspace; each round assigns every vector to its nearest centroid
    per subspace, and a cell's new centroid is the floor-divided mean
    of its members; empty cells keep their centroid.

    Up to ``DRIVER_LLOYD_LIMIT`` components, one bounded collect takes
    the vectors in seed order, cut into rows of ``_ROW_COMPONENTS``, and
    the rounds run on the driver (``_lloyd_rounds``): one job in all.
    Above it the vectors are pinned, since every round re-reads them,
    one more job collects the seeds, and each round assigns every
    subspace in one pass (assign_codes_int), shuffles one sum/count row
    per (cell, coordinate) and floor-divides on the driver."""
    qcol = F.col(vec_col) if pre_quantized else quantize_micro(vec_col)
    vectors = embeddings.select(
        F.md5(F.col(id_col).cast("string")).alias("__h"),
        F.col(id_col).alias("__id"),
        qcol.alias("__v"),
    )
    # the offset of each row's first component; an empty vector keeps
    # one (empty) row
    w = F.lit(_ROW_COMPONENTS)
    starts = F.sequence(F.lit(0), F.greatest(F.size("__v") - 1, F.lit(0)), w)
    pieces = vectors.select(
        "__h",
        "__id",
        F.size("__v").alias("__dim"),
        F.posexplode(
            F.transform(starts, lambda i: F.slice("__v", i + 1, w))
        ).alias("__part", "__v"),
    )
    table = collect_at_most(
        pieces,
        DRIVER_LLOYD_LIMIT // _ROW_COMPONENTS,
        [F.col("__h"), F.col("__id"), F.col("__part")],
        arrow=True,
    )
    if table is not None:
        if table.num_rows == 0:
            raise ValueError(f"{name}: no input vectors to seed from")
        V = _collected_vectors(table, name)
        return _lloyd_rounds(V, m, k, iters, name)

    vectors = cut_lineage(vectors, eager=False)
    seeds = vectors.orderBy("__h", "__id").limit(k).collect()
    subdim = _subdim(len(seeds[0]["__v"]), m, name)
    models = [
        [list(r["__v"])[s * subdim : (s + 1) * subdim] for r in seeds]
        for s in range(m)
    ]
    vecs = vectors.select("__v")
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
