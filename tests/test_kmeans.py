"""Distributed integer k-means trainer (operators/kmeans.py): recovery of
planted clusters, determinism, assignment semantics, and the IVF-trained
registry queries."""

from __future__ import annotations

import hashlib

import pyspark.sql.functions as F
import pytest

from java_etl_bi_generator_spark.catalog import load_table
from java_etl_bi_generator_spark.operators.kmeans import (
    kmeans_fit_int,
    nearest_cell_int,
    quantize_micro,
)


def _planted(spark, n_per=40, dim=8):
    """3 well-separated clusters at 0, 10 and -10 on every axis, with a
    small deterministic per-row jitter (hash-derived, no RNG)."""
    base = spark.range(3 * n_per).withColumnRenamed("id", "vec_id")
    center = (F.col("vec_id") % 3).cast("int")
    offs = F.when(center == 0, F.lit(0.0)).when(center == 1, F.lit(10.0)).otherwise(
        F.lit(-10.0)
    )
    jitter = [
        (F.pmod(F.hash(F.col("vec_id"), F.lit(d)), F.lit(100)).cast("double") / 1000.0)
        for d in range(dim)
    ]
    return base.select(
        "vec_id",
        center.alias("planted"),
        F.array(*[offs + j for j in jitter]).alias("embedding"),
    )


def test_kmeans_deterministic(spark):
    df = _planted(spark)
    m1 = kmeans_fit_int(df, k=3, iters=3)
    m2 = kmeans_fit_int(df, k=3, iters=3)
    assert m1 == m2


def test_nearest_cell_tie_breaks_low_index(spark):
    # equidistant centroids -> lowest index wins (struct ordering)
    df = spark.createDataFrame([([0.0, 0.0],)], "embedding array<double>")
    cell = df.select(
        nearest_cell_int(
            quantize_micro("embedding"), [[1_000_000, 0], [-1_000_000, 0]]
        ).alias("c")
    ).first()["c"]
    assert cell == 0


def test_empty_cell_keeps_centroid(spark):
    # k=3 over 2 distinct points: one cell never receives members after the
    # first assignment and must keep its seed centroid (no NaN, no drop)
    df = spark.createDataFrame(
        [(i, [float(i % 2) * 100.0, 0.0]) for i in range(10)],
        "vec_id bigint, embedding array<double>",
    )
    model = kmeans_fit_int(df, k=3, iters=3)
    assert len(model) == 3
    # seeds are the k vectors first in (md5(vec_id), vec_id) order
    seed_ids = sorted(
        range(10), key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i)
    )[:3]
    seeds = [[(i % 2) * 100_000_000, 0] for i in seed_ids]
    sizes = {
        r["cell"]: r["count"]
        for r in df.select(
            nearest_cell_int(quantize_micro("embedding"), model).alias("cell")
        ).groupBy("cell").count().collect()
    }
    empty = [c for c in range(3) if c not in sizes]
    assert empty, "3 cells over 2 distinct points must leave one empty"
    for c in empty:
        assert model[c] == seeds[c]


def test_ivf_trained_query_matches_bruteforce_head(spark, sf_dir):
    """With nprobe=3 of k=8 cells the trained probe must still place the
    query vector itself (vec_id=0, cosine 1.0) first."""
    from java_etl_bi_generator_spark.queries import registry

    top = registry()["q_vector_topk_ivf_trained"](spark, sf_dir).collect()
    assert len(top) == 10
    assert top[0]["vec_id"] == 0
    assert top[0]["cosine"] == pytest.approx(1.0, abs=1e-6)


def test_kmeans_cells_query_shape(spark, sf_dir):
    from java_etl_bi_generator_spark.queries import registry

    rows = registry()["q_kmeans_cells"](spark, sf_dir).collect()
    n = load_table(spark, sf_dir, "embeddings").count()
    assert sum(r["n_vecs"] for r in rows) == n
    assert all(r["sum_sq_dist"] >= 0 for r in rows)


def test_kmeans_degenerate_inputs(spark):
    import pytest as _pytest

    df = spark.createDataFrame(
        [(i, [0.0, float(i % 2)]) for i in range(4)],
        "vec_id bigint, embedding array<double>",
    )
    with _pytest.raises(ValueError, match="k must be"):
        kmeans_fit_int(df, k=0)
    with _pytest.raises(ValueError, match="no input"):
        kmeans_fit_int(df.filter("vec_id < 0"), k=2)
    # more cells than rows: trains only what exists, no crash
    model = kmeans_fit_int(df, k=10, iters=2)
    assert 1 <= len(model) <= 4


def test_kmeans_int_recovers_planted_clusters(spark):
    """The integer-pinned trainer finds the planted structure, and its
    centroids sit within jitter range of the planted centers."""
    df = _planted(spark)
    model = kmeans_fit_int(df, k=3, iters=4)
    assigned = df.withColumn(
        "cell", nearest_cell_int(quantize_micro("embedding"), model)
    )
    m = (
        assigned.groupBy("planted")
        .agg(F.countDistinct("cell").alias("ncells"),
             F.first("cell").alias("cell"))
        .collect()
    )
    assert all(r["ncells"] == 1 for r in m)
    assert len({r["cell"] for r in m}) == 3
    for c in model:
        lead = round(c[0] / 1e7) * 10  # centroids are micro-units
        assert all(abs(x / 1e6 - lead) < 0.2 for x in c)


def test_kmeans_int_partition_invariant(spark):
    """Integer training is EXACTLY partitioning-invariant (bigint sums are
    order-free; a float trainer could only promise this per fixed plan)."""
    df = _planted(spark)
    m1 = kmeans_fit_int(df.repartition(1), k=3, iters=3)
    m2 = kmeans_fit_int(df.repartition(13), k=3, iters=3)
    assert m1 == m2
    assert all(isinstance(x, int) for c in m1 for x in c)


def test_arrow_assign_matches_literal_path(spark):
    """The two exact assignment paths — literal-plan nearest_cell_int
    (small k) and the Arrow int64-matmul argmin (the k~sqrt(N) regime,
    round-7 SemDeDup probe fix) — must be bit-identical, including
    equal-distance ties (both take the LOWEST index: struct-min vs
    np.argmin first-minimum)."""
    import pyspark.sql.functions as F

    from java_etl_bi_generator_spark.operators.kmeans import (
        assign_cells_arrow_int,
    )

    rows = [
        (1, [0.1, 0.2, 0.3]),
        (2, [0.9, -0.5, 0.0]),
        (3, [-1.0, 1.0, 1.0]),
        (4, [0.5, 0.5, 0.5]),   # equidistant tie candidate
        (5, [0.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(
        rows, "vec_id int, embedding array<double>"
    ).select("vec_id", quantize_micro("embedding").alias("__q"))
    # centroids 0 and 1 are mirror images so vector 4/5 ties exist
    model = [
        [500000, 500000, 500000],
        [500000, 500000, 500000],   # exact duplicate → every row ties 0/1
        [-1000000, 1000000, 1000000],
    ]
    lit = {
        r["vec_id"]: r["cell"]
        for r in df.withColumn(
            "cell", nearest_cell_int(F.col("__q"), model)
        ).collect()
    }
    arrow = {
        r["vec_id"]: r["cell"]
        for r in assign_cells_arrow_int(
            df, model, vec_col="__q", cell_col="cell"
        ).collect()
    }
    assert lit == arrow
    assert arrow[4] == 0  # the duplicate-centroid tie resolves low


def test_pq_fit_fused_matches_independent_runs(spark, sf_dir):
    """pq_fit_int (one scan + one fused stats shuffle per round) must be
    output-IDENTICAL to M independent kmeans_fit_int runs over the
    subspace slices — the form the DuckDB PQ oracles unroll."""
    import pyspark.sql.functions as F

    from java_etl_bi_generator_spark.catalog import load_table
    from java_etl_bi_generator_spark.operators.kmeans import pq_fit_int

    em = load_table(spark, sf_dir, "embeddings")
    m, k, iters = 4, 16, 2
    fused = pq_fit_int(em, m=m, k=k, iters=iters)
    dim = len(fused[0][0]) * m
    subdim = dim // m
    for s in range(m):
        sub = em.select(
            "vec_id",
            F.slice("embedding", s * subdim + 1, subdim).alias("embedding"),
        )
        independent = kmeans_fit_int(sub, k=k, iters=iters)
        assert fused[s] == independent, f"subspace {s} diverged"
