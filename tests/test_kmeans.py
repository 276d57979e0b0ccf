"""Integer k-means trainer (operators/kmeans.py): recovery of planted
clusters, determinism, assignment semantics, and the IVF-trained
registry queries.  Every training test runs on both sides of
``DRIVER_LLOYD_LIMIT``: the driver rounds (the default limit) and the
distributed rounds (the limit patched to 0)."""

from __future__ import annotations

import hashlib

import pyspark.sql.functions as F
import pytest

from java_etl_bi_generator_spark.catalog import load_table
from java_etl_bi_generator_spark.operators import kmeans
from java_etl_bi_generator_spark.operators.kmeans import (
    assign_codes_int,
    kmeans_fit_int,
    pq_fit_int,
    quantize_micro,
)


def _paths(monkeypatch):
    """Run the loop body once per side of DRIVER_LLOYD_LIMIT, yielding
    the side's name."""
    for path, limit in (("driver", kmeans.DRIVER_LLOYD_LIMIT),
                        ("distributed", 0)):
        with monkeypatch.context() as mp:
            mp.setattr(kmeans, "DRIVER_LLOYD_LIMIT", limit)
            yield path


def _md5_order(ids):
    """``ids`` in seed order: (md5(id), id)."""
    return sorted(
        ids, key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i)
    )


def _cells(df, model):
    """``df`` plus ``cell``, each row's nearest centroid of ``model``."""
    q = df.withColumn("__q", quantize_micro("embedding"))
    return assign_codes_int(q, [model], "__q", ["cell"])


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
    # equidistant centroids -> lowest index wins (np.argmin's first minimum)
    df = spark.createDataFrame([([0.0, 0.0],)], "embedding array<double>")
    cell = _cells(df, [[1_000_000, 0], [-1_000_000, 0]]).first()["cell"]
    assert cell == 0


def test_training_tie_breaks_low_index(spark, monkeypatch):
    """A vector equidistant from both seeds joins the lower cell, whose
    centroid becomes the floor-divided mean of the two."""
    first, second, third = _md5_order(range(3))
    vec = {first: [-3, 0], second: [3, 0], third: [0, 0]}
    df = spark.createDataFrame(
        list(vec.items()), "vec_id bigint, embedding array<bigint>"
    )
    for _ in _paths(monkeypatch):
        model = kmeans_fit_int(df, k=2, iters=1, pre_quantized=True)
        assert model == [[-2, 0], [3, 0]]  # (-3 + 0) // 2 == -2


def test_empty_cell_keeps_centroid(spark, monkeypatch):
    # k=3 over 2 distinct points: one cell never receives members after the
    # first assignment and must keep its seed centroid (no NaN, no drop)
    df = spark.createDataFrame(
        [(i, [float(i % 2) * 100.0, 0.0]) for i in range(10)],
        "vec_id bigint, embedding array<double>",
    )
    # seeds are the k vectors first in (md5(vec_id), vec_id) order
    seeds = [[(i % 2) * 100_000_000, 0] for i in _md5_order(range(10))[:3]]
    for _ in _paths(monkeypatch):
        model = kmeans_fit_int(df, k=3, iters=3)
        assert len(model) == 3
        sizes = {
            r["cell"]: r["count"]
            for r in _cells(df, model).groupBy("cell").count().collect()
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


def test_kmeans_degenerate_inputs(spark, monkeypatch):
    df = spark.createDataFrame(
        [(i, [0.0, float(i % 2)]) for i in range(4)],
        "vec_id bigint, embedding array<double>",
    )
    with pytest.raises(ValueError, match="k must be"):
        kmeans_fit_int(df, k=0)
    models = []
    for _ in _paths(monkeypatch):
        with pytest.raises(ValueError, match="no input"):
            kmeans_fit_int(df.filter("vec_id < 0"), k=2)
        with pytest.raises(ValueError, match="not divisible"):
            pq_fit_int(df, m=3, k=2)
        # more cells than rows: trains only what exists, no crash
        models.append(kmeans_fit_int(df, k=10, iters=2))
        assert 1 <= len(models[-1]) <= 4
    assert models[0] == models[1]


def test_cell_sum_overflow_raises_on_both_paths(spark, monkeypatch):
    """Inputs whose cell sums could leave int64 raise on both paths, as
    Spark's ANSI sum does, and neither returns a model."""
    df = spark.createDataFrame(
        [(i, [2**62, 0]) for i in range(4)],
        "vec_id bigint, embedding array<bigint>",
    )
    for _ in _paths(monkeypatch):
        with pytest.raises(Exception, match="exceeds int64"):
            kmeans_fit_int(df, k=2, iters=1, pre_quantized=True)


def test_driver_path_trains_in_one_job(spark, sf_dir, monkeypatch, count_jobs):
    """Under the limit one bounded collect replaces the seed collect and
    every round; the distributed side runs more than one job per
    training."""
    em = load_table(spark, sf_dir, "embeddings")
    jobs = {
        path: count_jobs(lambda: pq_fit_int(em, m=4, k=16, iters=2))[0]
        for path in _paths(monkeypatch)
    }
    assert jobs["driver"] == 1
    assert jobs["distributed"] > 2


def test_kmeans_int_recovers_planted_clusters(spark, monkeypatch):
    """The integer-pinned trainer finds the planted structure, and its
    centroids sit within jitter range of the planted centers."""
    df = _planted(spark)
    for _ in _paths(monkeypatch):
        model = kmeans_fit_int(df, k=3, iters=4)
        assigned = _cells(df, model)
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
    """assign_codes_int returns the cells the retired literal-plan
    argmin (struct-min over (dist, idx)) returned on these rows,
    including the duplicate-centroid tie, which resolves to the LOWEST
    index; its distance column is the exact squared L2 to that cell."""
    import math

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
    model = [
        [500000, 500000, 500000],
        [500000, 500000, 500000],   # exact duplicate → every row ties 0/1
        [-1000000, 1000000, 1000000],
    ]
    out = {
        r["vec_id"]: (r["cell"], r["d"])
        for r in assign_codes_int(df, [model], "__q", ["cell"], ["d"])
        .collect()
    }
    assert {i: c for i, (c, _) in out.items()} == {
        1: 0, 2: 0, 3: 2, 4: 0, 5: 0
    }
    for i, v in rows:
        q = [math.floor(x * 1e6 + 0.5) for x in v]
        cell, d = out[i]
        assert d == sum((a - b) ** 2 for a, b in zip(q, model[cell]))


def test_assign_codes_int_raises_on_int64_overflow(spark):
    """Inputs whose squared L2 can leave int64 raise, as the exact
    bigint distance does under ANSI, instead of returning cells from
    wrapped-around arithmetic.  Large model values are caught before
    any job, large vector values per Arrow batch."""
    df = spark.createDataFrame(
        [(1, [4e6, 0.0]), (2, [0.0, 0.0])],
        "vec_id int, embedding array<double>",
    ).select("vec_id", quantize_micro("embedding").alias("__q"))
    with pytest.raises(Exception, match="exceeds int64"):
        assign_codes_int(
            df, [[[0, 0], [4_000_000_000_000, 0]]], "__q", ["cell"]
        ).collect()
    with pytest.raises(Exception, match="exceeds int64"):
        assign_codes_int(df, [[[0, 0], [1, 0]]], "__q", ["cell"]).collect()


def test_pq_fit_fused_matches_independent_runs(spark, sf_dir, monkeypatch):
    """pq_fit_int (all m codebooks in one pass per round) must be
    output-IDENTICAL to M independent kmeans_fit_int runs over the
    subspace slices — the form the DuckDB PQ oracles unroll."""
    em = load_table(spark, sf_dir, "embeddings")
    m, k, iters = 4, 16, 2
    for path in _paths(monkeypatch):
        fused = pq_fit_int(em, m=m, k=k, iters=iters)
        subdim = len(fused[0][0])
        for s in range(m):
            sub = em.select(
                "vec_id",
                F.slice("embedding", s * subdim + 1, subdim)
                .alias("embedding"),
            )
            independent = kmeans_fit_int(sub, k=k, iters=iters)
            assert fused[s] == independent, f"{path}: subspace {s} diverged"


def test_trainers_arrow_branch_matches_literal_branch(
    spark, sf_dir, monkeypatch
):
    """Both trainers return, on the sf0.001 fixture and on both sides of
    DRIVER_LLOYD_LIMIT, the models the retired literal-plan assignment
    trained (md5 of the JSON model)."""
    import json

    def md5(model):
        return hashlib.md5(json.dumps(model).encode()).hexdigest()

    em = load_table(spark, sf_dir, "embeddings")
    for path in _paths(monkeypatch):
        assert md5(kmeans_fit_int(em, k=8, iters=2)) == (
            "d761b341e93b3cf5283366673bc6358b"
        ), path
        assert md5(pq_fit_int(em, m=4, k=16, iters=2)) == (
            "c88ecf3bcfe12ce58f3563c9f0ccd2ff"
        ), path
