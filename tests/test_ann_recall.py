"""ANN quality: recall@10 of the approximate search paths against the
exact brute-force ground truth, on clustered synthetic embeddings (the
structure IVF exploits).  Complements the plan-shape checks — an index
that prunes 90% of the corpus is only useful if it still finds the
neighbors."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from java_etl_bi_generator_spark.operators.kmeans import (
    kmeans_fit_int,
    nearest_cell_int,
)
from java_etl_bi_generator_spark.operators.similarity import (
    brute_force_topk,
    ivf_topk,
    lsh_bucket_topk,
)
from java_etl_bi_generator_spark.sources.synthetic import (
    SyntheticEmbeddingsDataSource,
)


@pytest.fixture(scope="module")
def emb(spark):
    spark.dataSource.register(SyntheticEmbeddingsDataSource)
    return (
        spark.read.format("synthetic_embeddings")
        .option("rows", 5000)
        .option("partitions", 8)
        .option("numClusters", 8)
        .load()
    ).cache()


def _queries(emb, n=5):
    rows = emb.filter(F.col("vec_id") < n).collect()
    return {r["vec_id"]: [float(x) for x in r["embedding"]] for r in rows}


def _recall(approx_ids, exact_ids):
    return len(set(approx_ids) & set(exact_ids)) / len(exact_ids)


@pytest.mark.slow  # 32 s incl. fixture; round-close suite
def test_ivf_recall_on_planted_cells(spark, emb):
    """IVF over the PLANTED cells, probing 2 of 8: the query's own
    cluster is always probed, so recall@10 should be near-perfect."""
    recalls = []
    for _, qv in _queries(emb).items():
        exact = [r["vec_id"] for r in brute_force_topk(emb, qv, k=10).collect()]
        approx = [
            r["vec_id"]
            for r in ivf_topk(emb, qv, k=10, nprobe=2, cell_col="label").collect()
        ]
        recalls.append(_recall(approx, exact))
    assert sum(recalls) / len(recalls) >= 0.9


def test_ivf_recall_on_trained_cells(spark, emb):
    """Full lifecycle: train k-means, assign, probe — the index built
    with no prior labels must match the planted-cell quality."""
    model = kmeans_fit_int(emb, k=8, iters=3)
    assigned = emb.withColumn(
        "cell", nearest_cell_int("embedding", model)
    ).cache()
    recalls = []
    for _, qv in _queries(emb).items():
        exact = [r["vec_id"] for r in brute_force_topk(emb, qv, k=10).collect()]
        approx = [
            r["vec_id"]
            for r in ivf_topk(
                assigned, qv, k=10, nprobe=2, cell_col="cell"
            ).collect()
        ]
        recalls.append(_recall(approx, exact))
    assert sum(recalls) / len(recalls) >= 0.9


def test_lsh_recall_is_positive_and_pruned(spark, emb):
    """Hyperplane LSH buckets prune hard (1/2^8 of the corpus per probe
    in expectation); with one bucket probed recall is partial by design —
    assert it finds SOME true neighbors and never invents distances."""
    qv = _queries(emb, n=1)[0]
    exact = brute_force_topk(emb, qv, k=10).collect()
    approx = lsh_bucket_topk(emb, qv, k=10, num_planes=6)
    got = approx.collect()
    assert len(got) >= 1
    exact_by_id = {r["vec_id"]: r["cosine"] for r in exact}
    overlap = [r for r in got if r["vec_id"] in exact_by_id]
    assert overlap, "LSH bucket missed every true top-10 neighbor"
    for r in overlap:
        assert r["cosine"] == pytest.approx(exact_by_id[r["vec_id"]], abs=1e-9)


def test_random_projection_one_hot_pins_sign_convention(spark):
    """Projecting the one-hot basis vector e_d must yield exactly
    sign(j,d)/sqrt(8) in component j — pins the md5-parity weights and
    the scaling against silent convention drift."""
    import hashlib
    import math

    from java_etl_bi_generator_spark.operators.similarity import (
        random_projection,
    )

    d_hot = 5
    vec = [0.0] * 64
    vec[d_hot] = 1.0
    df = spark.createDataFrame([(1, vec)], "vec_id bigint, embedding array<float>")
    row = df.select(*random_projection("embedding")).collect()[0]
    for j in range(8):
        sign = (
            1
            if int(hashlib.md5(f"proj:{j},{d_hot}".encode()).hexdigest(), 16) % 2 == 0
            else -1
        )
        assert row[f"p{j}"] == sign / math.sqrt(8.0), j
