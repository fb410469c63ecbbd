"""Product quantization: train/encode determinism and rerank recall."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from stac_populator_spark.operators.similarity import (
    cosine_topk,
    pq_encode,
    pq_topk,
    pq_train,
)


@pytest.fixture(scope="module")
def emb(spark):
    rng = np.random.default_rng(11)
    C = rng.normal(size=(10, 64))
    C /= np.linalg.norm(C, axis=1, keepdims=True)
    lab = np.arange(800) % 10
    X = C[lab] * 0.6 + rng.normal(scale=0.3, size=(800, 64))
    X /= np.linalg.norm(X, axis=1, keepdims=True)
    return spark.createDataFrame(
        pd.DataFrame({"vec_id": np.arange(800), "embedding": [r.tolist() for r in X]})
    )


def test_pq_train_deterministic_and_shapes(emb):
    b1 = pq_train(emb, m=8, ksub=16, sample_n=500)
    b2 = pq_train(emb, m=8, ksub=16, sample_n=500)
    assert b1.shape == (8, 16, 8)
    assert np.array_equal(b1, b2)


def test_pq_encode_codes_in_range(emb):
    books = pq_train(emb, m=8, ksub=16, sample_n=500)
    codes = pq_encode(emb, books).select("pq_code").collect()
    for r in codes[:50]:
        c = r["pq_code"]
        assert len(c) == 8 and all(0 <= x < 16 for x in c)


def test_pq_rerank_recall(emb, spark):
    books = pq_train(emb, m=8, ksub=256, sample_n=800)
    queries = emb.filter(F.col("vec_id") % 80 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    approx = pq_topk(emb, queries, books, k=5, shortlist=80)
    exact = cosine_topk(emb, queries, k=5)
    ov = (
        approx.select("query_id", "vec_id")
        .join(exact.select("query_id", "vec_id"), ["query_id", "vec_id"])
        .groupBy("query_id")
        .count()
        .collect()
    )
    assert len(ov) == queries.count()
    assert all(r["count"] >= 4 for r in ov)  # recall@5 ≥ 0.8 per query


def test_ivfpq_rerank_recall_on_clustered_data(spark):
    # IVF-PQ composition: on data with REAL cluster structure (IVF's
    # premise — separable clusters that k-means recovers) probing 3/10
    # lists keeps per-query recall@5 ≥ 0.8 after the exact rerank.
    # IVF recall is data-dependent by design: on near-isotropic vectors
    # (the driver's embeddings table) neighbors scatter across lists, so
    # that table is deliberately NOT an oracle gate for this operator —
    # pq_cosine is the oracle-side representative of the PQ family.
    from stac_populator_spark.operators.similarity import ivfpq_topk, ivf_train

    rng = np.random.default_rng(13)
    C = rng.normal(size=(10, 64))
    C /= np.linalg.norm(C, axis=1, keepdims=True)
    lab = np.arange(800) % 10
    X = C[lab] * 0.9 + rng.normal(scale=0.12, size=(800, 64))
    X /= np.linalg.norm(X, axis=1, keepdims=True)
    emb = spark.createDataFrame(
        pd.DataFrame({"vec_id": np.arange(800), "embedding": [r.tolist() for r in X]})
    )

    books = pq_train(emb, m=8, ksub=256, sample_n=800)
    cents = ivf_train(emb, k_centroids=10, sample_n=800)
    # vec_id % 77: queries span many natural clusters (77 ⊥ 10)
    queries = emb.filter(F.col("vec_id") % 77 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    approx = ivfpq_topk(emb, queries, books, cents, k=5, n_probe=3, shortlist=80)
    exact = cosine_topk(emb, queries, k=5)
    ov = (
        approx.select("query_id", "vec_id")
        .join(exact.select("query_id", "vec_id"), ["query_id", "vec_id"])
        .groupBy("query_id")
        .count()
        .collect()
    )
    assert len(ov) == queries.count()
    assert all(r["count"] >= 4 for r in ov)


def test_ivfpq_full_probe_equals_pq_topk(emb):
    # probing every list admits every row, so IVF-PQ runs the same ADC
    # shortlist and rerank as PQ alone: equal row for row
    from stac_populator_spark.operators.similarity import ivf_train, ivfpq_topk

    books = pq_train(emb, m=8, ksub=16, sample_n=500)
    cents = ivf_train(emb, k_centroids=8, sample_n=500)
    queries = emb.filter(F.col("vec_id") % 80 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    full = ivfpq_topk(emb, queries, books, cents, k=5, n_probe=8, shortlist=40).collect()
    flat = pq_topk(emb, queries, books, k=5, shortlist=40).collect()
    assert len(flat) == 5 * queries.count()
    assert sorted(tuple(r) for r in full) == sorted(tuple(r) for r in flat)


def test_similarity_calls_collect_their_queries_once(spark, emb, tmp_path):
    # building a top-k frame collects the (small) query set to the driver
    # once; the PQ lookup tables and the IVF probe lists come from that
    # one collect. The partitioned paths add only the parquet schema read.
    from stac_populator_spark.operators.similarity import (
        ivf_topk_partitioned,
        ivf_train,
        ivf_write_partitioned,
        ivfpq_topk,
        ivfpq_topk_partitioned,
        ivfpq_write_partitioned,
    )

    sc = spark.sparkContext
    books = pq_train(emb, m=8, ksub=16, sample_n=500)
    cents = ivf_train(emb, k_centroids=8, sample_n=500)
    queries = emb.filter(F.col("vec_id") % 80 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    ivf_path, ivfpq_path = str(tmp_path / "ivf"), str(tmp_path / "ivfpq")
    ivf_write_partitioned(emb, ivf_path, k_centroids=8, centroids=cents)
    ivfpq_write_partitioned(emb, ivfpq_path, books, cents)

    def jobs(group, build) -> int:
        sc.setJobGroup(group, group)
        try:
            build()
        finally:
            sc._jsc.clearJobGroup()
        return len(sc.statusTracker().getJobIdsForGroup(group))

    assert jobs("sim-pq", lambda: pq_topk(emb, queries, books, shortlist=40)) == 1
    assert jobs("sim-ivfpq", lambda: ivfpq_topk(emb, queries, books, cents, shortlist=40)) == 1
    assert jobs("sim-ivf-part", lambda: ivf_topk_partitioned(
        spark, ivf_path, queries, k_centroids=8, centroids=cents)) <= 2
    assert jobs("sim-ivfpq-part", lambda: ivfpq_topk_partitioned(
        spark, ivfpq_path, queries, books, cents, shortlist=40)) <= 2
