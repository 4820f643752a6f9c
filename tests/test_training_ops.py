"""ANN engine checks on the persisted index (operators/ann_index.py):
IVF recall on a clustered corpus, completion under extreme bucket skew,
IVF-PQ recall with exact re-rank scores, and PQ codebook determinism."""

import numpy as np
from pyspark.sql import functions as F

from incremental_entity_extraction_spark.operators.ann_index import (
    ann_index_search,
    build_ann_index,
)
from incremental_entity_extraction_spark.operators.similarity_search import (
    cosine_topk_join,
    pq_encode,
    pq_train_codebooks,
)


def _clustered_corpus(spark):
    # clustered corpus (IVF's operating regime): 8 tight clusters in R^16
    rng = np.random.default_rng(9)
    centers = rng.standard_normal((8, 16)).astype(np.float32) * 4
    X = np.concatenate(
        [c + rng.standard_normal((40, 16)).astype(np.float32) * 0.3 for c in centers]
    )
    return spark.createDataFrame(
        [(i, X[i].tolist()) for i in range(len(X))],
        "vec_id long, embedding array<float>",
    )


def _mean_recall(exact, approx):
    recall_sum, n = 0.0, 0
    for qid, g in exact.groupby("query_id"):
        e = set(g["neighbor_id"])
        a = set(approx[approx.query_id == qid]["neighbor_id"])
        recall_sum += len(e & a) / len(e)
        n += 1
    return recall_sum / n


def test_ivf_recall_vs_exact(spark, tmp_path):
    corpus = _clustered_corpus(spark)
    q = corpus.filter(F.col("vec_id") % 16 == 0)
    exact = cosine_topk_join(q, corpus, k=10).toPandas()
    model = build_ann_index(corpus, str(tmp_path / "idx"), n_centroids=8)
    approx = ann_index_search(
        model, spark, q, k=10, n_probe=4, exclude_self=True
    ).toPandas()
    assert _mean_recall(exact, approx) >= 0.9


def test_ivf_hot_bucket_completes_and_finds_planted_pair(spark, tmp_path):
    """90% of the corpus collapses into one IVF bucket (extreme centroid
    skew): the cogroup search must still complete and return the planted
    nearest neighbor for a query in the hot bucket."""
    rng = np.random.default_rng(3)
    hot_dir = rng.standard_normal(16).astype(np.float32)
    hot_dir /= np.linalg.norm(hot_dir)
    n_hot, n_cold = 1800, 200
    hot = hot_dir + rng.standard_normal((n_hot, 16)).astype(np.float32) * 0.05
    cold = rng.standard_normal((n_cold, 16)).astype(np.float32)
    X = np.concatenate([hot, cold])
    # planted twin of vector 0 at the end
    X = np.concatenate([X, (X[0] + 1e-4).reshape(1, -1)])
    corpus = spark.createDataFrame(
        [(i, X[i].tolist()) for i in range(len(X))],
        "vec_id long, embedding array<float>",
    ).repartition(8)
    model = build_ann_index(corpus, str(tmp_path / "idx"), n_centroids=8)
    q = corpus.filter(F.col("vec_id") == 0)
    out = ann_index_search(
        model, spark, q, k=3, n_probe=2, exclude_self=True,
        query_mode="cogroup",
    ).toPandas()
    assert len(out) == 3
    assert int(out[out["rank"] == 1]["neighbor_id"].iloc[0]) == len(X) - 1


def test_ivf_pq_recall_and_exact_rerank_scores(spark, tmp_path):
    """IVF-PQ with exact re-rank: recall@10 >= 0.9 on a clustered corpus,
    and every emitted cosine must EQUAL the exact engine's cosine for the
    same (query, neighbor) pair — the re-rank stage rescores exactly, so
    only the candidate SET is approximate."""
    corpus = _clustered_corpus(spark)
    q = corpus.filter(F.col("vec_id") % 16 == 0)
    exact = cosine_topk_join(q, corpus, k=10).toPandas()
    model = build_ann_index(
        corpus, str(tmp_path / "idx"), mode="ivf_pq", n_centroids=8,
        m_subvectors=4,
    )
    approx = ann_index_search(
        model, spark, q, k=10, n_probe=4, rerank_corpus=corpus,
        exclude_self=True,
    ).toPandas()
    recall = _mean_recall(exact, approx)
    assert recall >= 0.9, f"pq recall {recall:.3f}"
    ex = exact.set_index(["query_id", "neighbor_id"])["cosine"]
    for row in approx.itertuples(index=False):
        key = (row.query_id, row.neighbor_id)
        if key in ex.index:
            assert abs(ex.loc[key] - row.cosine) < 1e-6


def test_pq_codebook_determinism_and_code_width():
    """Same seed -> identical codebooks/codes; codes are m bytes per row."""
    rng = np.random.default_rng(4)
    R = rng.standard_normal((500, 32)).astype(np.float32)
    b1 = pq_train_codebooks(R, m=8, seed=11)
    b2 = pq_train_codebooks(R, m=8, seed=11)
    np.testing.assert_array_equal(b1, b2)
    assert b1.shape == (8, 256, 4)
    codes = pq_encode(R, b1)
    assert codes.shape == (500, 8) and codes.dtype == np.uint8
    # quantization actually reconstructs: PQ approximation beats the zero
    # baseline by a wide margin
    recon = np.concatenate(
        [b1[m][codes[:, m]] for m in range(8)], axis=1
    )
    err = np.linalg.norm(R - recon) / np.linalg.norm(R)
    assert err < 0.9
