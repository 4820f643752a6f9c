"""ANN engine checks on the persisted index (operators/ann_index.py):
IVF recall on a clustered corpus and completion under extreme bucket
skew."""

import dataclasses

import numpy as np
from pyspark.sql import functions as F

from incremental_entity_extraction_spark.operators.ann_index import (
    build_ann_index,
    index_shard,
)
from incremental_entity_extraction_spark.operators.retrieval import (
    topk_candidates_columnar,
)
from incremental_entity_extraction_spark.operators.similarity_search import (
    cosine_topk_join,
)


def _corpus(spark, X, n_parts=None):
    df = spark.createDataFrame(
        [(i, X[i].tolist()) for i in range(len(X))],
        "vec_id long, embedding array<float>",
    )
    return df.repartition(n_parts) if n_parts else df


def _clustered(seed=9):
    # clustered corpus (IVF's operating regime): 8 tight clusters in R^16
    rng = np.random.default_rng(seed)
    centers = rng.standard_normal((8, 16)).astype(np.float32) * 4
    return np.concatenate(
        [c + rng.standard_normal((40, 16)).astype(np.float32) * 0.3 for c in centers]
    ).astype(np.float32)


def _search(model, Q, k, n_probe):
    """query index -> neighbor ids in rank order."""
    model = dataclasses.replace(model, n_probe=n_probe)
    counts, ids, *_ = topk_candidates_columnar(Q, [index_shard(model)], k, 1.0)
    bounds = np.r_[0, np.cumsum(counts)]
    return [ids[s:e].tolist() for s, e in zip(bounds[:-1], bounds[1:])]


def test_ivf_recall_vs_exact(spark, tmp_path):
    X = _clustered()
    corpus = _corpus(spark, X)
    qidx = np.arange(0, len(X), 16)
    q = corpus.filter(F.col("vec_id") % 16 == 0)
    # recall on the real neighbours: the query's own row is dropped from
    # both sides (it always sits in the query's first probed bucket)
    exact = (
        cosine_topk_join(q, corpus, k=10)
        .toPandas().groupby("query_id")["neighbor_id"].apply(set)
    )
    model = build_ann_index(corpus, str(tmp_path / "idx"), n_centroids=8)
    got = [
        [j for j in g if j != i][:10]
        for i, g in zip(qidx, _search(model, X[qidx], 11, n_probe=4))
    ]
    recall = np.mean([len(set(g) & exact[i]) / 10 for i, g in zip(qidx, got)])
    assert recall >= 0.9


def test_ivf_hot_bucket_completes_and_finds_planted_pair(spark, tmp_path):
    """90% of the corpus collapses into one IVF bucket (extreme centroid
    skew): the search must still complete and return the planted nearest
    neighbor for a query in the hot bucket."""
    rng = np.random.default_rng(3)
    hot_dir = rng.standard_normal(16).astype(np.float32)
    hot_dir /= np.linalg.norm(hot_dir)
    n_hot, n_cold = 1800, 200
    hot = hot_dir + rng.standard_normal((n_hot, 16)).astype(np.float32) * 0.05
    cold = rng.standard_normal((n_cold, 16)).astype(np.float32)
    X = np.concatenate([hot, cold])
    # planted twin of vector 0 at the end
    X = np.concatenate([X, (X[0] + 1e-4).reshape(1, -1)]).astype(np.float32)
    model = build_ann_index(
        _corpus(spark, X, n_parts=8), str(tmp_path / "idx"), n_centroids=8
    )
    got = _search(model, X[:1], 3, n_probe=2)[0]
    assert len(got) == 3
    assert set(got[:2]) == {0, len(X) - 1}  # itself and its twin
