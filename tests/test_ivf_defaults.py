"""Scale-safe IVF defaults of the persisted index: sqrt(n) centroid
auto-derivation and the 25% probe ratio (similarity_search._derive_ivf_params,
applied by ann_index.build_ann_index)."""

import dataclasses

import numpy as np
from pyspark.sql import types as T

from incremental_entity_extraction_spark.operators.ann_index import (
    build_ann_index,
    index_shard,
)
from incremental_entity_extraction_spark.operators.retrieval import (
    topk_candidates_columnar,
)
from incremental_entity_extraction_spark.operators.similarity_search import (
    kmeans_centroids,
)

_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType(), False),
        T.StructField("embedding", T.ArrayType(T.FloatType()), False),
    ]
)


def _df(spark, X, ids=None):
    ids = range(len(X)) if ids is None else ids
    return spark.createDataFrame(
        [(int(i), [float(x) for x in v]) for i, v in zip(ids, X)], _SCHEMA
    )


def _search(model, Q, k, n_probe=None):
    """query index -> neighbor ids in rank order."""
    if n_probe is not None:
        model = dataclasses.replace(model, n_probe=n_probe)
    counts, ids, *_ = topk_candidates_columnar(Q, [index_shard(model)], k, 1.0)
    bounds = np.r_[0, np.cumsum(counts)]
    return [ids[s:e].tolist() for s, e in zip(bounds[:-1], bounds[1:])]


def test_auto_centroids_sqrt_n(spark, tmp_path):
    rng = np.random.default_rng(7)
    n = 900  # sqrt -> 30 centroids
    X = rng.normal(size=(n, 8)).astype(np.float32)
    model = build_ann_index(_df(spark, X), str(tmp_path / "idx"))
    assert model.centroids.shape[0] == 30
    got = _search(model, X[:5], 3, n_probe=30)
    assert [len(g) for g in got] == [3] * 5
    # with n_probe == all 30 auto-derived buckets this is exact: every query
    # (a corpus member) must find itself at rank 1
    assert [g[0] for g in got] == [0, 1, 2, 3, 4]


def test_kmeans_caps_centroids_to_sample(spark):
    X = np.random.default_rng(1).normal(size=(6, 4)).astype(np.float32)
    C = kmeans_centroids(X, 16, seed=1)
    assert C.shape[0] <= 6


def test_auto_probe_finds_twin_duplicates(spark, tmp_path):
    """Auto-derived n_probe (25% of the sqrt(n) buckets) must keep obvious
    structure findable: every vector's exact duplicate shares its bucket."""
    rng = np.random.default_rng(11)
    base = rng.normal(size=(300, 8)).astype(np.float32)
    X = np.vstack([base, base])  # ids 0..299 and twins 300..599
    model = build_ann_index(_df(spark, X), str(tmp_path / "idx"))
    assert model.n_probe == 6  # sqrt(600) -> 24 buckets, 25% probed
    # a twin ties its original on cosine; the key breaks the tie
    got = _search(model, X[:10], 2)
    assert got == [[i, i + 300] for i in range(10)]


def test_zip_check_stands_down_without_source_tree(tmp_path):
    """A bare deploy dir (zip + jobs, no package source) must not be
    refused — there is nothing to audit."""
    import os
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from tools.make_pyfiles_zip import build, check_zip

    zp = str(tmp_path / "iees.zip")
    build(zip_path=zp)  # built from the real tree
    bare = tmp_path / "deploy"
    bare.mkdir()
    assert check_zip(zip_path=zp, root=str(bare)) == []
