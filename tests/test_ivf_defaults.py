"""Scale-safe IVF defaults of the persisted index: sqrt(n) centroid
auto-derivation and the 25% probe ratio (similarity_search._derive_ivf_params,
applied by ann_index.build_ann_index)."""

import numpy as np
from pyspark.sql import types as T

from incremental_entity_extraction_spark.operators.ann_index import (
    ann_index_search,
    build_ann_index,
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


def test_auto_centroids_sqrt_n(spark, tmp_path):
    rng = np.random.default_rng(7)
    n = 900  # sqrt -> 30 centroids
    X = rng.normal(size=(n, 8)).astype(np.float32)
    model = build_ann_index(_df(spark, X), str(tmp_path / "idx"))
    assert model.centroids.shape[0] == 30
    q = _df(spark, X[:5], ids=range(10_000, 10_005))
    out = ann_index_search(
        model, spark, q, k=3, n_probe=30, exclude_self=False
    ).toPandas()
    assert len(out) == 15
    # with n_probe == all 30 auto-derived buckets this is exact: every query
    # (a corpus member) must find itself at rank 1
    top = out[out["rank"] == 1].sort_values("query_id")
    assert list(top["neighbor_id"]) == [0, 1, 2, 3, 4]


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
    q = _df(spark, X[:10], ids=range(10))
    out = ann_index_search(model, spark, q, k=1, exclude_self=True).toPandas()
    top = out[out["rank"] == 1].set_index("query_id")["neighbor_id"]
    assert all(top[i] == i + 300 for i in range(10))


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
