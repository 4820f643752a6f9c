"""Shared similarity-search building blocks over embedding columns
(``array<float>``).

* ``cosine_topk_join``   — pure-DataFrame brute force (crossjoin + HOF dot
  + window top-k); SQL-expressible, the exact reference that ANN recall is
  measured against.
* IVF training pieces — seeded k-means centroids, ≈√n parameter
  derivation and the deterministic training sample.  The persisted index
  (operators/ann_index.py) is built from these.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _normalize(X: np.ndarray) -> np.ndarray:
    norms = np.linalg.norm(X, axis=1)
    norms[norms == 0] = 1.0
    return X / norms[:, None]


def cosine_topk_join(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_self: bool = True,
) -> DataFrame:
    """Brute-force via broadcast crossjoin + built-in HOF dot product +
    window top-k.  O(|Q|·|C|) rows — the oracle-checkable baseline, and
    fine when |C| is small or |Q| is a filtered probe set."""
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")
    )
    joined = q.crossJoin(F.broadcast(c))
    if exclude_self:
        joined = joined.filter(F.col("query_id") != F.col("neighbor_id"))
    dot = F.aggregate(
        F.zip_with("qv", "cv", lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    norm = lambda col: F.sqrt(  # noqa: E731
        F.aggregate(col, F.lit(0.0), lambda acc, x: acc + x * x)
    )
    scored = joined.withColumn(
        "cosine", (dot / (norm(F.col("qv")) * norm(F.col("cv")))).cast("double")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def _grouped_means(S: np.ndarray, assign: np.ndarray):
    """Per-group row means of ``S`` grouped by ``assign`` — yields
    ``(group, mean_row)`` for each non-empty group.

    BIT-IDENTICAL to the masked loop ``S[assign == j].mean(0)`` it replaces
    (round 8): a stable argsort of ``assign`` keeps equal-key rows in
    ascending row order, so each group slice is the same array, in the same
    order, reduced by the same ``.mean(0)`` — but the grouping is
    O(n log n) instead of the loop's O(k·n) masks per iteration, which
    dominated training time (k up to 4096 centroids)."""
    order = np.argsort(assign, kind="stable")
    uniq, starts = np.unique(assign[order], return_index=True)
    bounds = np.append(starts[1:], len(order))
    for u, s, e in zip(uniq, starts, bounds):
        yield int(u), S[order[s:e]].mean(0)


def kmeans_centroids(
    X: np.ndarray, n_centroids: int, n_iter: int = 10, seed: int = 11
) -> np.ndarray:
    """Deterministic seeded Lloyd's k-means on a (sampled) matrix — driver
    side; centroids are a tiny model broadcast to executors."""
    rng = np.random.default_rng(seed)
    Xn = _normalize(X.astype(np.float32))
    idx = rng.choice(len(Xn), size=min(n_centroids, len(Xn)), replace=False)
    C = Xn[np.sort(idx)].copy()
    for _ in range(n_iter):
        assign = np.argmax(Xn @ C.T, axis=1)
        for j, m in _grouped_means(Xn, assign):
            n = np.linalg.norm(m)
            if n > 0:
                C[j] = m / n
    return C


def _derive_ivf_params(
    n: int, n_centroids: int | None, n_probe: int | None
) -> tuple[int, int]:
    """≈√n centroids clamped to [4, 4096]; n_probe holds the 25%
    probed-bucket ratio the ≥0.9 recall tests were measured at (a fixed
    n_probe would silently collapse recall as √n centroids grow)."""
    if n_centroids is None:
        n_centroids = max(4, min(math.isqrt(n), 4096))
    if n_probe is None:
        n_probe = max(4, -(-n_centroids // 4))
    return n_centroids, n_probe


def _coarse_sample(cvec: DataFrame, n: int, train_size: int, seed: int) -> np.ndarray:
    """Deterministic ≤train_size training sample — the only collect."""
    frac = min(1.0, train_size / n)
    sample = (
        cvec.sample(False, frac, seed).select("vec")
        if frac < 1.0
        else cvec.select("vec")
    )
    return np.stack(
        [np.asarray(v, dtype=np.float32) for v in sample.toPandas()["vec"]]
    )
