"""Shared similarity-search building blocks over embedding columns
(``array<float>``).

* ``cosine_topk_join``   — pure-DataFrame brute force (crossjoin + HOF dot
  + window top-k); SQL-expressible, the exact reference that ANN recall is
  measured against.
* IVF/PQ training pieces — seeded k-means centroids, ≈√n parameter
  derivation, the deterministic training sample, the Arrow-native query
  bucketing and residual product-quantization codebooks.  The persisted
  index (operators/ann_index.py) is built from these.
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

_TOPK_SCHEMA = T.StructType(
    [
        T.StructField("query_id", T.LongType(), False),
        T.StructField("neighbor_id", T.LongType(), False),
        T.StructField("cosine", T.DoubleType(), False),
        T.StructField("rank", T.IntegerType(), False),
    ]
)


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
    dominated training time (k up to 4096 centroids / 256 codewords)."""
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


# shared by the ivf and ivf_pq index modes (operators/ann_index.py) so both
# derive IDENTICAL parameters, training samples, and (for the same seed)
# coarse buckets — the "same seed → same buckets" contract is structural
_BUCKETED_SCHEMA = T.StructType(
    [
        T.StructField("bucket", T.IntegerType(), False),
        T.StructField("id", T.LongType(), False),
        T.StructField("vecn", T.ArrayType(T.FloatType()), False),
    ]
)


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


def _bucketed_queries(
    queries: DataFrame, id_col: str, vec_col: str, bc_C, n_probe: int
) -> DataFrame:
    """Each query exploded to its n_probe nearest-centroid buckets.

    Arrow-native assembly: the replicated ``vecn`` column is built from ONE
    flat ``Qp[reps]`` buffer with arithmetic offsets (the fused stage's
    pattern, operators/fused.py) — the earlier per-row
    ``[list(Qp[r]) for r in reps]`` pushed n_mentions × n_probe × dim floats
    through Python lists per call."""
    import pyarrow as pa

    # list<float> offsets are int32: cap rows per emitted batch so the flat
    # replicated buffer stays below 2^31 values
    def _bq(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        Cm = bc_C.value
        npb = min(n_probe, Cm.shape[0])
        max_rows = max(1, ((1 << 31) - 1) // (Cm.shape[1] * npb))
        for rb in it:
            if rb.num_rows == 0:
                continue
            pdf = rb.to_pandas()
            Qp = _normalize(
                np.stack([np.asarray(v, dtype=np.float32) for v in pdf["vec"]])
            )
            ids = pdf["id"].to_numpy(dtype=np.int64)
            probe_all = np.argsort(-(Qp @ Cm.T), axis=1)[:, :npb].astype("int32")
            for s in range(0, len(Qp), max_rows):
                e = min(s + max_rows, len(Qp))
                reps = np.repeat(np.arange(s, e), npb)
                Qrep = Qp[reps]
                n, dim = Qrep.shape
                vecn = pa.ListArray.from_arrays(
                    pa.array(
                        np.arange(n + 1, dtype=np.int64) * dim, type=pa.int32()
                    ),
                    pa.array(Qrep.ravel(), type=pa.float32()),
                )
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(probe_all[s:e].ravel(), type=pa.int32()),
                        pa.array(ids[reps], type=pa.int64()),
                        vecn,
                    ],
                    names=["bucket", "id", "vecn"],
                )

    return queries.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("vec")
    ).mapInArrow(_bq, schema=_BUCKETED_SCHEMA)


# ---------------------------------------------------------------------------
# IVF-PQ: product-quantized ANN for corpora whose raw vectors do not fit
# ---------------------------------------------------------------------------
def _pq_subdims(dim: int, m_subvectors: int | None) -> int:
    """Pick the subspace count: the requested M (must divide dim), else the
    largest divisor of dim that is <= 8 — 8 × uint8 codes per vector is the
    classic 'one machine word per vector' operating point."""
    if m_subvectors is not None:
        if dim % m_subvectors:
            raise ValueError(
                f"m_subvectors={m_subvectors} must divide dim={dim}"
            )
        return m_subvectors
    for m in range(min(8, dim), 0, -1):
        if dim % m == 0:
            return m
    return 1


def pq_train_codebooks(
    R: np.ndarray, m: int, n_codewords: int = 256, n_iter: int = 10,
    seed: int = 11,
) -> np.ndarray:
    """Seeded L2 k-means per subspace over residual rows ``R`` (n, dim) —
    driver side, on the same training sample as the coarse centroids.
    Returns ``(m, J, dim//m)`` float32 codebooks (J <= n_codewords)."""
    n, dim = R.shape
    dsub = dim // m
    j = min(n_codewords, n)
    rng = np.random.default_rng(seed)
    books = np.empty((m, j, dsub), dtype=np.float32)
    for mi in range(m):
        S = np.ascontiguousarray(R[:, mi * dsub : (mi + 1) * dsub])
        idx = rng.choice(n, size=j, replace=False)
        cw = S[np.sort(idx)].copy()
        for _ in range(n_iter):
            # argmin ||s - cw||^2 == argmax s·cw - ||cw||^2/2
            assign = np.argmax(S @ cw.T - 0.5 * (cw * cw).sum(1), axis=1)
            # grouped means (bit-identical to the per-codeword masked loop —
            # see _grouped_means): O(n log n) instead of O(J·n) per iter
            for ji, m in _grouped_means(S, assign):
                cw[ji] = m
        books[mi] = cw
    return books


def pq_encode(Rn: np.ndarray, books: np.ndarray) -> np.ndarray:
    """Residual rows -> ``(n, m)`` uint8 codes (nearest codeword per
    subspace, L2)."""
    m, _, dsub = books.shape
    codes = np.empty((len(Rn), m), dtype=np.uint8)
    for mi in range(m):
        S = Rn[:, mi * dsub : (mi + 1) * dsub]
        cw = books[mi]
        codes[:, mi] = np.argmax(
            S @ cw.T - 0.5 * (cw * cw).sum(1), axis=1
        ).astype(np.uint8)
    return codes

