"""W2/W3 at pipeline scale — the composite entity key of the persisted ANN
index, for KBs beyond the broadcast budget.

The default retrieval (operators/retrieval.py + fused.py) broadcasts the KB
as NumPy shards — the right topology while the KB fits executor memory
(the reference's whole KB is one 24 GB FAISS server,
pipeline/biencoder/blink/indexer/faiss_indexer.py:65-67).  When the entity
dimension outgrows broadcast (10^8+ entities × 1024-d), the KB stays a
DataFrame and retrieval runs against the persisted, build-once IVF index
(operators/ann_index.py) inside the same fused stage: one index spans the
RO KB and the RW entities, so each row is keyed by one long that encodes
``(indexer, id)``.  This module builds that key, Spark-side for the corpus
and NumPy-side for deltas; the search decodes it in place.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# composite (indexer, id) -> one long key; id must stay below 2^40 (~1.1e12,
# far above any KB/RW id — RW ids count discovered clusters, not turns) and
# indexer below 2^23 so the product cannot overflow a signed 64-bit long
_IDX_SHIFT = 1 << 40
_MAX_INDEXER = 1 << 23


def composite_corpus(kb_df: DataFrame) -> DataFrame:
    """(id, indexer, embedding[, wikipedia_id, title]) -> (vec_id,
    embedding[, wikipedia_id, title]) with the composite long key,
    runtime-guarded.  The metadata columns pass through when present, so
    the index rows can carry them.

    A row violating the key range would silently decode to the wrong entity.
    raise_error is evaluated JVM-side per row — no extra action, negligible
    cost next to the dot products.  The whole key construction lives inside
    the guarded branch: for legal values the key maxes out at exactly 2^63-1
    (no overflow), and illegal ones raise BEFORE any arithmetic can
    ANSI-overflow with a less useful message."""
    checked_key = F.when(
        (F.col("id") < 0)
        | (F.col("id") >= F.lit(_IDX_SHIFT))
        | (F.col("indexer") < 0)
        | (F.col("indexer") >= F.lit(_MAX_INDEXER)),
        F.raise_error(
            F.concat(
                F.lit("composite_corpus: kb id/indexer outside composite-key "
                      "range (id in [0, 2^40), indexer in [0, 2^23)): id="),
                F.col("id").cast("string"),
                F.lit(" indexer="),
                F.col("indexer").cast("string"),
            )
        ).cast("long"),
    ).otherwise(
        F.col("indexer").cast("long") * F.lit(_IDX_SHIFT) + F.col("id").cast("long")
    )
    meta = [c for c in ("wikipedia_id", "title") if c in kb_df.columns]
    return kb_df.select(checked_key.alias("vec_id"), F.col("embedding"), *meta)


def composite_keys_np(ids, indexers) -> "np.ndarray":
    """NumPy twin of ``composite_corpus``'s key for driver-side delta
    assembly; same range guard, same arithmetic."""
    import numpy as np

    ids = np.asarray(ids, dtype=np.int64)
    idx = np.asarray(indexers, dtype=np.int64)
    if (
        (ids < 0).any() or (ids >= _IDX_SHIFT).any()
        or (idx < 0).any() or (idx >= _MAX_INDEXER).any()
    ):
        raise ValueError(
            "composite_keys_np: id/indexer outside composite-key range "
            "(id in [0, 2^40), indexer in [0, 2^23))"
        )
    return idx * _IDX_SHIFT + ids
