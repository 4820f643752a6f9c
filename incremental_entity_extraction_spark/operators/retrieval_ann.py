"""W2/W3 at pipeline scale — ANN candidate retrieval for KBs beyond the
broadcast budget.

The default retrieval (operators/retrieval.py + fused.py) broadcasts the KB
as NumPy shards — the right topology while the KB fits executor memory
(the reference's whole KB is one 24 GB FAISS server,
pipeline/biencoder/blink/indexer/faiss_indexer.py:65-67).  When the entity
dimension outgrows broadcast (10^8+ entities × 1024-d), this module keeps
the KB a DataFrame and retrieves through the persisted, build-once IVF(-PQ)
index (operators/ann_index.py): mentions probe ``n_probe`` buckets of the
index rows — approximate (recall tested ≥ 0.9 in its operating regime) but
nothing KB-sized ever reaches the driver or a broadcast.

Output contract matches ``retrieve_topk`` exactly: mention rows +
``candidates array<CANDIDATE_STRUCT>`` sorted (score desc, indexer asc,
id asc), score in dot space (= cosine · vector_norm², since every encoding
is L2-normed to ``cfg.vector_norm``), so NIL prediction and clustering run
unchanged downstream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from incremental_entity_extraction_spark.config import PipelineConfig
from incremental_entity_extraction_spark.operators.retrieval import CANDIDATE_STRUCT

# composite (indexer, id) -> one long key; id must stay below 2^40 (~1.1e12,
# far above any KB/RW id — RW ids count discovered clusters, not turns) and
# indexer below 2^23 so the product cannot overflow a signed 64-bit long
_IDX_SHIFT = 1 << 40
_MAX_INDEXER = 1 << 23


def composite_corpus(kb_df: DataFrame) -> DataFrame:
    """(id, indexer, embedding) -> (vec_id, embedding) with the composite
    long key, runtime-guarded.

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
    return kb_df.select(checked_key.alias("vec_id"), F.col("embedding"))


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


def retrieve_topk_indexed(
    mentions: DataFrame,
    kb_df: DataFrame,
    cfg: PipelineConfig,
    model,
    extra_rows=None,
    allowed_batches: list[int] | None = None,
) -> DataFrame:
    """Index-backed retrieval: same output contract as ``retrieve_topk``
    but against a persisted, incrementally-added ANN index
    (operators/ann_index.AnnIndexModel) — no per-batch training, bucketing,
    or corpus shuffle; the scan is pruned to probed buckets.  ``kb_df``
    supplies candidate METADATA (and, in pq mode, the raw vectors for the
    exact re-rank); ``extra_rows``/``allowed_batches`` thread the in-flight
    delta and the drained-batch visibility set."""
    from incremental_entity_extraction_spark.operators.ann_index import (
        ann_index_search,
    )

    spark = mentions.sparkSession
    queries = mentions.select(
        F.xxhash64("mention_id").alias("vec_id"),
        F.col("encoding").alias("embedding"),
    )
    nn = ann_index_search(
        model, spark, queries, k=cfg.top_k,
        rerank_corpus=(
            composite_corpus(kb_df) if model.mode == "ivf_pq" else None
        ),
        extra_rows=extra_rows, allowed_batches=allowed_batches,
        exclude_self=False,
    )
    return _assemble_candidates(nn, mentions, kb_df, cfg)


def _assemble_candidates(
    nn: DataFrame, mentions: DataFrame, kb_df: DataFrame, cfg: PipelineConfig
) -> DataFrame:
    """(query_id, neighbor_id, cosine, rank) -> mentions + sorted
    ``candidates array<CANDIDATE_STRUCT>`` (decode composite key, hydrate
    metadata, per-mention sorted assembly)."""
    norm2 = float(cfg.vector_norm) ** 2
    decoded = nn.select(
        F.col("query_id").alias("qid"),
        (F.col("neighbor_id") % F.lit(_IDX_SHIFT)).alias("id"),
        # integer DIV, not `/`: true division goes through double and loses
        # precision for keys beyond 2^53 (indexer >= 2^13)
        F.expr(f"CAST(neighbor_id DIV {_IDX_SHIFT}L AS INT)").alias("indexer"),
        (F.col("cosine") * F.lit(norm2)).cast("float").alias("score"),
        F.col("cosine").cast("float").alias("norm_score"),
    )
    meta = kb_df.select("id", "indexer", "wikipedia_id", "title")
    hydrated = decoded.join(meta, ["id", "indexer"], "inner")
    assembled = hydrated.groupBy("qid").agg(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        (-F.col("score")).alias("neg_score"),
                        F.col("indexer").cast("int").alias("indexer"),
                        F.col("id").cast("long").alias("id"),
                        F.col("wikipedia_id").cast("long").alias("wikipedia_id"),
                        F.col("title").alias("title"),
                        F.col("score").alias("score"),
                        F.col("norm_score").alias("norm_score"),
                    )
                )
            ),
            lambda s: F.struct(
                s["id"].alias("id"),
                s["indexer"].alias("indexer"),
                s["wikipedia_id"].alias("wikipedia_id"),
                s["title"].alias("title"),
                s["score"].alias("score"),
                s["norm_score"].alias("norm_score"),
            ),
        ).alias("candidates")
    )
    empty = F.array().cast(T.ArrayType(CANDIDATE_STRUCT).simpleString())
    out = (
        mentions.withColumn("qid", F.xxhash64("mention_id"))
        .join(assembled, "qid", "left")
        .withColumn("candidates", F.coalesce(F.col("candidates"), empty))
        .drop("qid")
    )
    return out
