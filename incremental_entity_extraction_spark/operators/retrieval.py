"""W1/J5 — exact dense top-k retrieval against a broadcast entity index.

Reference: FAISS ``IndexFlatIP.search`` over one RO + one RW index with
Postgres metadata hydration (pipeline/biencoder/blink/indexer/
faiss_indexer.py:65-67; pipeline/indexer/main.py:81-169).

Spark design (SURVEY.md §4): the entity matrix is broadcast as one or more
NumPy shards; each mention partition computes ``scores = enc @ shard.Tᵀ``
(chunked so the score block stays bounded), takes per-shard top-k with
``argpartition``, merges across shards, and hydrates metadata from the same
broadcast — zero shuffles end-to-end.  The reference's 5.9M × 1024 float32
index is ~24 GB: at cluster scale it ships as ~8-16 shards (a few GB each)
and the per-shard top-k results merge in the same pass; mention partitions
scale out freely, so the scan parallelism is (mention partitions × 1) with
no exchange.

Candidate ordering is deterministic: score desc, then (indexer, id) asc —
matching the oracle and the reference's score-desc sort across indexes
(pipeline/indexer/main.py:167-169).

Hydration parity note: the reference's per-request ``SELECT ... WHERE id IN``
(S4) is a broadcast-hash join in relational terms; here metadata rides the
same broadcast as the vectors, so hydration is a local array gather.  The
top-k runs inside the fused stage (operators/fused.py).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from incremental_entity_extraction_spark.operators.ann_index import (
    IVFShard,
    ivf_topk_columnar,
)

CANDIDATE_STRUCT = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("indexer", T.IntegerType(), False),
        T.StructField("wikipedia_id", T.LongType(), True),
        T.StructField("title", T.StringType(), True),
        T.StructField("score", T.FloatType(), False),
        T.StructField("norm_score", T.FloatType(), False),
    ]
)

_SCORE_CHUNK_ROWS = 1024  # mention rows scored per matmul block
_ENT_TILE = 2048          # entity columns per score tile (cache-resident)


def _pair_scores(Q: np.ndarray, V: np.ndarray) -> np.ndarray:
    """``S[i, j] = Q[i] · V[i, j]`` in f32, each entry reduced in one fixed
    order from its own pair only (einsum, like ``ann_index._dots``), so a
    score never depends on the shape of the block it was computed in."""
    return np.einsum("id,ijd->ij", Q, V)


class KBShard:
    """Driver-side container for one broadcastable entity-index shard."""

    __slots__ = ("E", "ids", "indexer", "wikipedia_id", "title")

    def __init__(self, pdf: pd.DataFrame):
        self.E = np.stack(
            [np.asarray(e, dtype=np.float32) for e in pdf["embedding"]]
        ) if len(pdf) else np.zeros((0, 1), dtype=np.float32)
        self.ids = pdf["id"].to_numpy(dtype=np.int64)
        self.indexer = pdf["indexer"].to_numpy(dtype=np.int32)
        self.wikipedia_id = pdf["wikipedia_id"].fillna(-1).to_numpy(dtype=np.int64)
        # fillna BEFORE astype: a bare astype(str) renders None as "None"
        # and pd.NA as "<NA>", so the same null title would read differently
        # between a live driver-gated delta (pd.NA) and a lake-resumed shard
        # (None) — normalize both to "" (the entity encode tower does the
        # same, operators/encode.py)
        self.title = pdf["title"].fillna("").astype(str).to_numpy()


def build_kb_shards(kb_df: DataFrame, n_shards: int = 1) -> list[KBShard]:
    """Collect the KB dimension table into ``n_shards`` driver-side shards.

    Deterministic shard assignment: ``id % n_shards`` within each indexer.
    (At 100 TB scale this is the one deliberate collect: the KB is a
    dimension table — 5.9M rows in the reference — that must be broadcast
    for the scan-side matmul; shard count bounds per-executor memory.)
    """
    pdf = kb_df.select(
        "id", "indexer", "wikipedia_id", "title", "embedding"
    ).toPandas()
    pdf = pdf.sort_values(["indexer", "id"]).reset_index(drop=True)
    if len(pdf) == 0:
        return []
    return [
        KBShard(pdf[(pdf["id"] % n_shards) == s].reset_index(drop=True))
        for s in range(n_shards)
    ]


def topk_candidates_columnar(
    enc: np.ndarray, shard_list: list, k: int, norm2: float
) -> tuple:
    """Top-k candidates for an encoding matrix vs broadcast shards, as
    COLUMNAR flat arrays: ``(counts, ids, indexer, wikipedia_id, title,
    score, norm_score)`` where row ``r``'s candidates are the slice
    ``[counts[:r].sum() : counts[:r+1].sum())`` in global rank order
    (score desc, indexer asc, id asc).

    Two shard kinds: ``KBShard`` (exact, the whole KB in the broadcast) and
    the persisted IVF index (``ann_index.IVFShard``, index shard first),
    which ``ann_index.ivf_topk_columnar`` searches.

    Per-shard, per-tile top-k, then merge (two-level top-k, SURVEY.md W1).
    Entity tiles keep the score block cache-resident (chunk × _ENT_TILE
    floats ≈ 8 MB) — a full chunk × n_entities block is DRAM-bandwidth-bound
    and collapses under concurrent workers.  No per-row Python: the flat
    arrays feed Arrow struct/list builders directly (operators/fused.py).

    The BLAS score blocks only SELECT: a pool of the best ``2k`` per row
    is re-scored exactly (``_pair_scores``) and ranked on those scores.  A
    BLAS product rounds each entry by its block's shape (OpenBLAS sends
    small blocks to a different kernel), so the same (mention, entity)
    pair could score one ulp apart depending on which mentions share its
    chunk and which entities share its tile; the re-scored values do not
    depend on either, so a batch ranks the same alone, inside a window of
    batches or on any partitioning, and two top-k lists merge exactly
    (``merge_candidates``).
    """
    if shard_list and isinstance(shard_list[0], IVFShard):
        return ivf_topk_columnar(enc, shard_list, k, norm2)
    n = len(enc)
    counts = np.zeros(n, dtype=np.int32)
    f_ids, f_idxr, f_wids, f_titles, f_sc = [], [], [], [], []
    for lo in range(0, n, _SCORE_CHUNK_ROWS):
        chunk = enc[lo : lo + _SCORE_CHUNK_ROWS]
        rows = np.arange(len(chunk))[:, None]
        parts = []  # (BLAS scores, shard number, shard row) per tile
        for s, shard in enumerate(shard_list):
            for t0 in range(0, shard.E.shape[0], _ENT_TILE):
                scores = chunk @ shard.E[t0 : t0 + _ENT_TILE].T  # [c, tile]
                kk = min(2 * k, scores.shape[1])
                idx = np.argpartition(-scores, kk - 1, axis=1)[:, :kk]
                parts.append((scores[rows, idx], np.full_like(idx, s), idx + t0))
        if not parts:
            continue
        sc, src, gidx = (np.concatenate(p, axis=1) for p in zip(*parts))
        if sc.shape[1] > 2 * k:
            pool = np.argpartition(-sc, 2 * k - 1, axis=1)[:, : 2 * k]
            src, gidx = src[rows, pool], gidx[rows, pool]
        shape = src.shape
        src, gidx = src.ravel(), gidx.ravel()
        vecs = np.empty((len(src), chunk.shape[1]), np.float32)
        ids = np.empty(len(src), np.int64)
        idxr = np.empty(len(src), np.int32)
        wids = np.empty(len(src), np.int64)
        titles = np.empty(len(src), object)
        for s, shard in enumerate(shard_list):
            at = np.flatnonzero(src == s) if len(shard_list) > 1 else slice(None)
            g = gidx[at]
            vecs[at], ids[at], idxr[at] = shard.E[g], shard.ids[g], shard.indexer[g]
            wids[at], titles[at] = shard.wikipedia_id[g], shard.title[g]
        ids, idxr, wids, titles = (
            a.reshape(shape) for a in (ids, idxr, wids, titles)
        )
        sc = _pair_scores(chunk, vecs.reshape(*shape, -1))
        kk = min(k, shape[1])
        # deterministic global order: score desc, indexer asc, id asc
        order = np.lexsort((ids, idxr, -sc), axis=1)[:, :kk]
        counts[lo : lo + len(chunk)] = kk
        f_sc.append(sc[rows, order].ravel())
        f_ids.append(ids[rows, order].ravel())
        f_idxr.append(idxr[rows, order].ravel())
        f_wids.append(wids[rows, order].ravel())
        f_titles.append(titles[rows, order].ravel())

    def _cat(parts, dtype):
        return (
            np.concatenate(parts)
            if parts
            else np.empty(0, dtype=dtype)
        )

    sc = _cat(f_sc, np.float32)
    return (
        counts,
        _cat(f_ids, np.int64),
        _cat(f_idxr, np.int32),
        _cat(f_wids, np.int64),
        _cat(f_titles, object),
        sc,
        # f64 division rounded once to f32: the row-major kernel's
        # float(score / norm2) followed by Spark's FloatType cast
        (sc.astype(np.float64) / norm2).astype(np.float32),
    )


def merge_candidates(
    lists: pa.ListArray,
    counts: np.ndarray,
    fields: list[pa.Array],
    k: int,
    by_norm: bool,
) -> tuple[np.ndarray, list[pa.Array]]:
    """Per row, the top ``k`` of the union of two candidate lists:
    ``lists`` (a ``CANDIDATE_STRUCT`` list column) and the flat arrays
    ``fields`` that ``counts`` slices row by row
    (``topk_candidates_columnar``'s layout; a row may hold any number).
    Returns the merged ``(counts, fields)`` in that layout.

    The order is the kernels' own, and it is total, so when each list
    holds every entity of its side that could make the row's top ``k`` (a
    top-``k`` list does), the result is the top ``k`` of all their
    entities: score descending, then (indexer, id) ascending.
    ``by_norm`` is the IVF kernel's: keep the top ``k`` by ``norm_score``
    (the f32 cosine) with the same tie-break, then order them by score."""
    flat = dict(zip((f.name for f in CANDIDATE_STRUCT.fields),
                    lists.flatten().flatten()))
    n = len(lists)
    q = np.concatenate([
        np.repeat(np.arange(n),
                  pc.fill_null(pc.list_value_length(lists), 0).to_numpy()),
        np.repeat(np.arange(n), counts),
    ])
    cols = [
        pa.concat_arrays([flat[f.name], b.cast(flat[f.name].type)])
        for f, b in zip(CANDIDATE_STRUCT.fields, fields)
    ]
    ids, idxr, sc, norm = (
        cols[i].to_numpy(zero_copy_only=False) for i in (0, 1, 4, 5)
    )
    sel = norm if by_norm else sc
    o = np.lexsort((ids, idxr, -sel, q))
    keep = o[np.arange(len(o)) - np.searchsorted(q[o], q[o]) < k]
    if by_norm:
        keep = keep[np.lexsort((ids[keep], idxr[keep], -sc[keep], q[keep]))]
    return (
        np.bincount(q[keep], minlength=n).astype(np.int32),
        [c.take(keep) for c in cols],
    )
