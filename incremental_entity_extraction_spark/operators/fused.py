"""Fused detect→encode→retrieve→NIL stage: ONE mapInArrow hop.

The reference runs these stages as separate services (biencoder, indexer,
nilpredictor).  As chained Spark stages each would be its own PythonRunner,
so a single task would chain several Python workers and every intermediate
row (including the duplicated context strings) would cross the JVM↔Python
Arrow boundary once per stage — measured 2-3× slower than this fused
single-hop stage on the same data.

This operator runs the kernels (detection, featurizer, tiled top-k, then
``nil.nil_columns`` on the flat top-k arrays) inside one worker pass and
emits the full enriched, NIL-scored mention rows.  Its output equals the
NumPy oracle's per-stage functions (``oracle.reference``) on the same KB:
mention columns and encodings exactly, candidate lists in the same order
(tests/test_fused.py).

Both retrieval modes run here.  The shards are either ``KBShard``s (the
whole KB broadcast; exact) or the persisted IVF index
(``ann_index.IVFShard``: centroids + the visible row files, read per task
from the probed row groups; approximate).  Either way a batch crosses
into Python once, and candidates leave hydrated and ranked.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from incremental_entity_extraction_spark.config import PipelineConfig
from incremental_entity_extraction_spark.functions.fused_kernel import (
    fused_mentions_frame,
)
from incremental_entity_extraction_spark.operators.ann_index import _list_array
from incremental_entity_extraction_spark.operators.nil import (
    NIL_FIELDS,
    nil_columns,
)
from incremental_entity_extraction_spark.operators.retrieval import (
    CANDIDATE_STRUCT,
    topk_candidates_columnar,
)

ENCODED_SCHEMA = T.StructType(
    [
        T.StructField("mention_id", T.StringType(), False),
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("batch_id", T.IntegerType(), False),
        T.StructField("start_tok", T.IntegerType(), False),
        T.StructField("mention", T.StringType(), False),
        T.StructField("context_left", T.StringType(), True),
        T.StructField("context_right", T.StringType(), True),
        T.StructField("encoding", T.ArrayType(T.FloatType()), False),
    ]
)

FUSED_SCHEMA = T.StructType(
    ENCODED_SCHEMA.fields
    + [T.StructField("candidates", T.ArrayType(CANDIDATE_STRUCT), False)]
    + NIL_FIELDS
)


def _row_chunks(n: int, width: int) -> Iterator[tuple[int, int]]:
    """Slice [0, n) so each chunk's flat list buffers stay below the int32
    list-offset limit (2^31 values) — one mentions frame only ever exceeds
    it at ~2M mentions × dim 1024, but the failure would be an ArrowInvalid
    task error (or a silent int32 cumsum wrap in the candidates offsets),
    so split instead.  ``width`` must be the WIDEST per-row list the caller
    emits: max(dim, top_k)."""
    max_rows = max(1, ((1 << 31) - 1) // max(width, 1))
    for s in range(0, n, max_rows):
        yield s, min(s + max_rows, n)


def _candidate_arrays(
    ids: np.ndarray,
    idxr: np.ndarray,
    wids: np.ndarray,
    titles: np.ndarray,
    sc: np.ndarray,
    norm_sc: np.ndarray,
) -> list[pa.Array]:
    """Flat columnar top-k output (``topk_candidates_columnar``) -> the
    arrow arrays of the ``CANDIDATE_STRUCT`` fields."""
    return [
        pa.array(ids, type=pa.int64()),
        pa.array(idxr, type=pa.int32()),
        pa.array(wids, type=pa.int64()),
        pa.array(titles, type=pa.string()),
        pa.array(sc, type=pa.float32()),
        pa.array(norm_sc, type=pa.float32()),
    ]


def _candidates_list_array(
    counts: np.ndarray,
    fields: list[pa.Array],
    list_type: pa.ListType | None = None,
) -> pa.ListArray:
    """``_candidate_arrays`` + per-row counts -> arrow list<struct>
    candidates column, of ``list_type`` when given (a collected column's
    own, whose non-null fields a cast could not reach)."""
    offsets = np.zeros(len(counts) + 1, dtype=np.int32)
    np.cumsum(counts, out=offsets[1:])
    if list_type is None:
        struct = pa.StructArray.from_arrays(
            fields, names=[f.name for f in CANDIDATE_STRUCT.fields]
        )
    else:
        struct = pa.StructArray.from_arrays(
            fields, fields=list(list_type.value_type)
        )
    return pa.ListArray.from_arrays(pa.array(offsets), struct, type=list_type)


def _base_arrays(out: pd.DataFrame) -> list[pa.Array]:
    return [
        pa.array(out["mention_id"], type=pa.string()),
        pa.array(out["conv_id"], type=pa.string()),
        pa.array(out["turn_idx"].to_numpy(), type=pa.int32()),
        pa.array(out["batch_id"].to_numpy(), type=pa.int32()),
        pa.array(out["start_tok"].to_numpy(), type=pa.int32()),
        pa.array(out["mention"], type=pa.string()),
        pa.array(out["context_left"], type=pa.string()),
        pa.array(out["context_right"], type=pa.string()),
    ]


def detect_encode_retrieve(
    transcripts: DataFrame,
    cfg: PipelineConfig,
    shards: list,
    known_words: frozenset | None = None,
    encoder=None,
    shards_bc=None,
    extra_shards_bc=None,
) -> DataFrame:
    """transcripts -> enriched mention rows: encoding, sorted candidates and
    the ``nil.NIL_FIELDS`` columns (``max_bi`` … ``is_nil``, ``top_*``).

    ``shards`` is a list of one shard kind (``topk_candidates_columnar``):
    ``KBShard``s, or an ``ann_index.IVFShard`` index shard optionally
    followed by further IVF shards (delta files).

    ``encoder`` is the M4 pluggable-contract point: a picklable callable
    ``(windows: list[list[str]], weights: list[list[float]]) ->
    np.ndarray[n, cfg.dim] float32`` run executor-side per Arrow batch.
    Default = the deterministic hash featurizer
    (functions.featurizer.encode_token_lists).  A real model plugs in via
    ``operators.torch_encoder.make_torch_encoder`` (executor-local model
    singleton).  Contract: vectors must be L2-normed to ``cfg.vector_norm``
    so the reference's dot-product thresholds keep their meaning
    (config.py docstring).

    ``shards_bc`` is an already-created ``Broadcast`` of such a list, reused
    ACROSS calls; ``shards`` must then be ``[]`` (enforced — any per-call
    extra goes through ``extra_shards_bc`` below, never an inline list this
    function would have to broadcast and could never unpersist).  The
    incremental loop passes the RO KB this way: a per-batch
    ``sc.broadcast`` of an unchanged multi-MB KB costs a driver-side
    pickle per batch plus a fresh broadcast id that every reused Python
    worker must re-load (the worker-side broadcast registry caches by id),
    which profiling showed to be a first-order slice of the tiny-batch
    floor.

    ``extra_shards_bc`` lets the CALLER own the per-call extra broadcast's
    lifecycle (``shards`` must then be ``[]``): a loop that let this
    function broadcast the growing RW shard every window with nothing ever
    unpersisting it would leak O(windows × RW-KB bytes) on the driver and
    in every worker's broadcast registry.  ``pipeline.BatchLoop`` creates
    the RW broadcast, passes it here, and unpersists it once the window's
    one Arrow collect of this stage has returned (or failed) — nothing
    reads the stage again after that: above the clustering gate the NIL
    rows go back to Spark from the collected table, not from this plan."""
    spark = transcripts.sparkSession
    if extra_shards_bc is not None and shards:
        raise ValueError("pass the per-call extra via EITHER shards or "
                         "extra_shards_bc, not both")
    if shards_bc is not None and shards:
        # the combination would force an internally created per-call
        # broadcast nobody could ever unpersist — exactly the
        # O(batches × KB) leak extra_shards_bc exists to avoid; loop
        # callers must own the extra's lifecycle themselves
        raise ValueError(
            "shards must be [] when shards_bc is set: pass per-call extra "
            "shards via extra_shards_bc (caller owns its unpersist)"
        )
    bc = spark.sparkContext.broadcast(shards) if shards_bc is None else shards_bc
    # an EMPTY extra list gets no broadcast at all — broadcasting [] per
    # window would reintroduce the broadcast-id churn (and a
    # driver-side leak over a long stream) this parameter exists to remove
    bc_extra = extra_shards_bc
    dim, norm, max_tok = cfg.dim, cfg.vector_norm, cfg.max_context_tokens
    k_cfg = cfg.top_k
    norm2 = float(cfg.vector_norm) ** 2

    def _fused(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        shard_list = bc.value + (bc_extra.value if bc_extra is not None else [])
        for rb in batches:
            # vectorized partition kernel (functions/fused_kernel.py) —
            # bit-identical to the per-row detection/window/encode chain
            res = fused_mentions_frame(
                rb.to_pandas(), known_words, max_tok, dim, norm, encoder,
                with_encoding_col=False,
            )
            if res is None:
                continue
            out, enc = res
            # columnar assembly end-to-end: the encoding column comes
            # straight from the flat (n, dim) matrix, the candidates and
            # NIL columns from the kernel's flat top-k arrays — no per-row
            # lists, no per-candidate dicts
            for s, e in _row_chunks(len(out), max(dim, k_cfg)):
                o = out.iloc[s:e] if (s, e) != (0, len(out)) else out
                counts, *flat = topk_candidates_columnar(
                    enc[s:e], shard_list, k_cfg, norm2
                )
                fields = _candidate_arrays(*flat)
                yield pa.RecordBatch.from_arrays(
                    _base_arrays(o)
                    + [
                        _list_array(enc[s:e]),
                        _candidates_list_array(counts, fields),
                        *nil_columns(counts, *fields[:5], cfg),
                    ],
                    names=[f.name for f in FUSED_SCHEMA.fields],
                )

    cols = ["conv_id", "turn_idx", "batch_id", "text"]
    return transcripts.select(*cols).mapInArrow(_fused, schema=FUSED_SCHEMA)
