"""M8–M11 — NIL clustering + cluster summarization.

Reference: each batch's NIL mentions go to one clustering service call, and
the greedy, 3-step and TF-IDF services are interchangeable behind one port
(pipeline/docker-compose.yml:56-91).  The greedy service builds the full
dot-product matrix over the batch and runs a sequential last-writer-wins
label loop with threshold 80.98... (pipeline/greedyclustering/__main__.py:
30-34, 52-59); clusters are summarized with modal title + medoid center
(__main__.py:63-78).

Spark design: every ``cluster_mode`` is a per-batch kernel of one shape,
``<kernel>(pdf, th)``: one batch's NIL rows as pandas in, ``CLUSTER_SCHEMA``
rows out (``CLUSTER_KERNELS`` names them).  A kernel only decides the root
row of each row; ``_summarize`` turns roots into summary rows (label = the
root's mention_id, members in canonical (conv_id, turn_idx, start_tok)
order, modal title, medoid center).

* ``cc`` (default): components of the ``score > threshold`` graph; label =
  the lexicographically smallest member mention_id.  A tiled union-find
  (``cluster_math.component_roots`` over ``threshold_pairs``): one sweep,
  O(n·tile) memory.
* ``greedy_replay``: the reference's sequential loop in canonical order —
  bit-identical to the oracle, scored in the same row tiles.
* ``three_step`` / ``tfidf``: the reference's alternative services (M9/M10),
  whose kernels still hold n×n matrices (``QUADRATIC_MODES``).

pipeline.run_batch runs the kernel on the driver.  Only a ``QUADRATIC_MODES``
batch whose NIL set is above ``pipeline.DRIVER_CLUSTER_MAX`` goes back to
Spark, where the same kernel runs in one applyInPandas task per batch
(``cluster_summarize_batches``) — the reference has the same single-node
constraint.
"""

from __future__ import annotations

from collections.abc import Callable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from incremental_entity_extraction_spark.config import PipelineConfig
from incremental_entity_extraction_spark.functions.cluster_math import (
    component_roots,
    greedy_cluster_labels,
    medoid_index,
    modal_value,
    three_step_cluster_labels,
    tfidf_cluster_labels,
    threshold_pairs,
)

CLUSTER_SCHEMA = T.StructType(
    [
        T.StructField("cluster_label", T.StringType(), False),
        T.StructField("batch_id", T.IntegerType(), False),
        T.StructField("title", T.StringType(), False),
        T.StructField("nelements", T.IntegerType(), False),
        T.StructField("mentions_id", T.ArrayType(T.StringType()), False),
        T.StructField("mentions", T.ArrayType(T.StringType()), False),
        T.StructField("center", T.ArrayType(T.FloatType()), False),
    ]
)
_CLUSTER_COLS = [f.name for f in CLUSTER_SCHEMA.fields]
_CANONICAL = ["conv_id", "turn_idx", "start_tok"]

# mode -> kernel NAME: pipeline resolves the name in its own namespace at
# call time, so a wrapper installed there (perfbench's tracer) sees the call
CLUSTER_KERNELS = {
    "cc": "cc_summarize_pdf",
    "greedy_replay": "greedy_summarize_pdf",
    "three_step": "three_step_summarize_pdf",
    "tfidf": "tfidf_summarize_pdf",
}
# modes whose kernel holds n×n matrices: the only ones pipeline.run_batch
# sends back to Spark (DRIVER_CLUSTER_MAX); cc and greedy_replay score in
# row tiles and always run on the driver
QUADRATIC_MODES = frozenset({"three_step", "tfidf"})


def _matrix(encodings) -> np.ndarray:
    return np.stack([np.asarray(e, dtype=np.float32) for e in encodings])


# --------------------------------------------------------------------------
# per-batch kernels and the one summary builder (A2/A3/A10)
# --------------------------------------------------------------------------
def _summarize(
    pdf: pd.DataFrame, roots: Callable[[pd.DataFrame, np.ndarray], np.ndarray]
) -> pd.DataFrame:
    """The summary builder every kernel ends in.  Sorts ``pdf`` (one batch's
    NIL rows) into canonical order, asks
    ``roots(pdf, enc)`` for the root row index of each row, and emits one
    CLUSTER_SCHEMA row per root: label = the root's mention_id, members in
    canonical order, modal title, medoid center."""
    if len(pdf) == 0:
        return pd.DataFrame(columns=_CLUSTER_COLS)
    pdf = pdf.sort_values(_CANONICAL).reset_index(drop=True)
    enc = _matrix(pdf["encoding"])
    root = np.asarray(roots(pdf, enc))
    # one stable sort groups each root's members, still in canonical order;
    # a group's first member is its root's first appearance (pd.unique order)
    order = np.argsort(root, kind="stable")
    groups = np.split(order, np.flatnonzero(np.diff(root[order])) + 1)
    groups.sort(key=lambda g: g[0])
    ids, mentions = pdf["mention_id"].tolist(), pdf["mention"].tolist()
    batch_id = int(pdf["batch_id"].iloc[0])
    rows = []
    for members in groups:
        sub_enc = enc[members]
        ms = [mentions[i] for i in members]
        rows.append((
            ids[root[members[0]]], batch_id, modal_value(ms), len(members),
            [ids[i] for i in members], ms,
            sub_enc[medoid_index(sub_enc)].tolist(),
        ))
    return pd.DataFrame(rows, columns=_CLUSTER_COLS)


def cc_summarize_pdf(pdf: pd.DataFrame, th: float) -> pd.DataFrame:
    """``cc``: connected components of the ``score > th`` graph, each
    rooted at its lexicographically smallest mention_id."""

    def roots(p: pd.DataFrame, enc: np.ndarray) -> np.ndarray:
        by_id = np.argsort(p["mention_id"].to_numpy().astype(object), kind="stable")
        rank = np.empty(len(by_id), dtype=np.intp)
        rank[by_id] = np.arange(len(by_id))
        return component_roots(len(enc), threshold_pairs(enc, th), rank)

    return _summarize(pdf, roots)


def greedy_summarize_pdf(pdf: pd.DataFrame, th: float) -> pd.DataFrame:
    """``greedy_replay``: the reference's sequential loop at ``th``."""
    return _summarize(pdf, lambda p, enc: greedy_cluster_labels(enc, th))


def three_step_summarize_pdf(pdf: pd.DataFrame, th: float) -> pd.DataFrame:
    """``three_step`` (M9): string, cosine and centroid single-link steps at
    the reference service's own thresholds, so ``th`` is unused."""
    return _summarize(
        pdf, lambda p, enc: three_step_cluster_labels(list(p["mention"]), enc)
    )


def tfidf_summarize_pdf(pdf: pd.DataFrame, th: float) -> pd.DataFrame:
    """``tfidf`` (M10): the blended char-bigram/context TF-IDF kernel and
    greedy loop at the reference service's threshold (0.984375,
    pipeline/docker-compose.yml:91), so ``th`` is unused.  Needs the
    ``context_left`` / ``context_right`` columns."""

    def roots(p: pd.DataFrame, enc: np.ndarray) -> np.ndarray:
        ctx = p["context_left"].fillna("") + " " + p["context_right"].fillna("")
        return tfidf_cluster_labels(list(p["mention"]), list(ctx))

    return _summarize(pdf, roots)


def kernel_columns(cluster_mode: str) -> list[str]:
    """The NIL columns the mode's kernel reads (contexts only for tfidf)."""
    extra = ["context_left", "context_right"] if cluster_mode == "tfidf" else []
    return ["batch_id", *_CANONICAL, "mention_id", "mention", "encoding", *extra]


def cluster_summarize_batches(
    nil_df: DataFrame, cfg: PipelineConfig, cluster_mode: str
) -> DataFrame:
    """The mode's kernel in one applyInPandas task per batch — the
    executor-side twin of the pipeline's driver path, same rows."""
    kernel = globals()[CLUSTER_KERNELS[cluster_mode]]
    th = float(cfg.greedy_threshold)

    def _batch(pdf: pd.DataFrame) -> pd.DataFrame:
        return kernel(pdf, th)

    return (
        nil_df.select(*kernel_columns(cluster_mode))
        .groupBy("batch_id")
        .applyInPandas(_batch, schema=CLUSTER_SCHEMA)
    )
