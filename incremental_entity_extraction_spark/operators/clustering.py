"""M8/M11 — NIL clustering + cluster summarization.

Reference: the greedyclustering service builds the full dot-product matrix
over a batch's NIL mentions and runs a sequential last-writer-wins label
loop with threshold 80.98... (pipeline/greedyclustering/__main__.py:30-34,
52-59); clusters are summarized with modal title + medoid center
(__main__.py:63-78).

Spark design (SURVEY.md §7.4): two interchangeable engines —

* ``cc``  (default, the scale path): build the ``score > threshold`` edge
  graph via broadcast-matrix scoring (each partition scores its rows against
  the broadcast NIL matrix — an embarrassingly parallel n×n block sweep),
  then run iterative min-label propagation (connected components) with
  ``localCheckpoint`` every iteration to cut lineage (SURVEY.md §4).
  Deterministic: the component label is the lexicographically smallest
  member mention_id.

* ``greedy_replay`` (strict-parity mode): ``applyInPandas`` per batch
  replaying the reference's exact sequential loop in canonical
  (conv_id, turn_idx, start_tok) order.  Bit-identical to the oracle; only
  usable while a batch's NIL set fits one task (the reference has the same
  single-node constraint).

At 10^12-turn scale the NIL set per batch is bounded by the NIL rate (~10%)
of a batch slice; the cc engine's edge sweep shards the matrix over mention
partitions, and giant components are bounded by the threshold (hot keys are
handled upstream by the salted conv_id repartition in the pipeline driver).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from incremental_entity_extraction_spark.config import PipelineConfig
from incremental_entity_extraction_spark.functions.cluster_math import (
    greedy_cluster_labels,
    medoid_index,
    modal_value,
)

_LABEL_SCHEMA = T.StructType(
    [
        T.StructField("mention_id", T.StringType(), False),
        T.StructField("cluster_label", T.StringType(), False),
    ]
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


# --------------------------------------------------------------------------
# engine 1: connected components on the threshold graph
# --------------------------------------------------------------------------
def nil_edges(nil_df: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """Edge list (src, dst) where dot(enc_src, enc_dst) > threshold, src≠dst,
    within the same batch_id.

    The full matrix is broadcast once; each partition scores only its own
    rows against it (block-row sweep — no shuffle).  For NIL sets too large
    to broadcast, pre-block with LSH buckets before calling this.
    """
    spark = nil_df.sparkSession
    pdf = nil_df.select("batch_id", "mention_id", "encoding").toPandas()
    if len(pdf) == 0:
        return spark.createDataFrame(
            [], "batch_id int, src string, dst string"
        )
    mat = np.stack([np.asarray(e, dtype=np.float32) for e in pdf["encoding"]])
    ids = pdf["mention_id"].to_numpy()
    batches = pdf["batch_id"].to_numpy()
    bc = spark.sparkContext.broadcast((mat, ids, batches))
    th = float(cfg.greedy_threshold)

    schema = T.StructType(
        [
            T.StructField("batch_id", T.IntegerType(), False),
            T.StructField("src", T.StringType(), False),
            T.StructField("dst", T.StringType(), False),
        ]
    )

    def _edges(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        all_mat, all_ids, all_b = bc.value
        for pdf_part in it:
            if len(pdf_part) == 0:
                continue
            enc = np.stack(
                [np.asarray(e, dtype=np.float32) for e in pdf_part["encoding"]]
            )
            scores = enc @ all_mat.T
            src_ids = pdf_part["mention_id"].to_numpy()
            src_b = pdf_part["batch_id"].to_numpy()
            rows, cols = np.where(scores > th)
            keep = (all_b[cols] == src_b[rows]) & (all_ids[cols] != src_ids[rows])
            rows, cols = rows[keep], cols[keep]
            yield pd.DataFrame(
                {
                    "batch_id": src_b[rows].astype("int32"),
                    "src": src_ids[rows],
                    "dst": all_ids[cols],
                }
            )

    return nil_df.select("batch_id", "mention_id", "encoding").mapInPandas(
        _edges, schema=schema
    )


def connected_components(
    vertices: DataFrame, edges: DataFrame, max_iter: int = 50
) -> DataFrame:
    """Min-label propagation CC. vertices: (mention_id); edges: (src, dst),
    assumed symmetric-able (we union both directions).  Returns
    (mention_id, cluster_label) where label = min member mention_id.

    Needs O(graph diameter) rounds, so no pipeline path uses it: the engine
    is ``connected_components_star`` (O(log n) rounds), and this simpler
    algorithm is kept as the reference that tests/test_cc_star.py checks
    star CC against.  Convergence is detected with a one-job label-set
    signature (count + bit_xor of per-row hashes) instead of a join against
    the previous labels; ``localCheckpoint`` truncates lineage per
    iteration (SURVEY.md §4).  Raises on non-convergence rather than silently
    returning partially-propagated labels."""
    sym = edges.select("src", "dst").union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    labels = vertices.select(
        F.col("mention_id"), F.col("mention_id").alias("cluster_label")
    ).localCheckpoint()
    sym = sym.localCheckpoint()
    prev_sig = None
    converged = False
    for _ in range(max_iter):
        msgs = (
            sym.join(labels, sym.src == labels.mention_id, "inner")
            .select(F.col("dst").alias("mention_id"), "cluster_label")
            .union(labels)
            .groupBy("mention_id")
            .agg(F.min("cluster_label").alias("cluster_label"))
        )
        labels = msgs.localCheckpoint()
        sig_row = labels.agg(
            F.count("*").alias("n"),
            # bit_xor, not sum: Spark 4 ANSI mode overflows summed hashes
            F.expr("bit_xor(xxhash64(mention_id, cluster_label))").alias("h"),
        ).first()
        sig = (sig_row["n"], sig_row["h"])
        if sig == prev_sig:
            converged = True
            break
        prev_sig = sig
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} iterations "
            "(graph diameter > max_iter?) — use connected_components_star, "
            "which converges in O(log n) rounds regardless of diameter"
        )
    return labels


def cluster_cc(
    nil_df: DataFrame,
    cfg: PipelineConfig,
    lsh_threshold: int = 200_000,
    small_graph_edges: int = 100_000,
    n_rows: int | None = None,
) -> DataFrame:
    """CC engine: (mention_id, cluster_label) for all NIL mentions.

    Above ``lsh_threshold`` rows the exact broadcast sweep (O(n²) scores,
    O(n·dim) broadcast) stops fitting; switch to LSH-blocked candidate
    generation (``nil_edges_lsh``) — bounded memory, slightly bounded recall.

    Components come from ``connected_components_star`` (large-star /
    small-star, O(log n) rounds regardless of diameter); label = min member
    id.

    ``n_rows``: the NIL row count when the caller already knows it (the
    pipeline's gate count rides an ``Observation`` on the checkpoint
    action) — passing it skips this function's one standalone ``count()``
    job, which exists only to pick the edge-generation path."""
    n = nil_df.count() if n_rows is None else int(n_rows)
    if n > lsh_threshold:
        edges = nil_edges_lsh(nil_df, cfg)
    else:
        edges = nil_edges(nil_df, cfg)
    return connected_components_star(
        nil_df.select("mention_id"), edges, small_graph_edges=small_graph_edges
    )


# --------------------------------------------------------------------------
# engine 2: strict greedy replay (reference-exact)
# --------------------------------------------------------------------------
def cluster_greedy_replay(nil_df: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """applyInPandas per batch: replay the reference's sequential loop in
    canonical order; label = mention_id of the cluster's label row."""
    th = float(cfg.greedy_threshold)

    def _replay(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["conv_id", "turn_idx", "start_tok"]).reset_index(
            drop=True
        )
        enc = (
            np.stack([np.asarray(e, dtype=np.float32) for e in pdf["encoding"]])
            if len(pdf)
            else np.zeros((0, 1), np.float32)
        )
        labels = greedy_cluster_labels(enc, th)
        return pd.DataFrame(
            {
                "mention_id": pdf["mention_id"],
                "cluster_label": pdf["mention_id"].iloc[labels].to_numpy(),
            }
        )

    return nil_df.select(
        "batch_id", "conv_id", "turn_idx", "start_tok", "mention_id", "encoding"
    ).groupBy("batch_id").applyInPandas(_replay, schema=_LABEL_SCHEMA)


def cluster_summarize_greedy(nil_df: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """greedy_replay + summarization fused into ONE ``groupBy(batch_id)``
    pass: the replay task already holds the whole batch's NIL rows in
    canonical order, so the cluster summaries (modal title, medoid center,
    member lists) are computed in place — one shuffle + one Python stage
    instead of two of each.  Label assignments are recovered downstream
    JVM-side by exploding ``mentions_id`` (run_batch), so the output is
    exactly ``summarize_clusters_df(nil_df, cluster_greedy_replay(nil_df))``
    (member lists are in canonical batch order in both)."""
    th = float(cfg.greedy_threshold)

    def _replay_summarize(pdf: pd.DataFrame) -> pd.DataFrame:
        return greedy_summarize_pdf(pdf, th)

    return nil_df.select(
        "batch_id", "conv_id", "turn_idx", "start_tok", "mention_id",
        "mention", "encoding",
    ).groupBy("batch_id").applyInPandas(_replay_summarize, schema=CLUSTER_SCHEMA)


def greedy_summarize_pdf(pdf: pd.DataFrame, th: float) -> pd.DataFrame:
    """One batch's NIL rows (pandas) -> cluster summary rows — the
    ``cluster_summarize_greedy`` task kernel as a plain function, shared by
    the applyInPandas wrapper and the driver-gated tiny-batch path
    (pipeline.run_batch), so both produce identical rows by construction."""
    pdf = pdf.sort_values(["conv_id", "turn_idx", "start_tok"]).reset_index(
        drop=True
    )
    if len(pdf) == 0:
        return pd.DataFrame(columns=[f.name for f in CLUSTER_SCHEMA.fields])
    enc = np.stack([np.asarray(e, dtype=np.float32) for e in pdf["encoding"]])
    labels = greedy_cluster_labels(enc, th)  # root row index per row
    rows = []
    batch_id = int(pdf["batch_id"].iloc[0])
    for root in pd.unique(labels):
        members = np.where(labels == root)[0]  # canonical order preserved
        sub_enc = enc[members]
        mentions = [pdf["mention"].iloc[i] for i in members]
        rows.append(
            {
                "cluster_label": pdf["mention_id"].iloc[int(root)],
                "batch_id": batch_id,
                "title": modal_value(mentions),
                "nelements": len(members),
                "mentions_id": [pdf["mention_id"].iloc[i] for i in members],
                "mentions": mentions,
                "center": sub_enc[medoid_index(sub_enc)].tolist(),
            }
        )
    return pd.DataFrame(rows, columns=[f.name for f in CLUSTER_SCHEMA.fields])


def min_rank_labels(
    adj_chunks: list[np.ndarray], rank: np.ndarray, inv: np.ndarray
) -> np.ndarray:
    """Connected-component labels (min rank per component) over a boolean
    adjacency given as row chunks; ``rank`` is any permutation of
    ``0..n-1`` and ``inv`` its inverse (rank -> node).

    Min-rank propagation with pointer doubling after every adjacency sweep:
    one sweep moves the min one hop, the doubling pass then collapses label
    chains (label[i] -> label of its current min-rank node) to fixpoint, so
    convergence is O(log n) sweeps even on an adversarial chain-shaped
    component — not O(diameter).  The fixpoint is the same
    min-rank-per-component labeling either way (fuzzed vs a BFS oracle in
    tests/test_properties.py)."""
    n = len(rank)
    label = rank.copy()
    for _ in range(n + 1):
        changed = False
        pos = 0
        for A in adj_chunks:
            m = A.shape[0]
            cand = np.where(A, label[None, :], n).min(axis=1)
            new = np.minimum(label[pos : pos + m], cand)
            if not np.array_equal(new, label[pos : pos + m]):
                label[pos : pos + m] = new
                changed = True
            pos += m
        while True:  # pointer doubling (a rank is itself a node id via inv)
            nl = np.minimum(label, label[inv[label]])
            if np.array_equal(nl, label):
                break
            label = nl
        if not changed:
            break
    return label


def cluster_summarize_cc(nil_df: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """CC edges + components + summarization fused into ONE
    ``groupBy(batch_id)`` pass — the small-batch fast path for
    ``cluster_mode='cc'`` (pipeline.run_batch gates on NIL count,
    ``pipeline.CC_FUSED_MAX``); the composed distributed chain
    (``cluster_cc`` → ``summarize_clusters_df``) remains the path above the
    gate and its output is identical (tested row-for-row).

    Inside the task: threshold the dot-product graph (chunked matmul, same
    f32 kernel as ``nil_edges``), find components by vectorized min-RANK
    propagation over the boolean adjacency (rank = lexicographic order of
    mention_id — the CC engines' string-min label contract), then emit the
    same summary rows as ``summarize_clusters_df`` (members in canonical
    (conv_id, turn_idx, start_tok) order, modal title, medoid center).
    """
    th = float(cfg.greedy_threshold)

    def _cc_summarize(pdf: pd.DataFrame) -> pd.DataFrame:
        return cc_summarize_pdf(pdf, th)

    return nil_df.select(
        "batch_id", "conv_id", "turn_idx", "start_tok", "mention_id",
        "mention", "encoding",
    ).groupBy("batch_id").applyInPandas(_cc_summarize, schema=CLUSTER_SCHEMA)


def cc_summarize_pdf(pdf: pd.DataFrame, th: float) -> pd.DataFrame:
    """One batch's NIL rows (pandas) -> cluster summary rows — the
    ``cluster_summarize_cc`` task kernel as a plain function, shared by the
    applyInPandas wrapper and the driver-gated tiny-batch path
    (pipeline.run_batch), so both produce identical rows by construction."""
    pdf = pdf.sort_values(["conv_id", "turn_idx", "start_tok"]).reset_index(
        drop=True
    )
    n = len(pdf)
    if n == 0:
        return pd.DataFrame(columns=[f.name for f in CLUSTER_SCHEMA.fields])
    enc = np.stack([np.asarray(e, dtype=np.float32) for e in pdf["encoding"]])
    ids = pdf["mention_id"].to_numpy()
    # lexicographic rank of each mention_id (string order == the label
    # contract of connected_components_star / _components_union_find)
    order = np.argsort(ids.astype(object), kind="stable")
    rank = np.empty(n, dtype=np.int64)
    rank[order] = np.arange(n)
    # boolean adjacency, chunked to keep each score tile ≈ 8 MB
    chunk = max(1, min(4096, (1 << 21) // max(n, 1)))
    adj_chunks: list[np.ndarray] = []
    for i0 in range(0, n, chunk):
        S = enc[i0 : i0 + chunk] @ enc.T
        A = S > th
        np.fill_diagonal(A[:, i0 : i0 + chunk], False)
        adj_chunks.append(A)
    inv = np.empty(n, dtype=np.int64)  # rank -> row index
    inv[rank] = np.arange(n)
    label = min_rank_labels(adj_chunks, rank, inv)
    rows = []
    batch_id = int(pdf["batch_id"].iloc[0])
    for root_rank in pd.unique(label):
        members = np.where(label == root_rank)[0]  # canonical order
        sub_enc = enc[members]
        mentions = [pdf["mention"].iloc[i] for i in members]
        rows.append(
            {
                "cluster_label": ids[inv[int(root_rank)]],
                "batch_id": batch_id,
                "title": modal_value(mentions),
                "nelements": len(members),
                "mentions_id": [ids[i] for i in members],
                "mentions": mentions,
                "center": sub_enc[medoid_index(sub_enc)].tolist(),
            }
        )
    return pd.DataFrame(rows, columns=[f.name for f in CLUSTER_SCHEMA.fields])


# --------------------------------------------------------------------------
# summarization (A2/A3/A10)
# --------------------------------------------------------------------------
def summarize_clusters_df(
    nil_df: DataFrame, labels: DataFrame, cfg: PipelineConfig
) -> DataFrame:
    """Per-cluster summary row: modal title, size, member lists, medoid center.

    groupBy(cluster_label) + applyInPandas — the medoid needs the member
    encodings in one place; cluster sizes are bounded by the threshold graph
    so a cluster fits a task (the reference even force-breaks clusters with
    >25 unique mentions, threestepclustering/__main__.py:174-189).
    """
    joined = nil_df.select(
        "mention_id", "conv_id", "turn_idx", "start_tok", "batch_id",
        "mention", "encoding",
    ).join(labels, "mention_id")

    def _summarize(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["conv_id", "turn_idx", "start_tok"]).reset_index(
            drop=True
        )
        enc = np.stack([np.asarray(e, dtype=np.float32) for e in pdf["encoding"]])
        med = medoid_index(enc)
        return pd.DataFrame(
            {
                "cluster_label": [pdf["cluster_label"].iloc[0]],
                "batch_id": [int(pdf["batch_id"].iloc[0])],
                "title": [modal_value(list(pdf["mention"]))],
                "nelements": [len(pdf)],
                "mentions_id": [list(pdf["mention_id"])],
                "mentions": [list(pdf["mention"])],
                "center": [enc[med].tolist()],
            }
        )

    return joined.groupBy("cluster_label").applyInPandas(
        _summarize, schema=CLUSTER_SCHEMA
    )


# --------------------------------------------------------------------------
# engines 3/4: 3-step clustering (M9) and TF-IDF feature clustering (M10)
# --------------------------------------------------------------------------
def cluster_three_step(nil_df: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """M9 — per-batch applyInPandas running the 3-step kernel
    (functions.cluster_math.three_step_cluster_labels) in canonical order;
    label = mention_id of the cluster's root row."""
    from incremental_entity_extraction_spark.functions.cluster_math import (
        three_step_cluster_labels,
    )

    def _replay(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["conv_id", "turn_idx", "start_tok"]).reset_index(
            drop=True
        )
        if len(pdf) == 0:
            return pd.DataFrame({"mention_id": [], "cluster_label": []})
        enc = np.stack([np.asarray(e, dtype=np.float32) for e in pdf["encoding"]])
        labels = three_step_cluster_labels(list(pdf["mention"]), enc)
        return pd.DataFrame(
            {
                "mention_id": pdf["mention_id"],
                "cluster_label": pdf["mention_id"].iloc[labels].to_numpy(),
            }
        )

    return nil_df.select(
        "batch_id", "conv_id", "turn_idx", "start_tok", "mention_id",
        "mention", "encoding",
    ).groupBy("batch_id").applyInPandas(_replay, schema=_LABEL_SCHEMA)


def cluster_tfidf(nil_df: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """M10 — per-batch applyInPandas running the blended char-bigram/context
    TF-IDF kernel + greedy loop (threshold 0.984375,
    pipeline/docker-compose.yml:91)."""
    from incremental_entity_extraction_spark.functions.cluster_math import (
        tfidf_cluster_labels,
    )

    def _replay(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["conv_id", "turn_idx", "start_tok"]).reset_index(
            drop=True
        )
        if len(pdf) == 0:
            return pd.DataFrame({"mention_id": [], "cluster_label": []})
        contexts = (
            pdf["context_left"].fillna("") + " " + pdf["context_right"].fillna("")
        )
        labels = tfidf_cluster_labels(list(pdf["mention"]), list(contexts))
        return pd.DataFrame(
            {
                "mention_id": pdf["mention_id"],
                "cluster_label": pdf["mention_id"].iloc[labels].to_numpy(),
            }
        )

    return nil_df.select(
        "batch_id", "conv_id", "turn_idx", "start_tok", "mention_id",
        "mention", "context_left", "context_right",
    ).groupBy("batch_id").applyInPandas(_replay, schema=_LABEL_SCHEMA)


# --------------------------------------------------------------------------
# scale hardening: LSH pre-blocking for giant NIL sets
# --------------------------------------------------------------------------
def nil_edges_lsh(
    nil_df: DataFrame,
    cfg: PipelineConfig,
    n_planes: int = 6,
    n_tables: int = 8,
    seed: int = 23,
) -> DataFrame:
    """Edge list via sign-projection LSH blocking — no broadcast of the NIL
    matrix, no n² sweep.

    Each of ``n_tables`` hash tables buckets vectors by the sign pattern of
    ``n_planes`` random projections; candidate pairs are generated within
    (batch_id, table, bucket) groups and verified exactly.  For the greedy
    threshold's cosine regime (> 0.81), 6 planes × 8 tables collide a
    qualifying pair with p ≈ 0.91+ (higher for tighter pairs), and the CC
    transitive closure recovers most of the remainder — bounded-recall by
    construction, used only when the exact broadcast sweep would not fit
    (``cluster_cc`` auto-switches above ``lsh_threshold`` rows).
    """
    spark = nil_df.sparkSession
    dim = cfg.dim
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((n_tables, dim, n_planes)).astype(np.float32)
    bc = spark.sparkContext.broadcast(planes)
    th = float(cfg.greedy_threshold)

    bucket_schema = T.StructType(
        [
            T.StructField("batch_id", T.IntegerType(), False),
            T.StructField("table", T.IntegerType(), False),
            T.StructField("bucket", T.LongType(), False),
            T.StructField("mention_id", T.StringType(), False),
            T.StructField("encoding", T.ArrayType(T.FloatType()), False),
        ]
    )

    def _bucket(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        P = bc.value
        for pdf in it:
            if len(pdf) == 0:
                continue
            X = np.stack([np.asarray(e, dtype=np.float32) for e in pdf["encoding"]])
            frames = []
            for t_i in range(P.shape[0]):
                signs = (X @ P[t_i]) > 0
                buckets = signs @ (1 << np.arange(P.shape[2], dtype=np.int64))
                frames.append(
                    pd.DataFrame(
                        {
                            "batch_id": pdf["batch_id"].to_numpy(),
                            "table": t_i,
                            "bucket": buckets,
                            "mention_id": pdf["mention_id"].to_numpy(),
                            "encoding": list(pdf["encoding"]),
                        }
                    )
                )
            yield pd.concat(frames, ignore_index=True)

    bucketed = nil_df.select("batch_id", "mention_id", "encoding").mapInPandas(
        _bucket, schema=bucket_schema
    )

    edge_schema = T.StructType(
        [
            T.StructField("batch_id", T.IntegerType(), False),
            T.StructField("src", T.StringType(), False),
            T.StructField("dst", T.StringType(), False),
        ]
    )

    def _verify(key, pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < 2:
            return pd.DataFrame({"batch_id": [], "src": [], "dst": []})
        X = np.stack([np.asarray(e, dtype=np.float32) for e in pdf["encoding"]])
        S = X @ X.T
        ii, jj = np.where(np.triu(S > th, k=1))
        ids = pdf["mention_id"].to_numpy()
        return pd.DataFrame(
            {
                "batch_id": np.full(len(ii), key[0], dtype="int32"),
                "src": ids[ii],
                "dst": ids[jj],
            }
        )

    return (
        bucketed.groupBy("batch_id", "table", "bucket")
        .applyInPandas(_verify, schema=edge_schema)
        .distinct()
    )


# --------------------------------------------------------------------------
# alternative CC: large-star / small-star (O(log n) rounds)
# --------------------------------------------------------------------------
def _star_pass(e: DataFrame, large: bool) -> DataFrame:
    """One large-star (connect strictly-greater neighbors to the
    neighborhood minimum) or small-star (connect smaller-or-equal neighbors
    and self to the minimum) pass over an undirected edge set stored as
    both-direction pairs."""
    m = e.groupBy("src").agg(F.min("dst").alias("mv"))
    m = m.select("src", F.least(F.col("mv"), F.col("src")).alias("m"))
    joined = e.join(m, "src")
    if large:
        out = joined.filter(F.col("dst") > F.col("src")).select(
            F.col("dst").alias("a"), F.col("m").alias("b")
        )
        # keep each node attached to its min so components never fragment
        out = out.union(m.select(F.col("src").alias("a"), F.col("m").alias("b")))
    else:
        out = joined.filter(F.col("dst") <= F.col("src")).select(
            F.col("dst").alias("a"), F.col("m").alias("b")
        ).union(m.select(F.col("src").alias("a"), F.col("m").alias("b")))
    out = out.filter(F.col("a") != F.col("b"))
    return (
        out.select(F.col("a").alias("src"), F.col("b").alias("dst"))
        .union(out.select(F.col("b").alias("src"), F.col("a").alias("dst")))
        .distinct()
    )


def _components_union_find(edges: DataFrame) -> DataFrame:
    """(src, dst) edge list -> (mention_id, cluster_label) for CONNECTED
    nodes only, via union-find in a single executor task — ONE Spark job
    instead of O(log n) star rounds.  Only correct/safe when the edge list
    fits one task; ``connected_components_star`` gates on edge count before
    calling this.  Labels = min component member (string order), identical
    to the star path."""
    schema = T.StructType(
        [
            T.StructField("mention_id", T.StringType(), False),
            T.StructField("cluster_label", T.StringType(), False),
        ]
    )

    def _uf(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        parent: dict = {}
        seen: set = set()

        def find(x):
            root = x
            while parent.get(root, root) != root:
                root = parent[root]
            while parent.get(x, x) != x:  # path compression
                parent[x], x = root, parent[x]
            return root

        for pdf in it:
            for a, b in zip(pdf["src"], pdf["dst"]):
                seen.add(a)
                seen.add(b)
                ra, rb = find(a), find(b)
                if ra != rb:
                    # union by label order keeps the min id at the root
                    if rb < ra:
                        ra, rb = rb, ra
                    parent[rb] = ra
        yield pd.DataFrame(
            {
                "mention_id": list(seen),
                "cluster_label": [find(n) for n in seen],
            }
        )

    return edges.select("src", "dst").repartition(1).mapInPandas(_uf, schema=schema)


def connected_components_star(
    vertices: DataFrame,
    edges: DataFrame,
    max_iter: int = 25,
    small_graph_edges: int = 100_000,
) -> DataFrame:
    """Connected components via alternating large-star / small-star passes
    (semantics of Kiveris et al., "Connected Components in MapReduce and
    Beyond", SoCC'14).  Converges in O(log n) rounds regardless of graph
    diameter — the right choice for chain-shaped near-dup graphs, whereas
    min-label propagation (``connected_components``) needs O(diameter)
    rounds.  String vertex ids compare lexicographically.

    Size-adaptive: when the symmetrized edge list has at most
    ``small_graph_edges`` rows it is handed to a single-task union-find
    (ONE job; the star loop costs ~6-10 driver-synchronized jobs, which
    dominates wall clock for the tiny per-batch NIL graphs the pipeline
    usually sees).  Above the threshold the distributed star rounds run —
    the path that survives 100×.  Both paths emit identical labels.

    Returns (mention_id, cluster_label), label = min component member.
    """
    e = (
        edges.select("src", "dst")
        .union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint()
    )
    if e.count() <= small_graph_edges:
        labels = _components_union_find(e)
        return (
            vertices.select("mention_id")
            .join(labels, "mention_id", "left")
            .select(
                "mention_id",
                F.coalesce("cluster_label", "mention_id").alias("cluster_label"),
            )
        )
    prev_sig = None
    for _ in range(max_iter):
        e = _star_pass(e, large=True).localCheckpoint()
        e = _star_pass(e, large=False).localCheckpoint()
        # converged when the per-node minimum assignment stops changing
        sig = (
            e.groupBy("src").agg(F.min("dst").alias("mv"))
            .agg(
                F.count("*").alias("n"),
                F.expr("bit_xor(xxhash64(src, mv))").alias("h"),  # overflow-safe
            )
            .first()
        )
        cur = (sig["n"], sig["h"])
        if cur == prev_sig:
            break
        prev_sig = cur
    else:
        # Same failure contract as connected_components: unconverged labels
        # would silently fragment clusters downstream.
        raise RuntimeError(
            f"connected_components_star did not converge in {max_iter} "
            "star rounds; raise max_iter (O(log n) rounds expected)"
        )
    labels = e.groupBy("src").agg(F.min("dst").alias("mv"))
    labels = labels.select(
        F.col("src").alias("mention_id"),
        F.least(F.col("mv"), F.col("src")).alias("cluster_label"),
    )
    return (
        vertices.select("mention_id")
        .join(labels, "mention_id", "left")
        .select(
            "mention_id",
            F.coalesce("cluster_label", "mention_id").alias("cluster_label"),
        )
    )
