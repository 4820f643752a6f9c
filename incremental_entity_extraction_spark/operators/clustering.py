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
row of each row; ``_summarize``, shared with ``summarize_clusters_df``,
turns roots into summary rows (label = the root's mention_id, members in
canonical (conv_id, turn_idx, start_tok) order, modal title, medoid center).

* ``cc`` (default): components of the ``score > threshold`` graph; label =
  the lexicographically smallest member mention_id.
* ``greedy_replay``: the reference's sequential loop in canonical order —
  bit-identical to the oracle.
* ``three_step`` / ``tfidf``: the reference's alternative services (M9/M10).

pipeline.run_batch runs the kernel on the driver while a batch's NIL set is
small, and otherwise in one applyInPandas task per batch
(``cluster_summarize_batches``) — the reference has the same single-node
constraint.  Only ``cc`` has a distributed path past one task: edges by a
broadcast block-row sweep (``nil_edges``; LSH-blocked above
``lsh_threshold`` rows, ``nil_edges_lsh``), components by large-star /
small-star rounds (``connected_components_star``), then
``summarize_clusters_df``.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

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
    three_step_cluster_labels,
    tfidf_cluster_labels,
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


def _matrix(encodings) -> np.ndarray:
    return np.stack([np.asarray(e, dtype=np.float32) for e in encodings])


# --------------------------------------------------------------------------
# cc's distributed path: threshold-graph edges + connected components
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
    mat = _matrix(pdf["encoding"])
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
            scores = _matrix(pdf_part["encoding"]) @ all_mat.T
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
    pipeline counts it off the batch's collected rows) — passing it skips
    this function's one standalone ``count()`` job, which exists only to
    pick the edge-generation path."""
    n = nil_df.count() if n_rows is None else int(n_rows)
    if n > lsh_threshold:
        edges = nil_edges_lsh(nil_df, cfg)
    else:
        edges = nil_edges(nil_df, cfg)
    return connected_components_star(nil_df.select("mention_id"), edges)


# --------------------------------------------------------------------------
# per-batch kernels and the one summary builder (A2/A3/A10)
# --------------------------------------------------------------------------
def _summarize(
    pdf: pd.DataFrame, roots: Callable[[pd.DataFrame, np.ndarray], np.ndarray]
) -> pd.DataFrame:
    """The summary builder every kernel ends in.  Sorts ``pdf`` (one batch's
    NIL rows, or one cluster's) into canonical order, asks
    ``roots(pdf, enc)`` for the root row index of each row, and emits one
    CLUSTER_SCHEMA row per root: label = the root's mention_id, members in
    canonical order, modal title, medoid center."""
    if len(pdf) == 0:
        return pd.DataFrame(columns=_CLUSTER_COLS)
    pdf = pdf.sort_values(_CANONICAL).reset_index(drop=True)
    enc = _matrix(pdf["encoding"])
    root = np.asarray(roots(pdf, enc))
    ids, mentions = pdf["mention_id"].tolist(), pdf["mention"].tolist()
    batch_id = int(pdf["batch_id"].iloc[0])
    rows = []
    for r in pd.unique(root):
        members = np.flatnonzero(root == r)  # canonical order preserved
        sub_enc = enc[members]
        ms = [mentions[i] for i in members]
        rows.append((
            ids[r], batch_id, modal_value(ms), len(members),
            [ids[i] for i in members], ms,
            sub_enc[medoid_index(sub_enc)].tolist(),
        ))
    return pd.DataFrame(rows, columns=_CLUSTER_COLS)


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


def _cc_roots(ids: np.ndarray, enc: np.ndarray, th: float) -> np.ndarray:
    """Root row per row: the component's lexicographically smallest
    mention_id (the label contract of ``connected_components_star``).
    Thresholds the dot-product graph in chunked f32 matmul tiles (≈8 MB, the
    same kernel as ``nil_edges``), then runs ``min_rank_labels`` with rank =
    string order of mention_id."""
    n = len(ids)
    inv = np.argsort(ids.astype(object), kind="stable")  # rank -> row
    rank = np.empty(n, dtype=np.int64)
    rank[inv] = np.arange(n)
    chunk = max(1, min(4096, (1 << 21) // n))
    adj_chunks: list[np.ndarray] = []
    for i0 in range(0, n, chunk):
        A = enc[i0 : i0 + chunk] @ enc.T > th
        np.fill_diagonal(A[:, i0 : i0 + chunk], False)
        adj_chunks.append(A)
    return inv[min_rank_labels(adj_chunks, rank, inv)]


def cc_summarize_pdf(pdf: pd.DataFrame, th: float) -> pd.DataFrame:
    """``cc``: connected components of the ``score > th`` graph."""
    return _summarize(
        pdf, lambda p, enc: _cc_roots(p["mention_id"].to_numpy(), enc, th)
    )


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


def summarize_clusters_df(
    nil_df: DataFrame, labels: DataFrame, cfg: PipelineConfig
) -> DataFrame:
    """Per-cluster summary rows for (mention_id, cluster_label) labels whose
    label is a member's mention_id (every engine's contract).

    groupBy(cluster_label) + applyInPandas — the medoid needs the member
    encodings in one place; cluster sizes are bounded by the threshold graph
    so a cluster fits a task (the reference even force-breaks clusters with
    >25 unique mentions, threestepclustering/__main__.py:174-189).
    """
    joined = nil_df.select(
        "mention_id", *_CANONICAL, "batch_id", "mention", "encoding",
    ).join(labels, "mention_id")

    def _cluster(pdf: pd.DataFrame) -> pd.DataFrame:
        return _summarize(
            pdf,
            lambda p, enc: np.full(
                len(p), list(p["mention_id"]).index(p["cluster_label"].iloc[0])
            ),
        )

    return joined.groupBy("cluster_label").applyInPandas(
        _cluster, schema=CLUSTER_SCHEMA
    )


# --------------------------------------------------------------------------
# scale hardening: LSH pre-blocking for giant NIL sets
# --------------------------------------------------------------------------
_LSH_PLANES, _LSH_TABLES, _LSH_SEED = 6, 8, 23


def nil_edges_lsh(nil_df: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """Edge list via sign-projection LSH blocking — no broadcast of the NIL
    matrix, no n² sweep.

    Each of ``_LSH_TABLES`` hash tables buckets vectors by the sign pattern
    of ``_LSH_PLANES`` random projections; candidate pairs are generated within
    (batch_id, table, bucket) groups and verified exactly.  For the greedy
    threshold's cosine regime (> 0.81), 6 planes × 8 tables collide a
    qualifying pair with p ≈ 0.91+ (higher for tighter pairs), and the CC
    transitive closure recovers most of the remainder — bounded-recall by
    construction, used only when the exact broadcast sweep would not fit
    (``cluster_cc`` auto-switches above ``lsh_threshold`` rows).
    """
    spark = nil_df.sparkSession
    dim = cfg.dim
    rng = np.random.default_rng(_LSH_SEED)
    planes = rng.standard_normal(
        (_LSH_TABLES, dim, _LSH_PLANES)
    ).astype(np.float32)
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
            X = _matrix(pdf["encoding"])
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

    def _verify(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < 2:
            return pd.DataFrame({"batch_id": [], "src": [], "dst": []})
        X = _matrix(pdf["encoding"])
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
# components: large-star / small-star (O(log n) rounds)
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
