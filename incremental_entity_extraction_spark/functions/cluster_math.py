"""Clustering math kernels shared by the oracle and Spark applyInPandas.

* ``greedy_cluster_labels`` — the reference's sequential last-writer-wins
  label loop (semantics of pipeline/greedyclustering/__main__.py:30-34).
* ``component_roots`` — union-find over edges that arrive in tiles: the
  components of ``cc`` (``threshold_pairs``) and of the single-link steps.
* ``modal_value`` — most-frequent value with deterministic ties (A3).
* ``medoid_index`` — KMedoids-k=1 center (TimeEvolving.py:123-131; A10).

The dot-product kernels score ``tile_rows(n)`` rows against all ``n`` at a
time, so their memory is O(n·tile), never O(n²).
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator

import numpy as np


def tile_rows(n: int) -> int:
    """Rows per score tile: about 2M scores (8 MB of float32), at most 4096
    rows."""
    return max(1, min(4096, (1 << 21) // max(n, 1)))


def threshold_pairs(
    enc: np.ndarray, threshold: float
) -> Iterator[tuple[np.ndarray, np.ndarray]]:
    """The ``(row, col)`` pairs with ``enc[row] @ enc[col] > threshold``,
    one ``tile_rows`` tile of ``enc @ enc.T`` at a time (self-pairs
    included; a union ignores them)."""
    chunk = tile_rows(len(enc))
    for i0 in range(0, len(enc), chunk):
        rows, cols = np.nonzero(enc[i0 : i0 + chunk] @ enc.T > threshold)
        yield rows + i0, cols


def component_roots(
    n: int,
    pair_tiles: Iterable[tuple[np.ndarray, np.ndarray]],
    rank: np.ndarray | None = None,
) -> np.ndarray:
    """Root row of each of ``n`` rows: the member of smallest ``rank`` (a
    permutation of ``0..n-1``; default the row index) of its component in
    the undirected graph whose edges arrive as ``pair_tiles``, an iterable
    of ``(a, b)`` row-index arrays.  A tile is unioned and dropped before
    the next is read.

    The forest lives in rank space and stays flat between rounds: every
    rank points at its component's smallest rank.  A round hooks the
    larger root of each still-split pair under the smallest root it meets
    (``np.minimum.at``), then pointer jumping flattens the forest again;
    every round removes at least one root, so a tile takes a few rounds,
    not a pass per edge."""
    rank = np.arange(n) if rank is None else np.asarray(rank)
    parent = np.arange(n)
    for a, b in pair_tiles:
        a, b = parent[rank[a]], parent[rank[b]]
        while True:
            split = a != b
            if not split.any():
                break
            lo = np.minimum(a[split], b[split])
            hi = np.maximum(a[split], b[split])
            np.minimum.at(parent, hi, lo)
            while True:
                up = parent[parent]
                if np.array_equal(up, parent):
                    break
                parent = up
            a, b = parent[lo], parent[hi]
    row_of = np.empty(n, dtype=np.intp)
    row_of[rank] = np.arange(n)
    return row_of[parent[rank]]


def greedy_cluster_labels(enc: np.ndarray, threshold: float) -> np.ndarray:
    """Sequential label propagation over the dot-product matrix: for each row
    i in order, every j with ``scores[i, j] > threshold`` takes i's current
    label (last writer wins).  Order-dependent by design — callers must feed
    rows in the canonical (conv_id, turn_idx, start_tok) order.  Scores one
    ``tile_rows`` tile at a time (one tile up to 1 448 rows)."""
    n = len(enc)
    labels = np.arange(n)
    chunk = tile_rows(n)
    for i0 in range(0, n, chunk):
        above = enc[i0 : i0 + chunk] @ enc.T > threshold
        for r, row in enumerate(above):
            labels[row] = labels[i0 + r]
    return labels


def modal_value(values) -> str:
    """Most frequent value; ties -> lexicographically smallest (deterministic
    stand-in for the reference's Counter.most_common insertion order,
    greedyclustering/__main__.py:72-78)."""
    counts: dict = {}
    for v in values:
        counts[v] = counts.get(v, 0) + 1
    best_count = max(counts.values())
    return min(v for v, c in counts.items() if c == best_count)


def distance_totals(enc: np.ndarray) -> np.ndarray:
    """Each member's total Euclidean distance to all members, a block of
    rows at a time (about 2M differences per block).  Every total reduces
    its own row, so the blocks give the bits of the one-shot m×m×dim
    formula."""
    m, dim = enc.shape
    step = max(1, (1 << 21) // max(m * dim, 1))
    tot = []
    for i0 in range(0, m, step):
        d2 = ((enc[i0 : i0 + step, None, :] - enc[None, :, :]) ** 2).sum(-1)
        tot.append(np.sqrt(np.maximum(d2, 0)).sum(1))
    return np.concatenate(tot)


def medoid_index(enc: np.ndarray) -> int:
    """Member minimizing total Euclidean distance to the others; ties ->
    lowest index."""
    if len(enc) == 1:
        return 0
    return int(np.argmin(distance_totals(enc)))


def single_link_labels(dist: np.ndarray, threshold: float) -> np.ndarray:
    """Single-link agglomerative clustering with a distance cutoff ≡
    connected components on the dist <= threshold graph (exact equivalence);
    label = the component's smallest row index."""
    return component_roots(
        len(dist), [np.nonzero(np.triu(dist <= threshold, k=1))]
    )


def three_step_cluster_labels(
    mentions: list[str],
    enc: np.ndarray,
    string_threshold: float = 0.2,
    cosine_threshold: float = 0.036,
    centroid_threshold: float = 0.05,
    merge_dot_gate: float = 80.0,
    max_unique_mentions: int = 25,
) -> np.ndarray:
    """M9 — the reference's 3-step clustering
    (pipeline/threestepclustering/__main__.py:87-189, TimeEvolving.py:134-143):

    1. single-link on normalized Damerau-Levenshtein distance over mention
       strings (<= string_threshold);
    2. within each string cluster, single-link on cosine *distance* over
       encodings (<= cosine_threshold);
    3. merge sub-clusters whose mean-vector cosine distance is
       <= centroid_threshold, gated on at least one cross-pair dot product
       > merge_dot_gate; clusters accumulating more than
       ``max_unique_mentions`` unique surfaces are broken back up by
       re-running step 1 on their members at half the string threshold.
    """
    from incremental_entity_extraction_spark.functions.string_metrics import (
        dl_distance_normalized,
        pairwise_matrix,
    )

    n = len(mentions)
    if n == 0:
        return np.arange(0)
    # --- step 1: string single-link
    d_str = pairwise_matrix(list(mentions), dl_distance_normalized)
    lab1 = single_link_labels(d_str, string_threshold)

    # --- step 2: per string-cluster cosine single-link
    norms = np.linalg.norm(enc, axis=1)
    norms[norms == 0] = 1.0
    unit = enc / norms[:, None]
    sub_labels = np.empty(n, dtype=np.int64)
    next_label = 0
    sub_groups: list[np.ndarray] = []
    for root in np.unique(lab1):
        idx = np.where(lab1 == root)[0]
        cos_dist = 1.0 - unit[idx] @ unit[idx].T
        ll = single_link_labels(cos_dist, cosine_threshold)
        for r in np.unique(ll):
            members = idx[ll == r]
            sub_labels[members] = next_label
            sub_groups.append(members)
            next_label += 1

    # --- step 3: merge sub-clusters on centroid cosine, gated on raw dot
    k = len(sub_groups)
    centroids = np.stack([unit[g].mean(0) for g in sub_groups])
    cn = np.linalg.norm(centroids, axis=1)
    cn[cn == 0] = 1.0
    centroids = centroids / cn[:, None]
    ea: list[int] = []
    eb: list[int] = []
    for i in range(k):
        for j in range(i + 1, k):
            if 1.0 - float(centroids[i] @ centroids[j]) <= centroid_threshold:
                cross = enc[sub_groups[i]] @ enc[sub_groups[j]].T
                if cross.max(initial=-np.inf) > merge_dot_gate:
                    ea.append(i)
                    eb.append(j)
    group_root = component_roots(
        k, [(np.asarray(ea, dtype=np.intp), np.asarray(eb, dtype=np.intp))]
    )
    labels = np.empty(n, dtype=np.int64)
    for gi, members in enumerate(sub_groups):
        labels[members] = group_root[gi]

    # --- break oversized clusters (re-run step 1 tighter)
    for root in np.unique(labels):
        idx = np.where(labels == root)[0]
        uniq = {mentions[i] for i in idx}
        if len(uniq) > max_unique_mentions:
            d_sub = pairwise_matrix([mentions[i] for i in idx], dl_distance_normalized)
            ll = single_link_labels(d_sub, string_threshold / 2)
            base = int(labels.max()) + 1
            for r_i, member in zip(ll, idx):
                labels[member] = base + int(r_i)
    # relabel to min member index per cluster (deterministic)
    out = np.empty(n, dtype=np.int64)
    for root in np.unique(labels):
        idx = np.where(labels == root)[0]
        out[idx] = idx.min()
    return out


def _char_bigrams(s: str) -> list[str]:
    s = f" {s} "
    return [s[i : i + 2] for i in range(len(s) - 1)]


def tfidf_cluster_labels(
    mentions: list[str],
    contexts: list[str],
    threshold: float = 0.984375,
    bigram_weight: float = 0.8,
    context_weight: float = 0.2,
) -> np.ndarray:
    """M10 — TF-IDF feature clustering (pipeline/featureclustering/
    __main__.py:42-139): blended kernel of l2-normalized char-bigram term
    counts over mention surfaces (idf off) and l2-normalized TF-IDF over
    contexts, then the greedy sequential loop at ``threshold``.
    """
    n = len(mentions)
    if n == 0:
        return np.arange(0)

    def _tf_matrix(docs: list[list[str]], use_idf: bool) -> np.ndarray:
        vocab: dict[str, int] = {}
        for d in docs:
            for t in d:
                vocab.setdefault(t, len(vocab))
        m = np.zeros((n, max(len(vocab), 1)), dtype=np.float64)
        for i, d in enumerate(docs):
            for t in d:
                m[i, vocab[t]] += 1.0
        if use_idf and len(vocab):
            df = (m > 0).sum(0)
            idf = np.log((1.0 + n) / (1.0 + df)) + 1.0
            m = m * idf[None, :]
        norms = np.linalg.norm(m, axis=1)
        norms[norms == 0] = 1.0
        return m / norms[:, None]

    bi = _tf_matrix([_char_bigrams(s) for s in mentions], use_idf=False)
    ctx = _tf_matrix([c.split() for c in contexts], use_idf=True)
    kernel = bigram_weight * (bi @ bi.T) + context_weight * (ctx @ ctx.T)
    labels = np.arange(n)
    for i in range(n):
        labels[kernel[i] > threshold] = labels[i]
    return labels
