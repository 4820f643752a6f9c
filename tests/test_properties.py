"""Property-based tests (SURVEY.md §5 item 4) — hypothesis over the kernels."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from incremental_entity_extraction_spark.functions.cluster_math import (
    greedy_cluster_labels,
    single_link_labels,
)
from incremental_entity_extraction_spark.functions.featurizer import (
    build_mention_window,
    encode_token_lists,
    tokenize,
)
from incremental_entity_extraction_spark.functions.string_metrics import (
    damerau_levenshtein,
)

words = st.text(alphabet="abcdefgh", min_size=1, max_size=8)


@given(st.lists(words, max_size=20), st.lists(words, min_size=1, max_size=4),
       st.lists(words, max_size=20), st.integers(min_value=1, max_value=40))
@settings(max_examples=60, deadline=None)
def test_window_never_exceeds_budget_and_keeps_mention(left, mention, right, budget):
    lt, m, rt = " ".join(left), " ".join(mention), " ".join(right)
    toks, weights = build_mention_window(lt, m, rt, budget)
    assert len(toks) == len(weights)
    m_toks = tokenize(m)
    # budget respected up to the mention length (mention may exceed budget)
    assert len(toks) <= max(budget, len(m_toks))
    # whole mention always kept, contiguously (reference trims context only)
    assert " ".join(m_toks) in " ".join(toks)
    # focus weights exactly on the mention tokens
    assert sum(1 for w in weights if w != 1.0) == len(m_toks)


@given(st.text(max_size=80))
@settings(max_examples=60, deadline=None)
def test_tokenize_idempotent_and_lower(text):
    toks = tokenize(text)
    assert all(t == t.lower() for t in toks)
    assert tokenize(" ".join(toks)) == toks


@given(st.lists(st.lists(words, max_size=6), min_size=1, max_size=8))
@settings(max_examples=40, deadline=None)
def test_encode_norm_invariant(token_lists):
    out = encode_token_lists(token_lists, dim=16, norm=10.0)
    for row, toks in zip(out, token_lists):
        n = np.linalg.norm(row)
        assert (abs(n - 10.0) < 1e-2) or (n == 0.0 and not toks)


@given(words, words)
@settings(max_examples=80, deadline=None)
def test_dl_metric_properties(a, b):
    d = damerau_levenshtein(a, b)
    assert d == damerau_levenshtein(b, a)          # symmetry
    assert (d == 0) == (a == b)                    # identity
    assert d <= max(len(a), len(b))                # upper bound


@given(st.integers(min_value=0, max_value=8), st.integers(min_value=0, max_value=100))
@settings(max_examples=30, deadline=None)
def test_greedy_singleton_free(n, seed):
    """Every row ends up with a label of an actual row (a valid partition)."""
    rng = np.random.default_rng(seed)
    enc = rng.standard_normal((n, 8)).astype(np.float32) * 5
    labels = greedy_cluster_labels(enc, threshold=20.0)
    assert len(labels) == n
    assert all(0 <= l < n for l in labels)
    # label graph terminates: following labels reaches a fixed point
    for i in range(n):
        seen = set()
        j = i
        while j not in seen:
            seen.add(j)
            j = labels[j]


@given(st.integers(min_value=2, max_value=10), st.integers(min_value=0, max_value=50))
@settings(max_examples=30, deadline=None)
def test_single_link_row_order_invariant(n, seed):
    """CC/single-link is invariant to row permutation (greedy is not —
    that's exactly why cc is the scale default)."""
    rng = np.random.default_rng(seed)
    pts = rng.standard_normal((n, 4))
    d = np.linalg.norm(pts[:, None, :] - pts[None, :, :], axis=-1)
    labels = single_link_labels(d, 1.0)
    perm = rng.permutation(n)
    labels_p = single_link_labels(d[np.ix_(perm, perm)], 1.0)

    def partition(lbls):
        groups = {}
        for i, l in enumerate(lbls):
            groups.setdefault(l, set()).add(i)
        return sorted(map(frozenset, groups.values()), key=sorted)

    orig = partition(labels)
    inv = [frozenset(int(perm[i]) for i in g) for g in partition(labels_p)]
    assert sorted(map(sorted, orig)) == sorted(map(sorted, inv))


# --- vectorized fused kernel vs per-row reference kernels (fuzz) ----------

_turn_text = st.one_of(
    st.none(),
    st.text(alphabet="abz019 .,!\t", max_size=60),
    st.text(max_size=40),  # arbitrary unicode
)


@given(st.lists(_turn_text, min_size=1, max_size=12),
       st.integers(min_value=1, max_value=24))
@settings(max_examples=60, deadline=None)
def test_fused_kernel_bit_identical_fuzz(texts, max_tok):
    """fused_mentions_frame must equal the per-row kernel chain on ARBITRARY
    turn text (unicode, nulls, punctuation-only) and any window budget —
    same mentions, contexts, and float32 encoding bits."""
    import numpy as np
    import pandas as pd

    from incremental_entity_extraction_spark.config import DEFAULT_CONFIG as cfg
    from incremental_entity_extraction_spark.functions.detection import (
        detect_mentions_in_tokens,
    )
    from incremental_entity_extraction_spark.functions.featurizer import (
        encode_token_lists,
        tokenize,
        window_from_tokens,
    )
    from incremental_entity_extraction_spark.functions.fused_kernel import (
        fused_mentions_frame,
    )

    pdf = pd.DataFrame(
        {
            "conv_id": [f"c{i}" for i in range(len(texts))],
            "turn_idx": list(range(len(texts))),
            "batch_id": [0] * len(texts),
            "text": texts,
        }
    )
    rows, windows, weights = [], [], []
    for conv_id, turn_idx, text in zip(pdf["conv_id"], pdf["turn_idx"], pdf["text"]):
        toks = tokenize(text)
        for start, width, surface in detect_mentions_in_tokens(toks):
            lt, rt = toks[:start], toks[start + width:]
            wt, ww = window_from_tokens(lt, toks[start:start + width], rt, max_tok)
            rows.append((f"{conv_id}:{turn_idx}:{start}", surface,
                         " ".join(lt), " ".join(rt)))
            windows.append(wt)
            weights.append(ww)
    res = fused_mentions_frame(pdf, None, max_tok, cfg.dim, cfg.vector_norm)
    if not rows:
        assert res is None
        return
    got, E_got = res
    assert [
        (m, s, l, r)
        for m, s, l, r in zip(got["mention_id"], got["mention"],
                              got["context_left"], got["context_right"])
    ] == rows
    E_ref = encode_token_lists(windows, cfg.dim, cfg.vector_norm, weights)
    assert np.array_equal(E_ref, E_got)


# ---------------------------------------------------------------------------
# round-4 kernels: min-rank CC (pointer doubling) and columnar top-k
# ---------------------------------------------------------------------------
@given(
    st.integers(min_value=1, max_value=40),
    st.lists(
        st.tuples(st.integers(0, 39), st.integers(0, 39)), max_size=80
    ),
    st.randoms(use_true_random=False),
)
@settings(max_examples=80, deadline=None)
def test_min_rank_labels_match_bfs_oracle(n, edges, rnd):
    """cc_summarize_pdf's vectorized component search == BFS per
    component, for any graph (incl. chains, the old worst case) and any
    rank permutation, at several chunk sizes."""
    from incremental_entity_extraction_spark.operators.clustering import (
        min_rank_labels,
    )

    A = np.zeros((n, n), dtype=bool)
    for a, b in edges:
        if a < n and b < n and a != b:
            A[a, b] = A[b, a] = True
    perm = list(range(n))
    rnd.shuffle(perm)
    rank = np.asarray(perm, dtype=np.int64)
    inv = np.empty(n, dtype=np.int64)
    inv[rank] = np.arange(n)

    # BFS oracle: min rank over each connected component
    expected = np.empty(n, dtype=np.int64)
    seen = np.zeros(n, dtype=bool)
    for s in range(n):
        if seen[s]:
            continue
        comp, stack = [], [s]
        seen[s] = True
        while stack:
            u = stack.pop()
            comp.append(u)
            for v in np.flatnonzero(A[u]):
                if not seen[v]:
                    seen[v] = True
                    stack.append(int(v))
        mr = rank[comp].min()
        expected[comp] = mr

    for chunk in (1, 3, n):
        chunks = [A[i : i + chunk] for i in range(0, n, chunk)]
        got = min_rank_labels(chunks, rank, inv)
        np.testing.assert_array_equal(got, expected)


@given(
    st.integers(min_value=1, max_value=12),   # mentions
    st.integers(min_value=0, max_value=30),   # entities
    st.integers(min_value=1, max_value=12),   # k
    st.integers(min_value=0, max_value=10**6),
)
@settings(max_examples=60, deadline=None)
def test_columnar_topk_matches_brute_force(n_m, n_e, k, seed):
    """topk_candidates_columnar == brute-force lexsort over ALL entities
    (score desc, indexer asc, id asc), flat layout intact."""
    import pandas as pd

    from incremental_entity_extraction_spark.operators.retrieval import (
        KBShard,
        topk_candidates_columnar,
    )

    rng = np.random.default_rng(seed)
    dim = 8
    enc = rng.standard_normal((n_m, dim)).astype(np.float32)
    pdf = pd.DataFrame(
        {
            "id": rng.integers(0, 50, size=n_e),
            "indexer": rng.integers(0, 3, size=n_e).astype(np.int32),
            "wikipedia_id": rng.integers(-1, 100, size=n_e),
            "title": [f"t{j}" for j in range(n_e)],
            "embedding": [
                rng.standard_normal(dim).astype(np.float32) for _ in range(n_e)
            ],
        }
    )
    shards = [KBShard(pdf)] if n_e else []
    counts, ids, idxr, wids, titles, sc = topk_candidates_columnar(
        enc, shards, k, 100.0
    )
    assert counts.sum() == len(ids) == len(sc)
    if n_e == 0:
        assert counts.sum() == 0
        return
    E = np.stack([np.asarray(v) for v in pdf["embedding"]])
    S = enc @ E.T
    pos = 0
    for r in range(n_m):
        order = np.lexsort(
            (pdf["id"].to_numpy(), pdf["indexer"].to_numpy(), -S[r])
        )[: min(k, n_e)]
        got = list(zip(ids[pos : pos + counts[r]], idxr[pos : pos + counts[r]]))
        exp = [
            (int(pdf["id"].iloc[j]), int(pdf["indexer"].iloc[j])) for j in order
        ]
        assert got == exp, f"row {r}"
        np.testing.assert_allclose(
            sc[pos : pos + counts[r]], S[r][order], rtol=1e-6
        )
        pos += counts[r]
