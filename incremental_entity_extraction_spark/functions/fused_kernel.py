"""Vectorized partition kernel for the fused detect→encode stage.

The per-row reference kernels (functions/detection.detect_mentions_in_tokens,
functions/featurizer.window_from_tokens / encode_token_lists) define the
semantics and power the NumPy oracle.  This module re-expresses the whole
per-partition pass — detection, context extraction, window building,
encoding — as NumPy/pandas array programs with no per-mention Python loop
on the hot path, producing BIT-IDENTICAL output (tests/test_fused_kernel.py
asserts this module equals the per-row kernels directly; tests/test_fused.py
asserts the fused stage equals the oracle).

Key identities that make vectorization exact:

* a mention's encoding window is a CONTIGUOUS slice of its turn's token
  stream (left context + mention + right context adjoin), so windows never
  need materializing — they are (g0, g1) ranges into one flat token array;
* ``pd.factorize`` assigns codes in first-appearance order, matching the
  ``dict.setdefault`` vocabulary of ``encode_token_lists``, and the
  incidence order (mentions ascending, window tokens left→right) is the
  same, so the ``np.add.at`` float accumulation order — hence every bit of
  every encoding — is unchanged.
"""

from __future__ import annotations

from itertools import chain

import numpy as np
import pandas as pd

from incremental_entity_extraction_spark.functions.detection import FILLER_SET
from incremental_entity_extraction_spark.functions.featurizer import (
    FOCUS_WEIGHT,
    _TOKEN_RE,
    token_vector,
)


def _exclusive_cumsum(a: np.ndarray) -> np.ndarray:
    out = np.zeros(len(a), dtype=np.int64)
    if len(a) > 1:
        np.cumsum(a[:-1], out=out[1:])
    return out


def detect_partition(
    texts,
    known: frozenset | None,
    max_tokens: int,
):
    """Tokenize + detect + window a whole partition of turns at once.

    Returns ``(turn_of, start_local, width, surface, ctx_left, ctx_right,
    flat, g0, g1)`` where per mention ``i`` the encoding window is
    ``flat[g0[i]:g1[i]]`` with FOCUS_WEIGHT on the mention tokens
    ``flat[g0[i]+start_in_win : ...]`` (recoverable from start/width), and
    ``turn_of[i]`` indexes back into ``texts``.  Empty partitions return
    ``None``.
    """
    kw = FILLER_SET if known is None else known
    toklists = [
        _TOKEN_RE.findall(t.lower()) if isinstance(t, str) else [] for t in texts
    ]
    lens = np.fromiter((len(t) for t in toklists), dtype=np.int64, count=len(toklists))
    total = int(lens.sum())
    if total == 0:
        return None
    flat = np.fromiter(chain.from_iterable(toklists), dtype=object, count=total)
    turn_of_tok = np.repeat(np.arange(len(toklists), dtype=np.int64), lens)
    turn_first = _exclusive_cumsum(lens)  # global index of each turn's token 0

    # --- detection: maximal OOV runs, split into 2-token mentions ---------
    is_oov = ~pd.Series(flat, dtype=object).isin(kw).to_numpy()
    prev_oov_same = np.zeros(total, dtype=bool)
    prev_oov_same[1:] = is_oov[:-1] & (turn_of_tok[1:] == turn_of_tok[:-1])
    next_oov_same = np.zeros(total, dtype=bool)
    next_oov_same[:-1] = is_oov[1:] & (turn_of_tok[1:] == turn_of_tok[:-1])
    run_starts = np.flatnonzero(is_oov & ~prev_oov_same)
    run_ends = np.flatnonzero(is_oov & ~next_oov_same)  # inclusive; aligned
    if len(run_starts) == 0:
        return None
    run_len = run_ends - run_starts + 1
    m_counts = (run_len + 1) // 2
    nm = int(m_counts.sum())
    intra = np.arange(nm, dtype=np.int64) - np.repeat(
        _exclusive_cumsum(m_counts), m_counts
    )
    start_g = np.repeat(run_starts, m_counts) + 2 * intra
    width = np.where(start_g < np.repeat(run_ends, m_counts), 2, 1).astype(np.int64)

    turn_of = turn_of_tok[start_g]
    start_local = start_g - turn_first[turn_of]
    turn_len = lens[turn_of]

    # --- surfaces (object-array elementwise concat; O(n_mentions)) --------
    second = flat[np.minimum(start_g + 1, total - 1)]
    surface = np.where(width == 2, flat[start_g] + " " + second, flat[start_g])

    # --- contexts: slice each turn's prejoined string by char offsets -----
    joined = [" ".join(t) for t in toklists]
    tok_chars = np.fromiter((len(s) for s in flat), dtype=np.int64, count=total)
    gcs = _exclusive_cumsum(tok_chars + 1)  # char start if all turns joined
    char_local = gcs - gcs[turn_first[turn_of_tok]]  # char start within turn
    m_char0 = char_local[start_g]
    last_tok = start_g + width - 1
    m_char1 = char_local[last_tok] + tok_chars[last_tok]
    ctx_left = [
        joined[t][: max(0, c0 - 1)] for t, c0 in zip(turn_of, m_char0)
    ]
    ctx_right = [joined[t][c1 + 1 :] for t, c1 in zip(turn_of, m_char1)]

    # --- window quotas (window_from_tokens arithmetic, vectorized) --------
    ltlen = start_local
    rtlen = turn_len - start_local - width
    budget = np.maximum(0, max_tokens - width)
    left_q = budget // 2
    right_q = budget - left_q
    spill_r = np.maximum(0, left_q - ltlen)
    left_q = np.minimum(left_q, ltlen)
    right_q = right_q + spill_r
    spill_l = np.maximum(0, right_q - rtlen)
    right_q = np.minimum(right_q, rtlen)
    left_q = np.minimum(ltlen, left_q + spill_l)
    g0 = start_g - left_q
    g1 = start_g + width + right_q

    return (
        turn_of, start_local, width, surface, ctx_left, ctx_right,
        flat, g0, g1, start_g,
    )


def encode_window_slices(
    flat: np.ndarray,
    g0: np.ndarray,
    g1: np.ndarray,
    m0: np.ndarray,
    m1: np.ndarray,
    dim: int,
    norm: float,
) -> np.ndarray:
    """Encode windows given as ``flat[g0:g1]`` slices with FOCUS_WEIGHT on
    positions ``[m0, m1)`` — bit-identical to ``encode_token_lists`` on the
    materialized window lists (same vocabulary order, same incidence order,
    same ``np.add.at`` accumulation)."""
    nm = len(g0)
    out = np.zeros((nm, dim), dtype=np.float32)
    win_lens = g1 - g0
    tot = int(win_lens.sum())
    if tot:
        rows = np.repeat(np.arange(nm, dtype=np.int64), win_lens)
        pos = (
            np.arange(tot, dtype=np.int64)
            - np.repeat(_exclusive_cumsum(win_lens), win_lens)
            + np.repeat(g0, win_lens)
        )
        wts = np.where(
            (pos >= np.repeat(m0, win_lens)) & (pos < np.repeat(m1, win_lens)),
            np.float32(FOCUS_WEIGHT),
            np.float32(1.0),
        )
        codes, uniques = pd.factorize(flat[pos])
        V = np.stack([token_vector(t, dim) for t in uniques])
        contrib = V[codes] * wts[:, None]
        np.add.at(out, rows, contrib)
    lens_ = np.linalg.norm(out, axis=1)
    nz = lens_ > 0
    out[nz] = out[nz] * (np.float32(norm) / lens_[nz, None]).astype(np.float32)
    return out


def fused_mentions_frame(
    pdf: pd.DataFrame,
    known: frozenset | None,
    max_tokens: int,
    dim: int,
    norm: float,
    encoder=None,
    with_encoding_col: bool = True,
) -> tuple[pd.DataFrame, np.ndarray] | None:
    """One Arrow batch of transcripts -> (enriched mention frame, encoding
    matrix).  The (n, dim) float32 matrix is returned alongside the frame
    so the retrieval kernel can consume it directly instead of re-stacking
    the per-row column.  None when no mentions."""
    det = detect_partition(pdf["text"].to_numpy(), known, max_tokens)
    if det is None:
        return None
    (turn_of, start_local, width, surface, ctx_left, ctx_right,
     flat, g0, g1, start_g) = det
    conv = pdf["conv_id"].to_numpy()[turn_of]
    tidx = pdf["turn_idx"].to_numpy()[turn_of]
    bid = pdf["batch_id"].to_numpy()[turn_of]
    out = pd.DataFrame(
        {
            "mention_id": [
                f"{c}:{t}:{s}" for c, t, s in zip(conv, tidx, start_local)
            ],
            "conv_id": conv,
            "turn_idx": tidx.astype("int32"),
            "batch_id": bid.astype("int32"),
            "start_tok": start_local.astype("int32"),
            "mention": surface,
            "context_left": ctx_left,
            "context_right": ctx_right,
        }
    )
    if encoder is None:
        enc = encode_window_slices(
            flat, g0, g1, start_g, start_g + width, dim, norm
        )
    else:
        windows = [flat[a:b].tolist() for a, b in zip(g0, g1)]
        weights = [
            [1.0] * (s - a) + [FOCUS_WEIGHT] * w + [1.0] * (b - s - w)
            for a, b, s, w in zip(g0, g1, start_g, width)
        ]
        enc = np.asarray(encoder(windows, weights), dtype=np.float32)
        if enc.shape != (len(out), dim):
            raise ValueError(
                f"encoder returned shape {enc.shape}, expected "
                f"({len(out)}, {dim}) — see detect_encode_retrieve docstring"
            )
    if with_encoding_col:
        # per-row object column for the pandas/mapInPandas consumers; the
        # Arrow consumers (operators/fused.py) build the list column
        # straight from the flat matrix instead and skip this
        out["encoding"] = list(enc)
    return out, enc
