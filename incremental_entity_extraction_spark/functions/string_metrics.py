"""String metric F4 (SURVEY.md §2.7) — pure-Python/NumPy kernels.

Reference: pipeline/threestepclustering/__main__.py:22-63 uses a
Damerau-Levenshtein distance with an equality short-circuit and a penalty
for very short strings (the 3-step engine's metric).  Re-implemented from
the metric definition (no external textdistance/fastDamerauLevenshtein
dependency).
"""

from __future__ import annotations

import numpy as np


def damerau_levenshtein(a: str, b: str) -> int:
    """Restricted Damerau-Levenshtein (optimal string alignment) distance."""
    la, lb = len(a), len(b)
    if la == 0:
        return lb
    if lb == 0:
        return la
    prev2 = None
    prev = list(range(lb + 1))
    for i in range(1, la + 1):
        cur = [i] + [0] * lb
        for j in range(1, lb + 1):
            cost = 0 if a[i - 1] == b[j - 1] else 1
            cur[j] = min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + cost)
            if (
                i > 1
                and j > 1
                and a[i - 1] == b[j - 2]
                and a[i - 2] == b[j - 1]
            ):
                cur[j] = min(cur[j], prev2[j - 2] + 1)
        prev2, prev = prev, cur
    return prev[lb]


def dl_distance_normalized(a: str, b: str, short_penalty: int = 3, short_len: int = 4) -> float:
    """F4: normalized D-L distance with equality short-circuit and a
    short-string penalty (very short strings need extra evidence to merge —
    semantics of threestepclustering/__main__.py:55-63)."""
    if a == b:
        return 0.0
    penalty = short_penalty if min(len(a), len(b)) <= short_len else 0
    return (damerau_levenshtein(a, b) + penalty) / max(len(a), len(b), 1)


def pairwise_matrix(strings: list[str], fn) -> np.ndarray:
    """Symmetric pairwise distance matrix for a small string set."""
    n = len(strings)
    d = np.zeros((n, n), dtype=np.float64)
    for i in range(n):
        for j in range(i + 1, n):
            v = fn(strings[i], strings[j])
            d[i, j] = v
            d[j, i] = v
    return d
