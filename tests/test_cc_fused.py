"""The cc per-batch kernel (cc_summarize_pdf: edges + components + summaries
in one call): every cluster is labelled by its smallest member mention_id,
and it finds the planted clusters."""

import numpy as np
import pandas as pd
import pytest

from incremental_entity_extraction_spark.operators.clustering import (
    cc_summarize_pdf,
)


@pytest.fixture(scope="module")
def nil_pdf(cfg):
    rng = np.random.default_rng(23)
    k, per = 5, 6
    centers = rng.normal(size=(k, cfg.dim)).astype(np.float32)
    rows = []
    i = 0
    for c in range(k):
        for _ in range(per):
            v = centers[c] + rng.normal(scale=1e-3, size=cfg.dim).astype(np.float32)
            v = v / np.linalg.norm(v) * cfg.vector_norm
            rows.append(
                (
                    int(i % 2),                    # two batches
                    f"conv{i % 7}", i, i % 3,
                    f"m{i:04d}", f"surface {c}",
                    v.astype(np.float32),
                )
            )
            i += 1
    # two singletons (orthogonal-ish noise)
    for j in range(2):
        v = rng.normal(size=cfg.dim).astype(np.float32)
        v = v / np.linalg.norm(v) * cfg.vector_norm
        rows.append((j, f"conv_s{j}", 100 + j, 0, f"s{j:04d}", f"solo {j}", v))
    return pd.DataFrame(rows, columns=[
        "batch_id", "conv_id", "turn_idx", "start_tok", "mention_id",
        "mention", "encoding",
    ])


def test_fused_cc_labels_are_min_members(cfg, nil_pdf):
    th = float(cfg.greedy_threshold)
    out = pd.concat(
        [cc_summarize_pdf(g, th) for _, g in nil_pdf.groupby("batch_id")],
        ignore_index=True,
    )
    # 5 planted clusters split over two batches, plus the two singletons
    assert len(out) == 5 * 2 + 2
    for _, r in out.iterrows():
        assert r["cluster_label"] == min(r["mentions_id"])  # string min
