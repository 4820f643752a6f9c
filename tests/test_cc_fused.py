"""The cc per-batch kernel (cc_summarize_pdf: edges + CC + summaries in one
task, run here through cluster_summarize_batches) must emit EXACTLY the rows
of the composed distributed chain (cluster_cc → summarize_clusters_df), and
the pipeline must stay oracle-exact when forced onto the composed chain."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from incremental_entity_extraction_spark.operators.clustering import (
    cluster_cc,
    cluster_summarize_batches,
    summarize_clusters_df,
)


@pytest.fixture(scope="module")
def nil_df(spark, cfg):
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
                    [float(x) for x in v],
                )
            )
            i += 1
    # two singletons (orthogonal-ish noise)
    for j in range(2):
        v = rng.normal(size=cfg.dim).astype(np.float32)
        v = v / np.linalg.norm(v) * cfg.vector_norm
        rows.append((j, f"conv_s{j}", 100 + j, 0, f"s{j:04d}", f"solo {j}",
                     [float(x) for x in v]))
    return spark.createDataFrame(
        rows,
        "batch_id int, conv_id string, turn_idx int, start_tok int, "
        "mention_id string, mention string, encoding array<float>",
    )


def _rows(df):
    out = []
    for r in df.collect():
        out.append(
            (
                r["cluster_label"], r["batch_id"], r["title"], r["nelements"],
                tuple(r["mentions_id"]), tuple(r["mentions"]),
                tuple(round(x, 4) for x in r["center"]),
            )
        )
    return sorted(out)


def test_fused_cc_equals_composed_chain(spark, cfg, nil_df):
    fused = cluster_summarize_batches(nil_df, cfg, "cc")
    composed = summarize_clusters_df(nil_df, cluster_cc(nil_df, cfg), cfg)
    assert _rows(fused) == _rows(composed)


def test_fused_cc_labels_are_min_members(spark, cfg, nil_df):
    for r in cluster_summarize_batches(nil_df, cfg, "cc").collect():
        assert r["cluster_label"] == min(r["mentions_id"])  # string min


def test_pipeline_composed_chain_still_oracle_exact(
    spark, spark_world, world, oracle_result, cfg, tmp_lake, monkeypatch
):
    """Force the driver gate below every batch so run_batch takes the
    composed distributed chain — it must still match the oracle (the driver
    path is tested by the default-path e2e tests, which sit below the
    gate)."""
    import incremental_entity_extraction_spark.pipeline as P

    calls = []

    def spy(*a, **k):
        calls.append(1)
        return cluster_cc(*a, **k)

    monkeypatch.setattr(P, "DRIVER_CLUSTER_MAX", -1)
    monkeypatch.setattr(P, "cluster_cc", spy)
    P.run_incremental(
        spark, spark_world["transcripts"], spark_world["entities_kb"],
        tmp_lake, cfg, cluster_mode="cc",
    )
    assert calls, "run_batch never reached the distributed cc chain"
    got = spark.read.parquet(tmp_lake.path("triples")).toPandas()
    _, _, exp, _ = oracle_result
    gset = set(map(tuple, got[["subj", "pred", "obj"]].itertuples(index=False)))
    eset = set(map(tuple, exp[["subj", "pred", "obj"]].itertuples(index=False)))
    inter = len(gset & eset)
    assert inter / len(gset) >= 0.95
    assert inter / len(eset) >= 0.95
