"""ANN retrieval path (KB-beyond-broadcast): candidate contract parity with
the broadcast engine and end-to-end pipeline quality vs the oracle."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from incremental_entity_extraction_spark.operators.ann_index import build_ann_index
from incremental_entity_extraction_spark.operators.encode import encode_mentions_df
from incremental_entity_extraction_spark.operators.mentions import detect_mentions
from incremental_entity_extraction_spark.operators.retrieval import (
    build_kb_shards,
    retrieve_topk,
)
from incremental_entity_extraction_spark.operators.retrieval_ann import (
    composite_corpus,
    retrieve_topk_indexed,
)


def _build(kb, path, **kw):
    return build_ann_index(
        composite_corpus(kb.select("id", "indexer", "embedding")), path, **kw
    )


@pytest.fixture(scope="module")
def enriched_pair(spark, spark_world, cfg, tmp_path_factory):
    encoded = encode_mentions_df(
        detect_mentions(spark_world["transcripts"]), cfg
    ).localCheckpoint()
    kb = spark_world["entities_kb"]
    shards = build_kb_shards(kb, 1)
    exact = retrieve_topk(encoded, cfg, shards).toPandas().set_index("mention_id")
    model = _build(kb, str(tmp_path_factory.mktemp("ann") / "idx"))
    ann = (
        retrieve_topk_indexed(encoded, kb, cfg, model)
        .toPandas()
        .set_index("mention_id")
    )
    return exact.sort_index(), ann.sort_index()


def test_ann_candidate_contract(enriched_pair, cfg):
    exact, ann = enriched_pair
    assert list(exact.index) == list(ann.index)
    row = ann["candidates"].iloc[0]
    assert len(row) > 0
    c = dict(row[0])
    # same struct fields, same dot-space scoring
    assert set(c.keys()) == {
        "id", "indexer", "wikipedia_id", "title", "score", "norm_score",
    }
    assert abs(c["score"] - c["norm_score"] * cfg.vector_norm**2) < 1e-3
    # candidate lists sorted score desc with deterministic ties
    for cands in ann["candidates"].head(50):
        scores = [x["score"] for x in cands]
        assert scores == sorted(scores, reverse=True)


def test_ann_top1_agrees_with_exact(enriched_pair):
    exact, ann = enriched_pair
    agree = 0
    n = 0
    for mid in exact.index:
        e = exact.loc[mid, "candidates"]
        a = ann.loc[mid, "candidates"]
        if len(e) == 0:
            continue
        n += 1
        if len(a) and a[0]["id"] == e[0]["id"] and a[0]["indexer"] == e[0]["indexer"]:
            agree += 1
    assert n > 0
    assert agree / n >= 0.9, f"top-1 agreement {agree / n:.3f}"


@pytest.mark.parametrize("mode", ["ivf", "ivf_pq"])
def test_run_batch_ann_modes_require_model(spark_world, cfg, mode):
    """The persisted index is the only ANN path: no per-call fallback, and
    no rw_pdf entities outside it."""
    import pandas as pd

    from incremental_entity_extraction_spark.pipeline import run_batch

    with pytest.raises(ValueError, match="needs a prebuilt ann_model"):
        run_batch(
            spark_world["transcripts"], [], pd.DataFrame(), 0, cfg,
            retrieval_mode=mode, kb_ro_df=spark_world["entities_kb"],
        )
    # RW state rides rw_df only: rw_pdf entities would have no index rows
    with pytest.raises(ValueError, match="takes RW state as rw_df"):
        run_batch(
            spark_world["transcripts"], [], pd.DataFrame({"id": [0]}), 0, cfg,
            retrieval_mode=mode, kb_ro_df=spark_world["entities_kb"],
            ann_model=object(),
        )


def test_pipeline_e2e_with_ivf_retrieval(spark, spark_world, world, cfg, tmp_path):
    """Full incremental run with retrieval_mode='ivf' (no KB broadcast, no
    KB collect): triples must match the oracle at P/R >= 0.95."""
    from incremental_entity_extraction_spark.oracle import oracle_run_incremental
    from incremental_entity_extraction_spark.pipeline import Lake, run_incremental

    _, _, ot, _ = oracle_run_incremental(world.transcripts, world.entities_kb, cfg)
    oset = set(map(tuple, ot[["subj", "pred", "obj"]].itertuples(index=False)))
    lake = Lake(str(tmp_path / "ivf_lake"))
    run_incremental(
        spark, spark_world["transcripts"], spark_world["entities_kb"], lake, cfg,
        cluster_mode="greedy_replay", retrieval_mode="ivf",
    )
    st = spark.read.parquet(lake.path("triples")).toPandas()
    sset = set(map(tuple, st[["subj", "pred", "obj"]].itertuples(index=False)))
    p = len(sset & oset) / len(sset)
    r = len(sset & oset) / len(oset)
    assert p >= 0.95 and r >= 0.95, f"ivf-mode triples P={p:.3f} R={r:.3f}"


def test_composite_key_guard_rejects_out_of_range(spark, cfg, tmp_path):
    """id >= 2^40 or indexer >= 2^23 must raise, not decode a wrong entity."""
    rng = np.random.default_rng(2)
    vec = [float(x) for x in rng.normal(size=cfg.dim)]
    for bad_id, bad_indexer in [(1 << 40, 0), (5, 1 << 23), (-1, 0)]:
        kb = spark.createDataFrame(
            [(bad_id, bad_indexer, 100, "t", vec)],
            "id long, indexer int, wikipedia_id long, title string, "
            "embedding array<float>",
        )
        with pytest.raises(Exception) as ei:
            _build(kb, str(tmp_path / "idx"), n_centroids=2, n_probe=2)
        assert "composite-key" in str(ei.value)


def test_large_indexer_decodes_exactly(spark, cfg, tmp_path):
    """indexer beyond 2^13 pushes the composite key past 2^53 — the decode
    must use integer DIV (float division would hydrate the wrong entity)."""
    rng = np.random.default_rng(3)
    vecs = rng.normal(size=(6, cfg.dim)).astype(np.float32)
    big_indexer = (1 << 23) - 1  # max legal; key ≈ 2^63 - ε
    kb = spark.createDataFrame(
        [
            (int(i), big_indexer, 100 + i, f"t{i}", [float(x) for x in vecs[i]])
            for i in range(6)
        ],
        "id long, indexer int, wikipedia_id long, title string, "
        "embedding array<float>",
    )
    mentions = spark.createDataFrame(
        [("m0", [float(x) for x in vecs[0]])],
        "mention_id string, encoding array<float>",
    )
    model = _build(kb, str(tmp_path / "idx"), n_centroids=2, n_probe=2)
    out = retrieve_topk_indexed(mentions, kb, cfg, model).collect()
    cands = out[0]["candidates"]
    assert len(cands) > 0
    assert all(c["indexer"] == big_indexer for c in cands)
    assert cands[0]["id"] == 0  # self-similar vector decodes to the right id


def test_pipeline_e2e_with_ivf_pq_retrieval(spark, spark_world, world, cfg, tmp_path):
    """retrieval_mode='ivf_pq': codes in the index, exact re-rank from the
    KB vectors — triples must still match the oracle at P/R >= 0.95."""
    from incremental_entity_extraction_spark.oracle import oracle_run_incremental
    from incremental_entity_extraction_spark.pipeline import Lake, run_incremental

    _, _, ot, _ = oracle_run_incremental(world.transcripts, world.entities_kb, cfg)
    oset = set(map(tuple, ot[["subj", "pred", "obj"]].itertuples(index=False)))
    lake = Lake(str(tmp_path / "pq_lake"))
    run_incremental(
        spark, spark_world["transcripts"], spark_world["entities_kb"], lake, cfg,
        cluster_mode="greedy_replay", retrieval_mode="ivf_pq",
    )
    st = spark.read.parquet(lake.path("triples")).toPandas()
    sset = set(map(tuple, st[["subj", "pred", "obj"]].itertuples(index=False)))
    p = len(sset & oset) / len(sset)
    r = len(sset & oset) / len(oset)
    assert p >= 0.95 and r >= 0.95, f"ivf_pq-mode triples P={p:.3f} R={r:.3f}"


def test_ann_modes_train_once_and_resume_trains_zero(
    spark, spark_world, cfg, tmp_path
):
    """The round-5 scale contract: k-means training and full-KB bucketing
    happen ONCE per (corpus, params) — batch 2..N and resume runs pay only
    delta assignment (FAISS add semantics, faiss_indexer.py:34-43 +
    indexer/main.py:178-214)."""
    from incremental_entity_extraction_spark.operators import ann_index as ai
    from incremental_entity_extraction_spark.operators import (
        similarity_search as ss,
    )
    from incremental_entity_extraction_spark.pipeline import Lake, run_incremental

    calls = []
    orig = ss.kmeans_centroids

    def spy(*a, **k):
        calls.append(1)
        return orig(*a, **k)

    # ann_index binds the name at import time — patch both modules
    ss.kmeans_centroids = spy
    ai.kmeans_centroids = spy
    try:
        lake = Lake(str(tmp_path / "train_once_lake"))
        run_incremental(
            spark, spark_world["transcripts"], spark_world["entities_kb"],
            lake, cfg, cluster_mode="greedy_replay", retrieval_mode="ivf",
        )
        # one training for a 4-batch run — NOT one per batch
        assert len(calls) == 1, f"k-means trained {len(calls)}× in one run"
        # resume over a complete lineage: loads the persisted model, trains 0×
        run_incremental(
            spark, spark_world["transcripts"], spark_world["entities_kb"],
            lake, cfg, cluster_mode="greedy_replay", retrieval_mode="ivf",
        )
        assert len(calls) == 1, "resume retrained the persisted index"
    finally:
        ss.kmeans_centroids = orig
        ai.kmeans_centroids = orig


def test_ivf_pq_resume_is_byte_identical(spark, spark_world, cfg, tmp_path):
    from pyspark.sql import functions as F

    from incremental_entity_extraction_spark.pipeline import Lake, run_incremental

    def _triples(lake):
        pdf = spark.read.parquet(lake.path("triples")).toPandas()
        return set(map(tuple, pdf[["subj", "pred", "obj"]].itertuples(index=False)))

    full = Lake(str(tmp_path / "pq_full"))
    run_incremental(
        spark, spark_world["transcripts"], spark_world["entities_kb"], full,
        cfg, cluster_mode="greedy_replay", retrieval_mode="ivf_pq",
    )
    part = Lake(str(tmp_path / "pq_part"))
    run_incremental(
        spark,
        spark_world["transcripts"].filter(F.col("batch_id") <= 1),
        spark_world["entities_kb"], part, cfg,
        cluster_mode="greedy_replay", retrieval_mode="ivf_pq",
    )
    stats = run_incremental(
        spark, spark_world["transcripts"], spark_world["entities_kb"], part,
        cfg, cluster_mode="greedy_replay", retrieval_mode="ivf_pq",
    )
    assert [s["batch_id"] for s in stats] == [2, 3]
    assert _triples(part) == _triples(full)


def test_ivf_resume_is_byte_identical_and_driver_state_bounded(
    spark, spark_world, cfg, tmp_path
):
    """ivf-mode RW state threads through the lake's new_entities table, so a
    crash-resume run must reproduce the uninterrupted run's triples exactly
    (ids deterministic from the lake prefix, not from any driver frame)."""
    from pyspark.sql import functions as F

    from incremental_entity_extraction_spark.pipeline import Lake, run_incremental

    def _triples(lake):
        pdf = spark.read.parquet(lake.path("triples")).toPandas()
        return set(map(tuple, pdf[["subj", "pred", "obj"]].itertuples(index=False)))

    full = Lake(str(tmp_path / "ivf_full"))
    run_incremental(
        spark, spark_world["transcripts"], spark_world["entities_kb"], full,
        cfg, cluster_mode="greedy_replay", retrieval_mode="ivf",
    )

    part = Lake(str(tmp_path / "ivf_part"))
    run_incremental(
        spark,
        spark_world["transcripts"].filter(F.col("batch_id") <= 1),
        spark_world["entities_kb"], part, cfg,
        cluster_mode="greedy_replay", retrieval_mode="ivf",
    )
    assert part.completed_batches() == {0, 1}
    stats = run_incremental(
        spark, spark_world["transcripts"], spark_world["entities_kb"], part,
        cfg, cluster_mode="greedy_replay", retrieval_mode="ivf",
    )
    assert [s["batch_id"] for s in stats] == [2, 3]
    assert _triples(part) == _triples(full)
