"""ANN retrieval path (KB-beyond-broadcast): candidate contract parity with
the broadcast engine, the retrieval-mode guard, and end-to-end pipeline
quality vs the oracle."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from incremental_entity_extraction_spark.operators.ann_index import (
    build_ann_index,
    index_shard,
)
from incremental_entity_extraction_spark.operators.fused import (
    detect_encode_retrieve,
)
from incremental_entity_extraction_spark.operators.retrieval import (
    build_kb_shards,
    topk_candidates_columnar,
)
from incremental_entity_extraction_spark.operators.retrieval_ann import (
    composite_corpus,
)


def _build(kb, path, **kw):
    return build_ann_index(composite_corpus(kb), path, **kw)


@pytest.fixture(scope="module")
def enriched_pair(spark, spark_world, cfg, tmp_path_factory):
    t = spark_world["transcripts"]
    kb = spark_world["entities_kb"]

    def run(shards):
        return (
            detect_encode_retrieve(t, cfg, shards)
            .toPandas().set_index("mention_id").sort_index()
        )

    model = _build(kb, str(tmp_path_factory.mktemp("ann") / "idx"))
    return run(build_kb_shards(kb, 1)), run([index_shard(model)])


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
    # metadata hydrated from the index rows themselves: the same fields
    # the broadcast KB carries for the same entity
    meta = {
        (x["indexer"], x["id"]): (x["wikipedia_id"], x["title"])
        for cands in exact["candidates"] for x in cands
    }
    for cands in ann["candidates"]:
        for x in cands:
            key = (x["indexer"], x["id"])
            if key in meta:
                assert (x["wikipedia_id"], x["title"]) == meta[key]


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


@pytest.mark.parametrize("mode", ["IVF", "ivf_pq"])
def test_unknown_retrieval_mode_is_rejected(spark, spark_world, cfg, tmp_path,
                                            mode):
    """A misspelled or retired mode raises before anything runs — it once
    ran silently against an empty RO KB and linked nothing."""
    from incremental_entity_extraction_spark.pipeline import (
        Lake,
        run_batch,
        run_incremental,
    )

    lake = Lake(str(tmp_path / "lake"))
    with pytest.raises(ValueError, match=r"broadcast \| ivf"):
        run_incremental(
            spark, spark_world["transcripts"], spark_world["entities_kb"],
            lake, cfg, retrieval_mode=mode,
        )
    assert not (tmp_path / "lake").exists()
    with pytest.raises(ValueError, match=r"broadcast \| ivf"):
        run_batch(None, None, 0, cfg, retrieval_mode=mode)


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
    model = _build(kb, str(tmp_path / "idx"), n_centroids=2, n_probe=2)
    counts, ids, idxr, wids, titles, _, _ = topk_candidates_columnar(
        vecs[:1], [index_shard(model)], cfg.top_k, 1.0
    )
    assert counts[0] == 6
    assert (idxr == big_indexer).all()
    assert ids[0] == 0  # self-similar vector decodes to the right id
    assert (wids == 100 + ids).all() and list(titles) == [f"t{i}" for i in ids]


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

        # a base built elsewhere from a metadata-less corpus (perfbench's
        # set-up does this) is reused: its rows are rewritten with the KB's
        # metadata under the frozen centroids, never retrained
        kb = spark_world["entities_kb"]
        pre = Lake(str(tmp_path / "prebuilt_lake"))
        ai.build_ann_index(
            composite_corpus(kb.select("id", "indexer", "embedding")),
            pre.path("ann_index"),
        )
        assert len(calls) == 2
        run_incremental(
            spark, spark_world["transcripts"], kb, pre, cfg,
            cluster_mode="greedy_replay", retrieval_mode="ivf",
        )
        assert len(calls) == 2, "the pipeline retrained a reusable base"
        linked = (
            spark.read.parquet(pre.path("mentions"))
            .filter(~F.col("is_nil") & (F.col("top_indexer") == cfg.ro_indexer_id))
            .select("top_wikipedia_id", "top_title").toPandas()
        )
        assert len(linked) and (linked["top_wikipedia_id"] >= 0).all()
        assert (linked["top_title"] != "").all()
    finally:
        ss.kmeans_centroids = orig
        ai.kmeans_centroids = orig


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
