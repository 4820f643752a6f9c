"""End-to-end parity (the headline gate): triples P/R vs oracle; invariants."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from incremental_entity_extraction_spark.pipeline import run_incremental


def _triple_set(df: pd.DataFrame) -> set:
    return set(map(tuple, df[["subj", "pred", "obj"]].itertuples(index=False)))


def _run(spark, spark_world, lake, cfg, mode):
    return run_incremental(
        spark,
        spark_world["transcripts"],
        spark_world["entities_kb"],
        lake,
        cfg,
        cluster_mode=mode,
    )


@pytest.mark.parametrize("mode,floor", [("greedy_replay", 1.0), ("cc", 0.95)])
def test_triples_parity(spark, spark_world, world, oracle_result, cfg, tmp_lake, mode, floor):
    _run(spark, spark_world, tmp_lake, cfg, mode)
    got = spark.read.parquet(tmp_lake.path("triples")).toPandas()
    _, _, exp_triples, _ = oracle_result
    gset, eset = _triple_set(got), _triple_set(exp_triples)
    inter = len(gset & eset)
    precision = inter / len(gset)
    recall = inter / len(eset)
    assert precision >= floor, f"precision {precision} < {floor}"
    assert recall >= floor, f"recall {recall} < {floor}"


def test_per_turn_text_invariant(spark, spark_world, world, cfg, tmp_lake):
    """input_hint invariant: per-turn text equality under stable
    (conv_id, turn_idx) ordering, before vs after the pipeline."""
    before = (
        spark_world["transcripts"]
        .select("conv_id", "turn_idx", "text")
        .orderBy("conv_id", "turn_idx")
        .toPandas()
    )
    _run(spark, spark_world, tmp_lake, cfg, "greedy_replay")
    after = (
        spark_world["transcripts"]
        .select("conv_id", "turn_idx", "text")
        .orderBy("conv_id", "turn_idx")
        .toPandas()
    )
    pd.testing.assert_frame_equal(before, after)
    src = world.transcripts.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    assert list(after["text"]) == list(src["text"])


@pytest.mark.parametrize("mode", ["greedy_replay", "cc"])
def test_determinism_two_runs_identical(spark, spark_world, cfg, tmp_path, mode):
    from incremental_entity_extraction_spark.pipeline import Lake

    lakes = [Lake(str(tmp_path / f"lake_{mode}_{i}")) for i in range(2)]
    outs = []
    for lk in lakes:
        _run(spark, spark_world, lk, cfg, mode)
        outs.append(_triple_set(spark.read.parquet(lk.path("triples")).toPandas()))
    assert outs[0] == outs[1]


def test_new_entity_ids_contiguous(spark, spark_world, cfg, tmp_lake, oracle_result):
    _run(spark, spark_world, tmp_lake, cfg, "greedy_replay")
    ne = spark.read.parquet(tmp_lake.path("new_entities")).toPandas()
    ids = sorted(ne["id"])
    assert ids == list(range(len(ids)))
    assert (ne["indexer"] == cfg.rw_indexer_id).all()
    # matches oracle's RW table
    _, _, _, state = oracle_result
    exp = state.rw_entities.sort_values("id").reset_index(drop=True)
    got = ne.sort_values("id").reset_index(drop=True)
    assert list(got["title"]) == list(exp["title"])


def test_resume_and_idempotent_rerun(spark, spark_world, cfg, tmp_lake):
    import json

    full_transcripts = spark_world["transcripts"]
    # partial run: batches 0..1 only (simulated crash)
    partial = {"transcripts": full_transcripts.filter(F.col("batch_id") <= 1),
               "entities_kb": spark_world["entities_kb"]}
    _run(spark, partial, tmp_lake, cfg, "greedy_replay")
    assert tmp_lake.completed_batches() == {0, 1}
    # resume
    stats = _run(spark, spark_world, tmp_lake, cfg, "greedy_replay")
    assert [s["batch_id"] for s in stats] == [2, 3]
    resumed = _triple_set(spark.read.parquet(tmp_lake.path("triples")).toPandas())
    # idempotent re-run of batch 3
    lines = open(tmp_lake.lineage_path()).read().strip().split("\n")
    kept = [l for l in lines if json.loads(l)["batch_id"] != 3]
    open(tmp_lake.lineage_path(), "w").write("\n".join(kept) + "\n")
    stats2 = _run(spark, spark_world, tmp_lake, cfg, "greedy_replay")
    assert [s["batch_id"] for s in stats2] == [3]
    rerun = _triple_set(spark.read.parquet(tmp_lake.path("triples")).toPandas())
    assert rerun == resumed
    # crash mid-append: batch 3's line is torn (no trailing newline) — it is
    # not committed, the rerun redoes batch 3 and cuts the torn tail
    lines = open(tmp_lake.lineage_path()).read().strip().split("\n")
    torn = [l for l in lines if json.loads(l)["batch_id"] == 3][0]
    kept = [l for l in lines if json.loads(l)["batch_id"] != 3]
    open(tmp_lake.lineage_path(), "w").write(
        "\n".join(kept) + "\n" + torn[: len(torn) // 2]
    )
    assert tmp_lake.completed_batches() == {0, 1, 2}
    stats3 = _run(spark, spark_world, tmp_lake, cfg, "greedy_replay")
    assert [s["batch_id"] for s in stats3] == [3]
    torn_rerun = _triple_set(
        spark.read.parquet(tmp_lake.path("triples")).toPandas()
    )
    assert torn_rerun == resumed
    with open(tmp_lake.lineage_path()) as f:
        assert sorted(json.loads(l)["batch_id"] for l in f) == [0, 1, 2, 3]


@pytest.mark.parametrize("mode", ["greedy_replay", "cc"])
def test_partition_invariance(spark, spark_world, cfg, tmp_path, mode):
    """The 100-TB determinism claim: the SAME triples regardless of task
    parallelism.  Runs the pipeline with partitions=2 and partitions=13
    (prime, > default-parallelism slices of this fixture) and asserts
    byte-identical triple sets AND identical new-entity id assignment —
    nothing may depend on task scheduling or partition boundaries."""
    from incremental_entity_extraction_spark.pipeline import Lake

    outs, ents = [], []
    for parts in (2, 13):
        lk = Lake(str(tmp_path / f"lake_{mode}_{parts}"))
        run_incremental(
            spark,
            spark_world["transcripts"],
            spark_world["entities_kb"],
            lk,
            cfg,
            cluster_mode=mode,
            partitions=parts,
        )
        outs.append(
            _triple_set(spark.read.parquet(lk.path("triples")).toPandas())
        )
        ents.append(
            spark.read.parquet(lk.path("new_entities"))
            .select("id", "title", "batch_id")
            .toPandas()
            .sort_values("id")
            .reset_index(drop=True)
        )
    assert outs[0] == outs[1]
    pd.testing.assert_frame_equal(ents[0], ents[1])


@pytest.mark.parametrize("mode", ["greedy_replay", "cc", "three_step", "tfidf"])
def test_driver_gate_parity_with_distributed_path(
    spark, spark_world, cfg, tmp_path, mode, monkeypatch
):
    """The tiny-batch driver fast path (pipeline.DRIVER_CLUSTER_MAX) must be
    byte-identical to the path above the gate (cc: the distributed chain;
    the other modes: the same kernel in one applyInPandas task per batch):
    same triples, same new-entity rows (embeddings included), same
    prev_clusters rows."""
    import incremental_entity_extraction_spark.pipeline as pl

    outs, ents, prevs = [], [], []
    for gate in (pl.DRIVER_CLUSTER_MAX, -1):  # driver path vs above the gate
        monkeypatch.setattr(pl, "DRIVER_CLUSTER_MAX", gate)
        lk = pl.Lake(str(tmp_path / f"gate_{mode}_{gate}"))
        run_incremental(
            spark,
            spark_world["transcripts"],
            spark_world["entities_kb"],
            lk,
            cfg,
            cluster_mode=mode,
        )
        outs.append(
            _triple_set(spark.read.parquet(lk.path("triples")).toPandas())
        )
        ent = spark.read.parquet(lk.path("new_entities")).toPandas()
        ents.append(
            ent.assign(embedding=ent["embedding"].map(tuple))
            .sort_values("id")
            .reset_index(drop=True)
        )
        prevs.append(
            spark.read.parquet(lk.path("prev_clusters"))
            .select("cluster_label", "title", "nelements", "batch_id")
            .toPandas()
            .sort_values(["batch_id", "cluster_label"])
            .reset_index(drop=True)
        )
    assert outs[0] == outs[1]
    pd.testing.assert_frame_equal(ents[0], ents[1])
    pd.testing.assert_frame_equal(prevs[0], prevs[1])
