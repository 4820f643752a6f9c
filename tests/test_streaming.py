"""Structured Streaming incremental run == batch incremental run."""

import json

import pandas as pd
from pyspark.sql import functions as F

from incremental_entity_extraction_spark.pipeline import Lake, run_incremental
from incremental_entity_extraction_spark.streaming import run_streaming_incremental


def _triples(spark, lake):
    df = spark.read.parquet(lake.path("triples")).toPandas()
    return set(map(tuple, df[["subj", "pred", "obj"]].itertuples(index=False)))


def test_streaming_equals_batch(spark, spark_world, world, cfg, tmp_path):
    # batch reference run
    batch_lake = Lake(str(tmp_path / "batch_lake"))
    run_incremental(
        spark, spark_world["transcripts"], spark_world["entities_kb"],
        batch_lake, cfg, cluster_mode="greedy_replay",
    )
    expected = _triples(spark, batch_lake)

    # stream source: one parquet file per batch_id (arrival order = batch order)
    src = str(tmp_path / "stream_src")
    for b in sorted(world.transcripts["batch_id"].unique()):
        spark_world["transcripts"].filter(F.col("batch_id") == int(b)).coalesce(
            1
        ).write.mode("append").parquet(src)

    stream_lake = Lake(str(tmp_path / "stream_lake"))
    run_streaming_incremental(
        spark, src, spark_world["entities_kb"], stream_lake, cfg,
        cluster_mode="greedy_replay",
    )
    assert _triples(spark, stream_lake) == expected
    assert stream_lake.completed_batches() == set(
        int(b) for b in world.transcripts["batch_id"].unique()
    )


def test_streaming_multi_epoch_state_threading(spark, spark_world, world, cfg, tmp_path):
    """maxFilesPerTrigger=1 forces one micro-batch per file: the RW KB state
    must thread across epochs exactly as in the single-epoch run."""
    batch_lake = Lake(str(tmp_path / "b_lake"))
    run_incremental(
        spark, spark_world["transcripts"], spark_world["entities_kb"],
        batch_lake, cfg, cluster_mode="greedy_replay",
    )
    expected = _triples(spark, batch_lake)

    src = str(tmp_path / "src_multi")
    for b in sorted(world.transcripts["batch_id"].unique()):
        spark_world["transcripts"].filter(F.col("batch_id") == int(b)).coalesce(
            1
        ).write.mode("append").parquet(src)

    stream_lake = Lake(str(tmp_path / "s_lake_multi"))
    run_streaming_incremental(
        spark, src, spark_world["entities_kb"], stream_lake, cfg,
        cluster_mode="greedy_replay", max_files_per_trigger=1,
    )
    assert _triples(spark, stream_lake) == expected


def test_resume_with_dataless_new_entities(spark, spark_world, cfg, tmp_path):
    """A completed batch with zero clusters must not break resume
    (UNABLE_TO_INFER_SCHEMA guard in Lake.read)."""
    import pandas as pd

    from incremental_entity_extraction_spark.fixtures import make_world

    w0 = make_world(cfg, n_convs=4, n_entities=40, nil_frac=0.0, n_batches=2)
    # nil_frac=0 -> typically no clusters; force the scenario regardless by
    # clearing the new_entities table after a partial run
    t = spark.createDataFrame(w0.transcripts)
    kb = spark.createDataFrame(w0.entities_kb)
    lake = Lake(str(tmp_path / "lake0"))
    run_incremental(spark, t.filter(F.col("batch_id") == 0), kb, lake, cfg,
                    cluster_mode="greedy_replay")
    import shutil as sh

    ne = lake.path("new_entities")
    sh.rmtree(ne, ignore_errors=True)
    import os

    os.makedirs(ne, exist_ok=True)  # data-less directory
    # resume must not crash
    stats = run_incremental(spark, t, kb, lake, cfg, cluster_mode="greedy_replay")
    assert [s["batch_id"] for s in stats] == [1]


def test_streaming_ivf_equals_batch_ivf(spark, spark_world, world, cfg, tmp_path):
    """ANN retrieval in the streaming driver rides the SAME build-once
    persisted index as the batch driver (built at the first micro-batch,
    deltas persisted per batch before the lineage mark, each micro-batch
    broadcasting the index shard it sees): a multi-epoch ivf stream must
    emit exactly the batch ivf run's triples."""
    batch_lake = Lake(str(tmp_path / "b_ivf_lake"))
    run_incremental(
        spark, spark_world["transcripts"], spark_world["entities_kb"],
        batch_lake, cfg, cluster_mode="greedy_replay", retrieval_mode="ivf",
    )
    expected = _triples(spark, batch_lake)

    src = str(tmp_path / "src_ivf")
    for b in sorted(world.transcripts["batch_id"].unique()):
        spark_world["transcripts"].filter(F.col("batch_id") == int(b)).coalesce(
            1
        ).write.mode("append").parquet(src)

    stream_lake = Lake(str(tmp_path / "s_ivf_lake"))
    run_streaming_incremental(
        spark, src, spark_world["entities_kb"], stream_lake, cfg,
        cluster_mode="greedy_replay", retrieval_mode="ivf",
        max_files_per_trigger=1,  # one micro-batch per file: index deltas
                                  # must thread across epochs
    )
    assert _triples(spark, stream_lake) == expected
    import os

    assert os.path.isdir(stream_lake.path("ann_index"))


def test_streaming_resume_after_lineage_gap(spark, spark_world, world, cfg, tmp_path):
    """The lineage PREFIX is the streaming driver's resume contract too: with
    batch 1's line cut from a complete lake, the stream must re-run batches
    1.. against batch 0's RW state only, exactly like run_incremental."""
    lake = Lake(str(tmp_path / "gap_lake"))
    run_incremental(
        spark, spark_world["transcripts"], spark_world["entities_kb"], lake,
        cfg, cluster_mode="greedy_replay",
    )
    expected = _triples(spark, lake)

    lines = open(lake.lineage_path()).read().strip().split("\n")
    kept = [ln for ln in lines if json.loads(ln)["batch_id"] != 1]
    assert len(kept) == len(lines) - 1
    with open(lake.lineage_path(), "w") as f:
        f.write("\n".join(kept) + "\n")

    src = str(tmp_path / "src_gap")
    for b in sorted(world.transcripts["batch_id"].unique()):
        spark_world["transcripts"].filter(F.col("batch_id") == int(b)).coalesce(
            1
        ).write.mode("append").parquet(src)

    run_streaming_incremental(
        spark, src, spark_world["entities_kb"], lake, cfg,
        cluster_mode="greedy_replay",
    )
    assert _triples(spark, lake) == expected
    assert lake.completed_batches() == set(
        int(b) for b in world.transcripts["batch_id"].unique()
    )
