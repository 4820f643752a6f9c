"""Failure-path behavior: a crash in batch N+1 must not lose batch N's
completed work (its writes drain and its lineage mark lands), and the
prefix-resume must finish the run to a byte-identical result."""

import re

import pytest
from pyspark.sql import functions as F

import incremental_entity_extraction_spark.pipeline as pl


def _triples_set(spark, lake):
    st = spark.read.parquet(lake.path("triples")).toPandas()
    return set(map(tuple, st[["subj", "pred", "obj"]].itertuples(index=False)))


def test_failed_later_batch_keeps_earlier_lineage_and_resumes(
    spark, spark_world, cfg, tmp_path, monkeypatch
):
    clean = pl.Lake(str(tmp_path / "clean"))
    pl.run_incremental(
        spark, spark_world["transcripts"], spark_world["entities_kb"], clean, cfg,
        cluster_mode="greedy_replay",
    )
    want = _triples_set(spark, clean)

    flaky_lake = pl.Lake(str(tmp_path / "flaky"))
    orig = pl.run_batch
    calls = {"n": 0}

    def flaky_run_batch(*a, **k):
        calls["n"] += 1
        if calls["n"] == 2:  # batch 0 fine; batch 1's COMPUTE explodes
            raise RuntimeError("simulated executor loss")
        return orig(*a, **k)

    monkeypatch.setattr(pl, "run_batch", flaky_run_batch)
    with pytest.raises(RuntimeError, match="simulated"):
        pl.run_incremental(
            spark, spark_world["transcripts"], spark_world["entities_kb"],
            flaky_lake, cfg, cluster_mode="greedy_replay",
        )
    # batch 0's overlapped writes were drained and its lineage mark landed
    assert flaky_lake.completed_batches() == {0}
    b0 = spark.read.parquet(flaky_lake.path("triples"))
    assert b0.filter(F.col("batch_id") == 0).count() > 0

    monkeypatch.setattr(pl, "run_batch", orig)
    pl.run_incremental(
        spark, spark_world["transcripts"], spark_world["entities_kb"],
        flaky_lake, cfg, cluster_mode="greedy_replay",
    )
    assert sorted(flaky_lake.completed_batches()) == [0, 1, 2, 3]
    assert _triples_set(spark, flaky_lake) == want


def test_failed_run_keeps_metrics_of_committed_batches(
    spark, spark_world, cfg, tmp_path, monkeypatch
):
    """Each batch's metrics row is written as the batch commits: when the
    second of three batches fails, the first batch's row exists and holds
    its lineage stats."""
    import json

    lake = pl.Lake(str(tmp_path / "lake"))
    orig = pl.run_batch
    calls = {"n": 0}

    def flaky_run_batch(*a, **k):
        calls["n"] += 1
        if calls["n"] == 2:
            raise RuntimeError("simulated executor loss")
        return orig(*a, **k)

    monkeypatch.setattr(pl, "run_batch", flaky_run_batch)
    with pytest.raises(RuntimeError, match="simulated"):
        pl.run_incremental(
            spark, spark_world["transcripts"].filter(F.col("batch_id") <= 2),
            spark_world["entities_kb"], lake, cfg, cluster_mode="cc",
        )
    assert lake.completed_batches() == {0}
    with open(lake.lineage_path()) as f:
        (line,) = [json.loads(ln) for ln in f]
    got = lake.read(spark, "metrics").toPandas()
    assert got.to_dict("records") == [line]


def test_two_fresh_runs_are_byte_identical(spark, spark_world, cfg, tmp_path):
    """Determinism contract: same input, two fresh lakes -> identical triple
    sets AND identical new-entity id assignments (no task-scheduling order
    leaking into results)."""
    lakes = []
    for name in ("a", "b"):
        lake = pl.Lake(str(tmp_path / name))
        pl.run_incremental(
            spark, spark_world["transcripts"], spark_world["entities_kb"], lake,
            cfg, cluster_mode="cc",
        )
        lakes.append(lake)
    ta, tb = (_triples_set(spark, lk) for lk in lakes)
    assert ta == tb
    ids = []
    for lk in lakes:
        ne = spark.read.parquet(lk.path("new_entities")).toPandas()
        ids.append(sorted(zip(ne["id"], ne["title"])))
    assert ids[0] == ids[1]


def test_unknown_cluster_mode_raises_before_retrieval(
    spark, spark_world, cfg, tmp_path
):
    """A bad cluster_mode fails before the window job retrieves anything:
    ``run_incremental`` raises before any Spark job and leaves no lake, and
    ``run_batch`` raises at its top (its rows are None here, so any
    retrieval work would fail differently)."""
    want = (
        "unknown cluster_mode 'kmeans': "
        "expected cc | greedy_replay | three_step | tfidf"
    )
    tracker = spark.sparkContext.statusTracker()
    j0 = max(tracker.getJobIdsForGroup(None), default=-1)
    with pytest.raises(ValueError, match=re.escape(want)):
        pl.run_incremental(
            spark, spark_world["transcripts"], spark_world["entities_kb"],
            pl.Lake(str(tmp_path / "lake")), cfg, cluster_mode="kmeans",
        )
    assert max(tracker.getJobIdsForGroup(None), default=-1) == j0
    assert not (tmp_path / "lake").exists()
    with pytest.raises(ValueError, match=re.escape(want)):
        pl.run_batch(None, None, 0, cfg, cluster_mode="kmeans")
