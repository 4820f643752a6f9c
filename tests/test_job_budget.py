"""Spark jobs per batch and per run: a regression budget for the batch path.

A window of batches is one Spark job: the fused detect→encode→retrieve→NIL
stage runs inside the window's one Arrow collect, each batch is then
finished on the driver (``pipeline.run_batch``), and every lake table is
written by the driver.  A change that puts a Spark job back on the batch
path — a Spark write, a count, a checkpoint, a second collect — fails
here.  The conftest world is one window, below the salt-shuffle size
(``BatchLoop._salted``), which would add one job per window.
"""

import pytest
from pyspark.sql import functions as F

import incremental_entity_extraction_spark.pipeline as pl

JOBS_PER_BATCH = 0
# per run on the conftest world: the KB shards (broadcast) or the three jobs
# that build the IVF index on a fresh lake (ivf; the base is written by the
# driver, ann_index._fits_driver), then the one batch-sizing job and the one
# window job
JOBS_PER_RUN = {"broadcast": 3, "ivf": 5}


def _jobs(spark, run) -> int:
    """Spark jobs started while ``run()`` ran (job ids are sequential)."""
    tracker = spark.sparkContext.statusTracker()

    def last() -> int:
        return max(tracker.getJobIdsForGroup(None), default=-1)

    j0 = last()
    run()
    return last() - j0


@pytest.mark.parametrize("retrieval_mode", ["broadcast", "ivf"])
def test_spark_jobs_per_batch(spark, spark_world, cfg, tmp_path, retrieval_mode):
    tr, kb = spark_world["transcripts"], spark_world["entities_kb"]
    jobs = {}
    for n in (2, 4):
        lake = pl.Lake(str(tmp_path / f"lake{n}"))
        jobs[n] = _jobs(spark, lambda: pl.run_incremental(
            spark, tr.filter(F.col("batch_id") < n), kb, lake, cfg,
            cluster_mode="cc", retrieval_mode=retrieval_mode,
        ))
        assert len(lake.completed_batches()) == n
    assert (jobs[4] - jobs[2]) / 2 <= JOBS_PER_BATCH, jobs


@pytest.mark.parametrize("retrieval_mode", ["broadcast", "ivf"])
def test_spark_jobs_per_run(spark, spark_world, cfg, tmp_path, retrieval_mode):
    lake = pl.Lake(str(tmp_path / "lake"))
    jobs = _jobs(spark, lambda: pl.run_incremental(
        spark, spark_world["transcripts"], spark_world["entities_kb"], lake,
        cfg, cluster_mode="cc", retrieval_mode=retrieval_mode,
    ))
    assert lake.completed_batches() == {0, 1, 2, 3}
    assert jobs <= JOBS_PER_RUN[retrieval_mode], jobs


@pytest.mark.parametrize("cluster_mode", ["cc", "greedy_replay"])
def test_tiled_modes_start_no_clustering_job(
    spark, spark_world, cfg, tmp_path, monkeypatch, cluster_mode
):
    """cc and greedy_replay cluster on the driver at every NIL size: with
    ``DRIVER_CLUSTER_MAX`` below every batch's NIL count, a run starts
    exactly the jobs of the default run."""
    jobs = []
    for gate in (pl.DRIVER_CLUSTER_MAX, -1):
        monkeypatch.setattr(pl, "DRIVER_CLUSTER_MAX", gate)
        lake = pl.Lake(str(tmp_path / f"gate{gate}"))
        jobs.append(_jobs(spark, lambda: pl.run_incremental(
            spark, spark_world["transcripts"], spark_world["entities_kb"],
            lake, cfg, cluster_mode=cluster_mode,
        )))
        assert lake.completed_batches() == {0, 1, 2, 3}
    assert jobs[1] == jobs[0], jobs
