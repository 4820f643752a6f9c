"""Spark jobs per batch: a regression budget for the batch path.

Each batch is one Spark job: the fused detect→encode→retrieve→NIL stage
runs inside the batch's one Arrow collect, and every lake table is then
written by the driver.  A change that puts a Spark job back on the batch
path — a Spark write, a count, a checkpoint, a second collect — fails
here.  The conftest world's batches are below the salt-shuffle size
(``BatchLoop._salted``), which would add one job per batch.
"""

import pytest
from pyspark.sql import functions as F

import incremental_entity_extraction_spark.pipeline as pl

JOBS_PER_BATCH = 1


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
