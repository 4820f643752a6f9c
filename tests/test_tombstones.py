"""KB tombstone semantics (reference pipeline/indexer/main.py:121-135).

The reference keeps deleted entities' vectors in FAISS and papers over them
with dummy score=-1000 candidates that eval drops (scripts/eval_kbp.py:
242-279).  Here metadata rides the vector broadcast, so deletion filters the
row out of every shard: a deleted entity must never be retrieved, and the
run must stay healthy (the affected mentions fall to NIL or the next-best
candidate)."""

import json

import pytest
from pyspark.sql import functions as F

from incremental_entity_extraction_spark.pipeline import Lake, run_incremental


def _top_linked_id(spark, lake, cfg):
    m = spark.read.parquet(lake.path("mentions"))
    row = (
        m.filter((~F.col("is_nil")) & (F.col("top_indexer") == cfg.ro_indexer_id))
        .groupBy("top_id")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("top_id"))
        .first()
    )
    return int(row["top_id"]), int(row["n"])


def test_deleted_kb_entity_never_retrieved(spark, spark_world, cfg, tmp_path):
    base = Lake(str(tmp_path / "base"))
    run_incremental(
        spark, spark_world["transcripts"], spark_world["entities_kb"], base, cfg,
        cluster_mode="greedy_replay",
    )
    victim, n_linked = _top_linked_id(spark, base, cfg)
    assert n_linked > 0

    tomb = Lake(str(tmp_path / "tomb"))
    run_incremental(
        spark, spark_world["transcripts"], spark_world["entities_kb"], tomb, cfg,
        cluster_mode="greedy_replay", persist_candidates=True,
        deleted_entity_ids={victim},
    )
    m2 = spark.read.parquet(tomb.path("mentions"))
    hit = m2.filter(
        (F.col("top_id") == victim) & (F.col("top_indexer") == cfg.ro_indexer_id)
    ).count()
    assert hit == 0, "deleted entity surfaced as a top candidate"
    # it must be absent from the full candidate lists too, not just rank 1
    cands = spark.read.parquet(tomb.path("candidates"))
    in_lists = cands.select(
        F.explode("candidates").alias("c")
    ).filter(
        (F.col("c.id") == victim) & (F.col("c.indexer") == cfg.ro_indexer_id)
    ).count()
    assert in_lists == 0
    # the run is still healthy: same mention count, victims re-routed
    assert m2.count() == spark.read.parquet(base.path("mentions")).count()


def test_deleted_rw_ids_are_not_reassigned(spark, spark_world, cfg, tmp_path):
    """next_rw_id must be computed before the tombstone filter: resuming with
    a deleted RW entity may not recycle its id for a new cluster."""
    lake = Lake(str(tmp_path / "lake"))
    run_incremental(
        spark, spark_world["transcripts"], spark_world["entities_kb"], lake, cfg,
        cluster_mode="greedy_replay",
    )
    ne = spark.read.parquet(lake.path("new_entities"))
    first_batch = ne.agg(F.min("batch_id")).first()[0]
    victim_rw = int(ne.filter(F.col("batch_id") == first_batch).agg(F.max("id")).first()[0])

    # wipe lineage past batch 0 to force re-processing of later batches
    done = sorted(lake.completed_batches())
    keep = done[:1]
    lines = [
        line
        for line in open(lake.lineage_path())
        if json.loads(line)["batch_id"] in keep
    ]
    with open(lake.lineage_path(), "w") as f:
        f.writelines(lines)

    run_incremental(
        spark, spark_world["transcripts"], spark_world["entities_kb"], lake, cfg,
        cluster_mode="greedy_replay", deleted_entity_ids={victim_rw},
    )
    ne2 = spark.read.parquet(lake.path("new_entities"))
    later = ne2.filter(F.col("batch_id") > first_batch)
    reused = later.filter(F.col("id") == victim_rw).count()
    assert reused == 0, "deleted RW id was recycled"


@pytest.mark.parametrize("retrieval_mode", ["broadcast", "ivf"])
def test_rw_tombstone_resume_keeps_full_candidate_lists(
    spark, spark_world, cfg, tmp_path, retrieval_mode
):
    """A tombstoned RW entity is masked BEFORE the top-k in both engines:
    resuming with batch 0's RW id 3 deleted, every later candidate list
    still holds top_k entries and none of them is the deleted id (in ivf
    mode the entity keeps its index rows; dropping it after selection
    would leave a hole in the list)."""
    t, kb = spark_world["transcripts"], spark_world["entities_kb"]
    lake = Lake(str(tmp_path / "lake"))
    run_incremental(
        spark, t.filter(F.col("batch_id") == 0), kb, lake, cfg,
        cluster_mode="greedy_replay", retrieval_mode=retrieval_mode,
    )
    victim = 3
    ne = spark.read.parquet(lake.path("new_entities"))
    assert ne.filter(F.col("id") == victim).count() == 1

    stats = run_incremental(
        spark, t, kb, lake, cfg, cluster_mode="greedy_replay",
        retrieval_mode=retrieval_mode, persist_candidates=True,
        deleted_entity_ids={victim},
    )
    assert [s["batch_id"] for s in stats] == [1, 2, 3]
    sizes = (
        spark.read.parquet(lake.path("candidates"))
        .select(
            F.size("candidates").alias("n"),
            F.exists("candidates", lambda c: c["id"] == victim).alias("hit"),
        )
        .toPandas()
    )
    assert len(sizes) > 0
    assert (sizes["n"] == cfg.top_k).all()
    assert not sizes["hit"].any()
