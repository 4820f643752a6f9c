"""E8 oracle modes: per-stage isolation transforms."""

from pyspark.sql import functions as F

from incremental_entity_extraction_spark.evaluation.metrics import (
    join_gold,
    linking_recall_at_k,
)
from incremental_entity_extraction_spark.operators.fused import detect_encode_retrieve
from incremental_entity_extraction_spark.operators.oracle_modes import (
    correct_candidates,
    correct_nil,
    nil_feature_dump,
)
from incremental_entity_extraction_spark.operators.retrieval import build_kb_shards


def _with_gold(spark, spark_world, world, cfg):
    shards = build_kb_shards(spark_world["entities_kb"], 1)
    nil_scored = detect_encode_retrieve(spark_world["transcripts"], cfg, shards)
    gold = spark.createDataFrame(world.gold_mentions)
    return join_gold(nil_scored, gold).localCheckpoint()


def test_correct_candidates_forces_recall_at_1(spark, spark_world, world, cfg):
    wg = _with_gold(spark, spark_world, world, cfg)
    fixed = correct_candidates(wg)
    r = linking_recall_at_k(fixed, cfg).toPandas()
    # wherever gold was retrieved at all (recall@10), it is now at rank 1
    assert (r["recall_at_1"] == r["recall_at_10"]).all()


def test_correct_nil_matches_gold(spark, spark_world, world, cfg):
    wg = _with_gold(spark, spark_world, world, cfg)
    fixed = correct_nil(wg)
    assert (
        fixed.filter(F.col("is_nil") != F.col("gold_nil")).count() == 0
    )


def test_nil_feature_dump_schema(spark, spark_world, world, cfg):
    wg = _with_gold(spark, spark_world, world, cfg)
    dump = nil_feature_dump(wg, cfg).toPandas()
    assert set(dump.columns) == {
        "mention_id", "batch_id", "max_bi", "secondiff",
        "levenshtein_sim", "jaccard_sim", "nil_score", "is_nil",
    }
    linked = dump[~dump.is_nil]
    # linked mentions should have near-perfect surface similarity on fixture
    assert linked["levenshtein_sim"].median() > 0.9
    assert linked["jaccard_sim"].median() > 0.9
