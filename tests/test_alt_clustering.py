"""M9 3-step / M10 TF-IDF clustering engines + the F4 string metric."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from incremental_entity_extraction_spark.functions.cluster_math import (
    single_link_labels,
    three_step_cluster_labels,
    tfidf_cluster_labels,
)
from incremental_entity_extraction_spark.functions.string_metrics import (
    damerau_levenshtein,
    dl_distance_normalized,
)


def test_damerau_levenshtein_basics():
    assert damerau_levenshtein("", "abc") == 3
    assert damerau_levenshtein("abc", "abc") == 0
    assert damerau_levenshtein("abc", "acb") == 1      # transposition
    assert damerau_levenshtein("kitten", "sitting") == 3


def test_dl_normalized_short_penalty():
    assert dl_distance_normalized("zorvexmarnel", "zorvexmarnel") == 0.0
    # short strings get a +3 penalty so near-matches don't merge
    assert dl_distance_normalized("abc", "abd") > 0.5
    # long strings: one edit over 12 chars is small
    assert dl_distance_normalized("zorvexmarnel", "zorvexmarnee") < 0.2


def test_single_link_equiv_cc():
    d = np.array(
        [[0, 0.1, 9, 9], [0.1, 0, 0.1, 9], [9, 0.1, 0, 9], [9, 9, 9, 0]],
        dtype=float,
    )
    labels = single_link_labels(d, 0.2)
    assert labels[0] == labels[1] == labels[2] != labels[3]


def test_three_step_kernel_groups_same_surface():
    mentions = ["zorvex marnel", "zorvex marnel", "takmir yoltol", "benrup solkar"]
    enc = np.array(
        [[10, 0, 0], [10, 0.1, 0], [0, 10, 0], [0, 0, 10]], dtype=np.float32
    )
    labels = three_step_cluster_labels(mentions, enc)
    assert labels[0] == labels[1]
    assert labels[0] != labels[2] != labels[3]


def test_three_step_breaks_oversized_clusters():
    # 30 distinct surfaces that would all chain together via string distance
    mentions = [f"entity number {i:04d}" for i in range(30)]
    enc = np.eye(30, dtype=np.float32) * 10
    labels = three_step_cluster_labels(
        mentions, enc, string_threshold=0.9, max_unique_mentions=25
    )
    # the giant string cluster must be broken up
    assert len(set(labels.tolist())) > 1


def test_tfidf_kernel_groups_identical_surfaces():
    mentions = ["zorvex marnel", "zorvex marnel", "completely different"]
    contexts = ["same context here", "same context here", "other words entirely"]
    labels = tfidf_cluster_labels(mentions, contexts)
    assert labels[0] == labels[1] != labels[2]


@pytest.mark.parametrize("mode", ["three_step", "tfidf"])
def test_alt_engines_end_to_end(spark, spark_world, world, oracle_result, cfg, tmp_lake, mode):
    """Alternate engines produce a valid KG with high agreement vs oracle —
    same NIL decisions upstream, clustering may differ within the budget."""
    from incremental_entity_extraction_spark.pipeline import run_incremental

    run_incremental(
        spark, spark_world["transcripts"], spark_world["entities_kb"],
        tmp_lake, cfg, cluster_mode=mode,
    )
    got = spark.read.parquet(tmp_lake.path("triples")).toPandas()
    _, _, exp, _ = oracle_result
    # linking triples must match exactly (clustering engine doesn't affect them)
    for pred in ("mentions", "linked_to"):
        g = set(map(tuple, got[got.pred == pred][["subj", "obj"]].itertuples(index=False)))
        e = set(map(tuple, exp[exp.pred == pred][["subj", "obj"]].itertuples(index=False)))
        assert g == e, f"{pred} triples diverged under {mode}"
    # member_of count preserved (every NIL mention assigned to one cluster)
    assert (got.pred == "member_of").sum() == (exp.pred == "member_of").sum()


def test_pipeline_e2e_with_alt_cluster_modes(spark, spark_world, cfg, tmp_path):
    """three_step and tfidf run end-to-end through the incremental driver:
    every batch completes, all lake tables land, and every NIL mention gets
    exactly one cluster assignment."""
    from pyspark.sql import functions as F

    from incremental_entity_extraction_spark.pipeline import Lake, run_incremental

    for mode in ("three_step", "tfidf"):
        lake = Lake(str(tmp_path / mode))
        stats = run_incremental(
            spark, spark_world["transcripts"], spark_world["entities_kb"], lake,
            cfg, cluster_mode=mode,
        )
        assert [s["batch_id"] for s in stats] == [0, 1, 2, 3]
        m = spark.read.parquet(lake.path("mentions"))
        n_nil = m.filter(F.col("is_nil")).count()
        pc = spark.read.parquet(lake.path("prev_clusters"))
        assigned = pc.select(F.explode("mentions_id").alias("mention_id"))
        assert assigned.count() == n_nil
        assert assigned.distinct().count() == n_nil
        assert spark.read.parquet(lake.path("triples")).count() > 0
