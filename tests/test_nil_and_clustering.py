"""M6/M7 NIL prediction and M8/M11 clustering parity tests."""

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from incremental_entity_extraction_spark.functions.cluster_math import (
    greedy_cluster_labels,
    medoid_index,
    modal_value,
)
from incremental_entity_extraction_spark.operators.clustering import (
    cluster_cc,
    cluster_summarize_batches,
    summarize_clusters_df,
)
from incremental_entity_extraction_spark.operators.encode import encode_mentions_df
from incremental_entity_extraction_spark.operators.mentions import detect_mentions
from incremental_entity_extraction_spark.operators.nil import predict_nil
from incremental_entity_extraction_spark.operators.retrieval import (
    build_kb_shards,
    retrieve_topk,
)
from incremental_entity_extraction_spark.oracle.reference import (
    nil_score_from_features,
    oracle_detect_mentions,
    oracle_nil,
    oracle_topk,
)
from incremental_entity_extraction_spark.functions.featurizer import encode_mentions


def _nil_scored(spark, spark_world, cfg):
    mentions = detect_mentions(spark_world["transcripts"])
    encoded = encode_mentions_df(mentions, cfg)
    shards = build_kb_shards(spark_world["entities_kb"], n_shards=1)
    return predict_nil(retrieve_topk(encoded, cfg, shards), cfg)


def _oracle_nil_scored(world, cfg):
    om = oracle_detect_mentions(world.transcripts)
    enc = encode_mentions(
        om["context_left"], om["mention"], om["context_right"],
        cfg.dim, cfg.vector_norm, cfg.max_context_tokens,
    )
    om = om.assign(candidates=oracle_topk(enc, world.entities_kb, cfg))
    return oracle_nil(om, cfg), enc


def test_nil_decisions_match_oracle(spark, spark_world, world, cfg):
    got = _nil_scored(spark, spark_world, cfg).toPandas()
    exp, _ = _oracle_nil_scored(world, cfg)
    got = got.sort_values("mention_id").reset_index(drop=True)
    exp = exp.sort_values("mention_id").reset_index(drop=True)
    assert list(got["mention_id"]) == list(exp["mention_id"])
    assert list(got["is_nil"]) == list(exp["is_nil"])
    np.testing.assert_allclose(got["max_bi"], exp["max_bi"], rtol=1e-4)
    np.testing.assert_allclose(got["nil_score"], exp["nil_score"], rtol=1e-3)
    assert list(got["top_wikipedia_id"].fillna(-9)) == list(
        exp["top_wikipedia_id"].fillna(-9)
    )


def test_nil_logistic_closed_form_sanity(cfg):
    # high max_bi + high secondiff => confidently linked
    assert nil_score_from_features(95.0, 60.0, cfg) > 0.99
    # low max_bi => NIL
    assert nil_score_from_features(30.0, 5.0, cfg) < 0.01


def _greedy_labels(nil_df, cfg):
    """(mention_id, cluster_label) from the greedy_replay kernel's rows."""
    return cluster_summarize_batches(nil_df, cfg, "greedy_replay").select(
        F.explode("mentions_id").alias("mention_id"), "cluster_label"
    )


def test_greedy_replay_matches_oracle_loop(spark, spark_world, world, cfg):
    nil_scored = _nil_scored(spark, spark_world, cfg)
    nil_df = nil_scored.filter(F.col("is_nil")).select(
        "mention_id", "conv_id", "turn_idx", "start_tok", "batch_id",
        "mention", "encoding",
    )
    labels = _greedy_labels(nil_df, cfg).toPandas()

    exp_nil, enc = _oracle_nil_scored(world, cfg)
    mask = exp_nil["is_nil"].to_numpy()
    got_map = dict(zip(labels["mention_id"], labels["cluster_label"]))
    # per batch, replay the oracle loop and compare cluster partitions
    for b in sorted(exp_nil["batch_id"].unique()):
        sel = mask & (exp_nil["batch_id"] == b).to_numpy()
        sub = exp_nil[sel].reset_index(drop=True)
        if len(sub) == 0:
            continue
        olabels = greedy_cluster_labels(enc[sel], cfg.greedy_threshold)
        # same-cluster iff same oracle label — compare as partitions
        oracle_part = {}
        for mid, lab in zip(sub["mention_id"], olabels):
            oracle_part.setdefault(lab, set()).add(mid)
        got_part = {}
        for mid in sub["mention_id"]:
            got_part.setdefault(got_map[mid], set()).add(mid)
        assert sorted(map(sorted, oracle_part.values())) == sorted(
            map(sorted, got_part.values())
        )


def _pairwise_f1(part_a: dict, part_b: dict) -> float:
    def pairs(part):
        out = set()
        for members in part.values():
            ms = sorted(members)
            for i in range(len(ms)):
                for j in range(i + 1, len(ms)):
                    out.add((ms[i], ms[j]))
        return out

    pa, pb = pairs(part_a), pairs(part_b)
    if not pa and not pb:
        return 1.0
    inter = len(pa & pb)
    p = inter / len(pb) if pb else 1.0
    r = inter / len(pa) if pa else 1.0
    return 2 * p * r / (p + r) if (p + r) else 0.0


def test_cc_close_to_oracle_greedy(spark, spark_world, world, cfg):
    """CC on the threshold graph vs the oracle's sequential loop: the ≥0.95
    budget from SURVEY.md §7.4 (they differ only on order-dependent chains)."""
    nil_scored = _nil_scored(spark, spark_world, cfg)
    nil_df = nil_scored.filter(F.col("is_nil")).select(
        "mention_id", "conv_id", "turn_idx", "start_tok", "batch_id",
        "mention", "encoding",
    )
    got = cluster_cc(nil_df, cfg).toPandas()
    got_part = {}
    for mid, lab in zip(got["mention_id"], got["cluster_label"]):
        got_part.setdefault(lab, set()).add(mid)

    exp_nil, enc = _oracle_nil_scored(world, cfg)
    mask = exp_nil["is_nil"].to_numpy()
    oracle_part = {}
    for b in sorted(exp_nil["batch_id"].unique()):
        sel = mask & (exp_nil["batch_id"] == b).to_numpy()
        sub = exp_nil[sel].reset_index(drop=True)
        if len(sub) == 0:
            continue
        olabels = greedy_cluster_labels(enc[sel], cfg.greedy_threshold)
        for mid, lab in zip(sub["mention_id"], olabels):
            oracle_part.setdefault(f"{b}:{lab}", set()).add(mid)
    assert _pairwise_f1(oracle_part, got_part) >= 0.95


def test_summarize_clusters_fields(spark, spark_world, cfg):
    nil_scored = _nil_scored(spark, spark_world, cfg)
    nil_df = nil_scored.filter(F.col("is_nil")).select(
        "mention_id", "conv_id", "turn_idx", "start_tok", "batch_id",
        "mention", "encoding",
    )
    labels = _greedy_labels(nil_df, cfg)
    clusters = summarize_clusters_df(nil_df, labels, cfg).toPandas()
    assert (clusters["nelements"] == clusters["mentions_id"].map(len)).all()
    for _, row in clusters.iterrows():
        assert row["title"] == modal_value(row["mentions"])
        assert len(row["center"]) == cfg.dim


def test_cluster_math_kernels():
    assert modal_value(["b", "a", "b"]) == "b"
    assert modal_value(["b", "a"]) == "a"  # tie -> lexicographic
    enc = np.array([[0, 0], [1, 0], [10, 0]], dtype=np.float32)
    assert medoid_index(enc) == 1
    labels = greedy_cluster_labels(
        np.array([[10, 0], [10, 0.1], [0, 10]], dtype=np.float32), threshold=80.0
    )
    assert labels[0] == labels[1] != labels[2]
