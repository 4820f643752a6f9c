"""Triple materialization — the KG output (SURVEY.md §1.4, §7.1).

Relational rendering of the reference's outputs: the enriched mention table
(linking decision per mention, eval_kbp.py:654-658) and the cluster table +
KB delta.  Triple vocabulary:

* (conv_id#turn_idx, 'mentions',        mention_id)       every mention
* (mention_id,       'linked_to',       wiki:<id>|new:<id>) not-NIL
* (mention_id,       'member_of',       new:<rw_id>)       NIL
* (new:<rw_id>,      'canonical_name',  modal title)       per cluster

Pure column expressions + unionByName — no UDFs, no extra shuffles beyond
the cluster-label join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from incremental_entity_extraction_spark.config import PipelineConfig
from incremental_entity_extraction_spark.functions.expr_cache import (
    cached_exprs,
)

TRIPLE_COLS = ["subj", "pred", "obj", "conv_id", "batch_id"]


def _mention_triple_exprs(cfg: PipelineConfig) -> tuple:
    """(mentions-select, linked-filter, linked-select) expression
    templates — memoized per (SparkContext, ro_indexer_id)."""
    turn_uri = F.concat_ws("#", "conv_id", "turn_idx")
    mentions_cols = [
        turn_uri.alias("subj"),
        F.lit("mentions").alias("pred"),
        F.col("mention_id").alias("obj"),
        F.col("conv_id"),
        F.col("batch_id"),
    ]
    not_nil = ~F.col("is_nil")
    linked_cols = [
        F.col("mention_id").alias("subj"),
        F.lit("linked_to").alias("pred"),
        F.when(
            F.col("top_indexer") == cfg.ro_indexer_id,
            F.concat(F.lit("wiki:"), F.col("top_wikipedia_id")),
        )
        .otherwise(F.concat(F.lit("new:"), F.col("top_id")))
        .alias("obj"),
        F.col("conv_id"),
        F.col("batch_id"),
    ]
    return mentions_cols, not_nil, linked_cols


def mention_triples(nil_scored: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """'mentions' + 'linked_to' triples from the enriched mention table.
    Expression templates cached per (SparkContext, indexer id) — this plan
    is rebuilt every batch and its Py4J construction cost is a serial
    floor term (~0.06 s/batch)."""
    mentions_cols, not_nil, linked_cols = cached_exprs(
        nil_scored.sparkSession.sparkContext,
        ("mention_triples", cfg.ro_indexer_id),
        lambda: _mention_triple_exprs(cfg),
    )
    mentions_t = nil_scored.select(*mentions_cols)
    linked_t = nil_scored.filter(not_nil).select(*linked_cols)
    return mentions_t.unionByName(linked_t)


def cluster_triples(
    nil_scored: DataFrame, labels: DataFrame, clusters_with_ids: DataFrame
) -> DataFrame:
    """'member_of' + 'canonical_name' triples.  labels: (mention_id,
    cluster_label); clusters_with_ids adds index_id per cluster_label."""
    is_nil, member_cols, canon_cols = cached_exprs(
        nil_scored.sparkSession.sparkContext,
        ("cluster_triples",),
        lambda: (
            F.col("is_nil"),
            [
                F.col("mention_id").alias("subj"),
                F.lit("member_of").alias("pred"),
                F.concat(F.lit("new:"), F.col("index_id")).alias("obj"),
                F.col("conv_id"),
                F.col("batch_id"),
            ],
            [
                F.concat(F.lit("new:"), F.col("index_id")).alias("subj"),
                F.lit("canonical_name").alias("pred"),
                F.col("title").alias("obj"),
                F.lit(None).cast("string").alias("conv_id"),
                F.col("batch_id"),
            ],
        ),
    )
    # the broadcast wraps a DataFrame — per-batch by necessity, not cached
    cluster_ids = F.broadcast(
        clusters_with_ids.select("cluster_label", "index_id", "title", "batch_id")
    )
    member_t = (
        nil_scored.filter(is_nil)
        .select("mention_id", "conv_id", "batch_id")
        .join(labels, "mention_id")
        .join(cluster_ids.select("cluster_label", "index_id"), "cluster_label")
        .select(*member_cols)
    )
    canon_t = clusters_with_ids.select(*canon_cols)
    return member_t.unionByName(canon_t)
