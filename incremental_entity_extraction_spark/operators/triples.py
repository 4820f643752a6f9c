"""Triple materialization — the KG output (SURVEY.md §1.4, §7.1).

Relational rendering of the reference's outputs: the enriched mention table
(linking decision per mention, eval_kbp.py:654-658) and the cluster table +
KB delta.  Triple vocabulary:

* (conv_id#turn_idx, 'mentions',        mention_id)       every mention
* (mention_id,       'linked_to',       wiki:<id>|new:<id>) not-NIL
* (mention_id,       'member_of',       new:<rw_id>)       NIL
* (new:<rw_id>,      'canonical_name',  modal title)       per cluster

The mention triples are pure column expressions over the enriched mention
table — no UDFs, no shuffles.  The cluster triples are built on the driver
from the batch's cluster rows, which are already there (pipeline.run_batch):
no join.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

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
    spark: SparkSession, clusters: pd.DataFrame, batch_type: T.DataType
) -> DataFrame:
    """'member_of' + 'canonical_name' triples of one batch's cluster rows
    with ids (``mentions_id``, ``index_id``, ``title``, ``batch_id``), as a
    frame ``unionByName``-compatible with ``mention_triples`` (``batch_type``
    is its batch_id type).  A member's conv_id is the prefix of its
    composite ``mention_id = f"{conv_id}:{turn_idx}:{start_tok}"``
    (operators/mentions.py)."""
    rows = []
    for members, index_id, title, batch_id in zip(
        clusters["mentions_id"], clusters["index_id"], clusters["title"],
        clusters["batch_id"],
    ):
        entity, b = f"new:{index_id}", int(batch_id)
        rows += [(m, "member_of", entity, m.rsplit(":", 2)[0], b) for m in members]
        rows.append((entity, "canonical_name", title, None, b))
    schema = T.StructType(
        [T.StructField(c, T.StringType()) for c in TRIPLE_COLS[:-1]]
        + [T.StructField("batch_id", batch_type)]
    )
    return spark.createDataFrame(rows, schema)
