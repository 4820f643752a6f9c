"""Interactive stage-by-stage walkthrough (reference lifecycle §3.2).

Mirrors notebooks/try_pipeline.Rmd: drive each pipeline stage by hand and
print the intermediate contracts — the API smoke test for the stage
functions, importable individually.

    python examples/try_pipeline.py
"""

from __future__ import annotations

import sys

sys.path.insert(0, ".")

from incremental_entity_extraction_spark.config import DEFAULT_CONFIG as cfg
from incremental_entity_extraction_spark.fixtures import make_world
from incremental_entity_extraction_spark.operators.clustering import (
    cluster_summarize_batches,
)
from incremental_entity_extraction_spark.operators.encode import encode_mentions_df
from incremental_entity_extraction_spark.operators.kb import (
    assign_new_entity_ids,
    new_entity_rows,
)
from incremental_entity_extraction_spark.operators.mentions import detect_mentions
from incremental_entity_extraction_spark.operators.nil import predict_nil
from incremental_entity_extraction_spark.operators.retrieval import (
    build_kb_shards,
    retrieve_topk,
)
from incremental_entity_extraction_spark.session import get_spark
from pyspark.sql import functions as F


def main() -> None:
    spark = get_spark(cores=4, app_name="try-pipeline")
    world = make_world(cfg, n_convs=6)
    transcripts = spark.createDataFrame(world.transcripts)
    kb = spark.createDataFrame(world.entities_kb)

    print("== 1. mention detection (M1)")
    mentions = detect_mentions(transcripts)
    mentions.select("mention_id", "mention", "context_left").show(5, truncate=40)

    print("== 2. encoding (M4)")
    encoded = encode_mentions_df(mentions, cfg)
    encoded.select("mention_id", F.slice("encoding", 1, 4).alias("enc[:4]")).show(3)

    print("== 3. dense top-k retrieval + hydration (W1/J5)")
    shards = build_kb_shards(kb, n_shards=1)
    candidates = retrieve_topk(encoded, cfg, shards)
    candidates.select(
        "mention",
        F.element_at("candidates", 1)["title"].alias("top_title"),
        F.round(F.element_at("candidates", 1)["score"], 2).alias("top_score"),
    ).show(5)

    print("== 4. NIL prediction (M6/M7/F14)")
    nil_scored = predict_nil(candidates, cfg).localCheckpoint()
    nil_scored.groupBy("is_nil").count().show()

    print("== 5. NIL clustering + summaries (M8/M11)")
    nil_df = nil_scored.filter(F.col("is_nil")).select(
        "mention_id", "conv_id", "turn_idx", "start_tok", "batch_id",
        "mention", "context_left", "context_right", "encoding",
    )
    clusters = cluster_summarize_batches(nil_df, cfg, "greedy_replay")
    clusters.select("title", "nelements", "mentions").show(5, truncate=50)

    print("== 6. KB augmentation (M12)")
    with_ids = assign_new_entity_ids(clusters, start_id=0, cfg=cfg)
    new_entity_rows(with_ids, cfg).select(
        "id", "indexer", "wikipedia_id", "title"
    ).show(5)

    spark.stop()


if __name__ == "__main__":
    main()
