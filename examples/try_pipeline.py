"""Interactive walkthrough of one incremental run (reference lifecycle §3.2).

Mirrors notebooks/try_pipeline.Rmd: run the incremental loop on a small
synthetic world, then print what each stage left in the lake — the
detected mentions with their NIL decision (detect → encode → top-k
retrieve → NIL predict), the entities the NIL clusters added to the KB,
and the triples.

    python examples/try_pipeline.py
"""

from __future__ import annotations

import shutil
import sys
import tempfile

sys.path.insert(0, ".")

from incremental_entity_extraction_spark.config import DEFAULT_CONFIG as cfg
from incremental_entity_extraction_spark.fixtures import make_world
from incremental_entity_extraction_spark.pipeline import Lake, run_incremental
from incremental_entity_extraction_spark.session import get_spark
from pyspark.sql import functions as F


def main() -> None:
    spark = get_spark(cores=4, app_name="try-pipeline")
    world = make_world(cfg, n_convs=6)
    root = tempfile.mkdtemp(prefix="try-pipeline-")
    try:
        lake = Lake(root)
        stats = run_incremental(
            spark,
            spark.createDataFrame(world.transcripts),
            spark.createDataFrame(world.entities_kb),
            lake,
            cfg,
            cluster_mode="greedy_replay",
        )
        print(f"== {len(stats)} batches committed")

        print("== 1. mentions: detection, top-1 candidate, NIL decision (M1-M7)")
        mentions = lake.read(spark, "mentions")
        mentions.select(
            "batch_id", "mention", "top_title",
            F.round("max_bi", 2).alias("max_bi"),
            F.round("nil_score", 3).alias("nil_score"), "is_nil",
        ).orderBy("batch_id", "mention_id").show(8, truncate=30)
        mentions.groupBy("is_nil").count().show()

        print("== 2. new_entities: NIL clusters appended to the KB (M8-M12)")
        lake.read(spark, "new_entities").select(
            "batch_id", "id", "indexer", "title"
        ).orderBy("id").show(5)

        print("== 3. triples")
        lake.read(spark, "triples").groupBy("pred").count().orderBy("pred").show()
        lake.read(spark, "triples").orderBy("subj", "pred").show(5, truncate=40)
    finally:
        spark.stop()
        shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    main()
