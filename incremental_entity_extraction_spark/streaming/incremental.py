"""Structured Streaming driver: the batch-incremental loop as a stream.

The reference's "streaming" is batch-incremental — batch files processed in
CLI order with cross-batch KB state (SURVEY.md §2.10; eval_kbp.py:781-785).
The Spark-native mapping is a file-source stream consumed with
``trigger(availableNow=True)`` + ``foreachBatch``; each micro-batch is one
``BatchLoop.run`` — the same loop ``run_incremental`` runs (pipeline.py).

The lake's lineage prefix is the resume contract: a micro-batch skips the
longest committed prefix of its batch ids and rebuilds RW state from the
committed batches below the first one it runs, so a lineage gap re-runs
exactly what the batch driver re-runs.  The stream checkpoint tracks only
which files were consumed; it commits after the handler returns, and
``BatchLoop.run`` returns only once every batch is in the lineage.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from incremental_entity_extraction_spark.config import DEFAULT_CONFIG, PipelineConfig
from incremental_entity_extraction_spark.pipeline import BatchLoop, Lake

TRANSCRIPT_DDL = (
    "conv_id string, turn_idx int, role string, text string, tool string, "
    "ts timestamp, batch_id int"
)


def run_streaming_incremental(
    spark: SparkSession,
    transcripts_path: str,
    kb_ro,
    lake: Lake,
    cfg: PipelineConfig = DEFAULT_CONFIG,
    cluster_mode: str = "greedy_replay",
    known_words: frozenset | None = None,
    max_files_per_trigger: int | None = None,
    n_shards: int = 1,
    persist_candidates: bool = False,
    encoder=None,
    retrieval_mode: str = "broadcast",
) -> None:
    """Consume a transcript parquet directory as a stream; emit lake tables.

    ``max_files_per_trigger`` < number of files forces multiple micro-batches
    (exercises cross-epoch state threading); ``availableNow`` drains all
    pending input then stops.  The other options are ``run_incremental``'s."""
    loop = BatchLoop(
        spark, kb_ro, lake, cfg, cluster_mode, n_shards,
        known_words=known_words, persist_candidates=persist_candidates,
        encoder=encoder, retrieval_mode=retrieval_mode,
    )
    try:
        reader = spark.readStream.schema(TRANSCRIPT_DDL)
        if max_files_per_trigger:
            reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
        q = (
            reader.parquet(transcripts_path)
            .writeStream.foreachBatch(lambda df, _epoch: loop.run(df))
            .option("checkpointLocation", lake.path("_stream_checkpoint"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        loop.close()
