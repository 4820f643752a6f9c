"""M12/M13 — KB augmentation: contiguous id assignment for new entities.

Reference: cluster centers are appended to the RW FAISS index with ids
``ntotal-n .. ntotal`` and COPY'd into Postgres
(pipeline/indexer/main.py:178-214; scripts/eval_kbp.py:626-652).

Deterministic id assignment (SURVEY.md §4 #3): ``row_number()`` over the
canonical cluster ordering (nelements desc, title asc, first-member asc)
offset by the previous RW max — never ``monotonically_increasing_id``
(non-deterministic under task retry).  The global window is safe: the row
set is one batch's *clusters* (small by construction), not its mentions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from incremental_entity_extraction_spark.config import PipelineConfig


def assign_new_entity_ids(
    clusters: DataFrame, start_id: int, cfg: PipelineConfig
) -> DataFrame:
    """Adds (index_id, index_indexer) to cluster rows; ids contiguous from
    ``start_id`` in canonical order."""
    w = Window.orderBy(
        F.desc("nelements"),
        F.asc("title"),
        F.asc(F.element_at("mentions_id", 1)),
    )
    # explicit long: F.lit(python_int) is IntegerType while start_id fits
    # int32, so without the cast the column TYPE would silently flip to
    # long at the 2^31-th entity — a schema break mid-lake
    return clusters.withColumn(
        "index_id",
        (F.row_number().over(w) - 1 + F.lit(start_id)).cast("long"),
    ).withColumn("index_indexer", F.lit(cfg.rw_indexer_id))


def contiguous_ids(
    df: DataFrame,
    order_cols: list[str],
    id_col: str = "id",
    start: int = 0,
    num_partitions: int | None = None,
) -> DataFrame:
    """Global contiguous ids in ``order_cols`` order WITHOUT a
    single-partition window (``Window.orderBy`` with no partition serializes
    the whole table onto one task).

    Two-level rank: ``repartitionByRange`` gives ordered, disjoint key ranges
    per partition id; a per-partition ``row_number`` plus the cumulative
    partition-count offsets (a tiny, collected map — one entry per partition)
    yields the global rank.  Scales with partitions; the only driver-side
    state is O(num_partitions).

    ``order_cols`` must be a unique key — equal keys all land in one range
    partition, but their relative row_number order would be nondeterministic.
    The input is localCheckpoint'ed so the count pass and the output pass see
    the same partitioning."""
    spark = df.sparkSession
    np_ = num_partitions or spark.sparkContext.defaultParallelism
    ranged = (
        df.repartitionByRange(np_, *[F.asc(c) for c in order_cols])
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint()
    )
    counts = {
        int(r["_pid"]): int(r["n"])
        for r in ranged.groupBy("_pid").agg(F.count("*").alias("n")).collect()
    }
    entries: list = []
    acc = start
    for pid in sorted(counts):
        entries.extend([F.lit(pid), F.lit(acc)])
        acc += counts[pid]
    if not entries:
        return ranged.drop("_pid").withColumn(id_col, F.lit(None).cast("long"))
    omap = F.create_map(*entries)
    w = Window.partitionBy("_pid").orderBy(*[F.asc(c) for c in order_cols])
    return (
        ranged.withColumn(
            id_col,
            (omap[F.col("_pid")] + F.row_number().over(w) - 1).cast("long"),
        )
        .drop("_pid")
    )


def new_entity_rows_pdf(clusters_pdf, cfg: PipelineConfig):
    """Driver-side pandas twin of ``new_entity_rows`` minus ``batch_id`` —
    exactly the frame ``BatchPersist.rw_delta`` would collect.  Exists for
    the driver-gated tiny-batch path (pipeline._driver_cluster_assign),
    which already HOLDS the cluster frame on the driver: collecting back
    rows the driver just created costs a Spark job (~0.15-0.2 s/batch of
    the profiled per-batch floor).  Value parity with the Spark path: ids
    are int64 by construction, ``substring(1, n)`` ≡ ``str.slice(0, n)``
    code point for code point, and centers carry the same float32 values
    (f32 → Python float → f32 is lossless)."""
    import numpy as np
    import pandas as pd

    c = clusters_pdf.reset_index(drop=True)
    return pd.DataFrame(
        {
            "id": c["index_id"].astype("int64"),
            "indexer": c["index_indexer"].astype("int32"),
            "wikipedia_id": np.full(len(c), -1, dtype=np.int64),
            # astype("string") preserves nulls (astype(str) would stringify
            # NaN/None into "nan"/"None" — a silent parity break with the
            # Spark twin, whose F.substring propagates null)
            "title": c["title"].astype("string").str.slice(0, cfg.max_title_len),
            "descr": np.full(len(c), "", dtype=object),
            "type_": np.full(len(c), None, dtype=object),
            "embedding": c["center"],
        }
    )


def new_entity_rows(clusters_with_ids: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """Cluster summaries -> rows for the ``new_entities`` lake table
    (schema matches the entities dimension: id, indexer, wikipedia_id,
    title, descr, type_, embedding; wikipedia_id = -1 for discovered
    entities, pipeline/indexer/main.py:207).  Select list memoized per
    (SparkContext, max_title_len) — rebuilt every batch otherwise
    (~0.04 s/batch of Py4J)."""
    from incremental_entity_extraction_spark.functions.expr_cache import (
        cached_exprs,
    )

    cols = cached_exprs(
        clusters_with_ids.sparkSession.sparkContext,
        ("new_entity_rows", cfg.max_title_len),
        lambda: [
            F.col("index_id").cast("long").alias("id"),
            F.col("index_indexer").cast("int").alias("indexer"),
            F.lit(-1).cast("long").alias("wikipedia_id"),
            F.substring("title", 1, cfg.max_title_len).alias("title"),
            F.lit("").alias("descr"),
            F.lit(None).cast("string").alias("type_"),
            F.col("center").alias("embedding"),
            F.col("batch_id"),
        ],
    )
    return clusters_with_ids.select(*cols)
