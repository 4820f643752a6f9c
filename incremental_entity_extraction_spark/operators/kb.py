"""M12/M13 — KB augmentation: contiguous id assignment for new entities.

Reference: cluster centers are appended to the RW FAISS index with ids
``ntotal-n .. ntotal`` and COPY'd into Postgres
(pipeline/indexer/main.py:178-214; scripts/eval_kbp.py:626-652).

Deterministic id assignment (SURVEY.md §4 #3): contiguous ids over the
canonical cluster ordering (nelements desc, title asc, first-member asc)
offset by the previous RW max — never ``monotonically_increasing_id``
(non-deterministic under task retry).  One batch's *clusters* are small by
construction and already on the driver (pipeline.run_batch), so the
ordering is a stable pandas sort there.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from incremental_entity_extraction_spark.config import PipelineConfig


def assign_new_entity_ids(
    clusters: pd.DataFrame, start_id: int, cfg: PipelineConfig
) -> pd.DataFrame:
    """Cluster rows sorted into canonical order, with ``index_id`` (int64,
    contiguous from ``start_id``) and ``index_indexer`` added.  Python str
    order equals UTF-8 byte order on every code point, so the order is the
    one a Spark sort on the same keys gives."""
    out = (
        clusters.assign(_first=[m[0] for m in clusters["mentions_id"]])
        .sort_values(
            ["nelements", "title", "_first"],
            ascending=[False, True, True],
            kind="stable",
        )
        .drop(columns="_first")
        .reset_index(drop=True)
    )
    out["index_id"] = np.arange(len(out), dtype=np.int64) + int(start_id)
    out["index_indexer"] = np.int32(cfg.rw_indexer_id)
    return out


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


def new_entity_rows_pdf(clusters: pd.DataFrame, cfg: PipelineConfig) -> pd.DataFrame:
    """Cluster rows with ids -> rows of the ``new_entities`` table minus
    ``batch_id`` (the entities dimension: id, indexer, wikipedia_id, title,
    descr, type_, embedding; wikipedia_id = -1 for discovered entities,
    pipeline/indexer/main.py:207).  The RW delta threaded to the next batch
    and the rows the driver writes."""
    c = clusters.reset_index(drop=True)
    return pd.DataFrame(
        {
            "id": c["index_id"].astype("int64"),
            "indexer": c["index_indexer"].astype("int32"),
            "wikipedia_id": np.full(len(c), -1, dtype=np.int64),
            # astype("string") keeps a null title null (astype(str) would
            # stringify it into "None")
            "title": c["title"].astype("string").str.slice(0, cfg.max_title_len),
            "descr": np.full(len(c), "", dtype=object),
            "type_": np.full(len(c), None, dtype=object),
            "embedding": c["center"],
        }
    )
