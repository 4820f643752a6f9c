"""The lake tables, all written by the driver with pyarrow
(``pipeline.Lake.put_partition``)."""

import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import functions as F

import incremental_entity_extraction_spark.pipeline as pl

# each table's schema as Lake.read returns it, the one Spark's writers gave
PINNED = {
    "new_entities": [
        ("id", "bigint"), ("indexer", "int"), ("wikipedia_id", "bigint"),
        ("title", "string"), ("descr", "string"), ("type_", "string"),
        ("embedding", "array<float>"), ("batch_id", "int"),
    ],
    "prev_clusters": [
        ("cluster_label", "string"), ("title", "string"), ("nelements", "int"),
        ("mentions_id", "array<string>"), ("mentions", "array<string>"),
        ("index_id", "bigint"), ("index_indexer", "int"), ("batch_id", "int"),
    ],
    "metrics": [
        ("n_mentions", "bigint"), ("n_nil", "bigint"), ("n_clusters", "bigint"),
        ("wall_s", "double"), ("batch_id", "int"),
    ],
    "mentions": [
        ("mention_id", "string"), ("conv_id", "string"), ("turn_idx", "int"),
        ("start_tok", "int"), ("mention", "string"), ("context_left", "string"),
        ("context_right", "string"), ("max_bi", "float"), ("secondiff", "double"),
        ("nil_score", "double"), ("is_nil", "boolean"), ("top_id", "bigint"),
        ("top_indexer", "int"), ("top_wikipedia_id", "bigint"),
        ("top_title", "string"), ("batch_id", "int"),
    ],
    "triples": [
        ("subj", "string"), ("pred", "string"), ("obj", "string"),
        ("conv_id", "string"), ("batch_id", "int"),
    ],
    "candidates": [
        ("mention_id", "string"),
        ("candidates", "array<struct<id:bigint,indexer:int,wikipedia_id:bigint,"
         "title:string,score:float,norm_score:float>>"),
        ("batch_id", "int"),
    ],
}


def _schema(df):
    return [(f.name, f.dataType.simpleString()) for f in df.schema]


def _hashable(v):
    if isinstance(v, np.ndarray):
        return tuple(_hashable(x) for x in v)
    if isinstance(v, dict):  # a candidate struct
        return tuple(v.items())
    return v


def _rows(spark, lake, table):
    """The table's rows, arrays and structs as tuples, in a fixed order
    (``wall_s`` is a timing)."""
    pdf = lake.read(spark, table).toPandas().drop(columns="wall_s", errors="ignore")
    pdf = pdf.map(_hashable)
    return pdf.sort_values(list(pdf.columns)).reset_index(drop=True)


def test_rewrite_replaces_and_empty_rewrite_removes_the_partition(spark, tmp_lake):
    rows = pa.table({"n": pa.array([1, 2], pa.int64())})
    tmp_lake.put_partition("t", 4, rows)
    tmp_lake.put_partition("t", 5, rows)
    tmp_lake.put_partition("t", 4, rows.slice(0, 1))  # a re-run replaces it
    got = tmp_lake.read(spark, "t").toPandas()
    assert sorted(zip(got["batch_id"], got["n"])) == [(4, 1), (5, 1), (5, 2)]
    # the re-run of batch 5 found no rows: its earlier rows must not survive
    tmp_lake.put_partition("t", 5, rows.slice(0, 0))
    got = tmp_lake.read(spark, "t").toPandas()
    assert list(zip(got["batch_id"], got["n"])) == [(4, 1)]
    assert os.listdir(tmp_lake.path("t")) == ["batch_id=4"]  # nothing staged


def test_resume_over_spark_written_partitions(spark, spark_world, cfg, tmp_path):
    """A lake whose first batches' tables were written by Spark (as before
    these tables moved to the driver) resumes with driver-written later
    batches: every table reads back through Lake.read with the pinned
    schema and equals an uninterrupted run's."""
    tr, kb = spark_world["transcripts"], spark_world["entities_kb"]
    opts = dict(cluster_mode="cc", persist_candidates=True)
    clean = pl.Lake(str(tmp_path / "clean"))
    pl.run_incremental(spark, tr, kb, clean, cfg, **opts)

    lake = pl.Lake(str(tmp_path / "mixed"))
    pl.run_incremental(spark, tr.filter(F.col("batch_id") <= 1), kb, lake, cfg, **opts)
    for t in PINNED:
        df = lake.read(spark, t).localCheckpoint()
        shutil.rmtree(lake.path(t))
        lake.write_partition(df, t)  # Spark's writer, dynamic overwrite
        names = os.listdir(os.path.join(lake.path(t), "batch_id=0"))
        assert all(n.startswith("part-00000-") for n in names if n.endswith(".parquet"))
    stats = pl.run_incremental(spark, tr, kb, lake, cfg, **opts)
    assert [s["batch_id"] for s in stats] == [2, 3]

    for t, want in PINNED.items():
        assert _schema(lake.read(spark, t)) == want, t
        assert _schema(clean.read(spark, t)) == want, t
        pd.testing.assert_frame_equal(_rows(spark, lake, t), _rows(spark, clean, t))


def test_rerun_removes_partitions_it_no_longer_writes(
    spark, spark_world, cfg, tmp_lake
):
    """A re-run of a committed batch replaces each of its partitions whole:
    without candidates it removes the earlier ``candidates`` partition, and
    when the batch finds no mentions it removes the earlier ``mentions`` /
    ``triples`` rows (Spark's dynamic overwrite kept both)."""
    tr = spark_world["transcripts"].filter(F.col("batch_id") == 0)
    kb = spark_world["entities_kb"]

    def run(frame, persist_candidates):
        pl.run_incremental(
            spark, frame, kb, tmp_lake, cfg, cluster_mode="cc", resume=False,
            persist_candidates=persist_candidates,
        )

    run(tr, True)
    assert tmp_lake.read(spark, "candidates").count() > 0
    run(tr, False)
    assert tmp_lake.read(spark, "candidates") is None
    assert tmp_lake.read(spark, "mentions").count() > 0
    run(tr.withColumn("text", F.lit("")), False)  # the batch finds no mentions
    for t in ("mentions", "triples", "candidates", "new_entities", "prev_clusters"):
        assert tmp_lake.read(spark, t) is None, t
    assert tmp_lake.read(spark, "metrics").first()["n_mentions"] == 0
