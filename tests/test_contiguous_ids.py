"""contiguous_ids: the two-level rank (range partition + per-partition
row_number + offsets) must equal a global rank for any input distribution,
partition count, and start offset."""

import random

import pandas as pd
import pytest
from pyspark.sql import functions as F

from incremental_entity_extraction_spark.operators.kb import contiguous_ids


@pytest.mark.parametrize("n,parts,start", [(1, 1, 0), (100, 7, 1), (5000, 16, 1000)])
def test_ids_equal_global_rank(spark, n, parts, start):
    rng = random.Random(42 + n)
    # skewed key population: many shared prefixes, distinct suffixes
    keys = sorted({f"{rng.choice('abc')}{rng.randrange(10)}_{i:06d}" for i in range(n)})
    rng.shuffle(keys)
    df = spark.createDataFrame(pd.DataFrame({"k": keys})).repartition(5)
    out = contiguous_ids(df, ["k"], id_col="id", start=start, num_partitions=parts)
    got = out.toPandas().sort_values("k").reset_index(drop=True)
    want_ids = list(range(start, start + len(keys)))
    assert list(got["id"]) == want_ids
    # and the id order is exactly the key order
    assert list(got["k"]) == sorted(keys)


def test_empty_input(spark):
    df = spark.createDataFrame([], "k string")
    out = contiguous_ids(df, ["k"]).toPandas()
    assert len(out) == 0
    assert "id" in out.columns


def test_composite_order_cols(spark):
    pdf = pd.DataFrame(
        {"a": ["x", "x", "y", "y", "z"], "b": [2, 1, 9, 0, 5]}
    )
    out = (
        contiguous_ids(spark.createDataFrame(pdf), ["a", "b"], start=0,
                       num_partitions=3)
        .toPandas()
        .sort_values("id")
        .reset_index(drop=True)
    )
    assert list(zip(out["a"], out["b"])) == sorted(zip(pdf["a"], pdf["b"]))
    assert list(out["id"]) == [0, 1, 2, 3, 4]


def test_new_entity_rows_pdf_parity_including_null_title(spark, tmp_lake):
    """new_entity_rows_pdf (the RW delta and the rows the driver writes to
    ``new_entities``) must give the values Spark's ``F.substring`` twin
    gave — INCLUDING a null title, which astype(str) would silently
    stringify to "None" while F.substring propagates null (round-6 advice).
    The twin is gone; Spark's values are pinned literally."""
    from incremental_entity_extraction_spark.config import PipelineConfig
    from incremental_entity_extraction_spark.operators.kb import (
        new_entity_rows_pdf,
    )

    cfg = PipelineConfig(max_title_len=8)
    clusters_pdf = pd.DataFrame(
        {
            "index_id": pd.array([10, 11, 12], dtype="int64"),
            "index_indexer": pd.array([2, 2, 2], dtype="int32"),
            "title": ["short", "a very long title to truncate", None],
            "center": [[1.0, 0.0], [0.0, 1.0], [0.5, 0.5]],
            "batch_id": pd.array([0, 0, 0], dtype="int64"),
        }
    )
    got = new_entity_rows_pdf(clusters_pdf, cfg)
    assert list(got.columns) == [
        "id", "indexer", "wikipedia_id", "title", "descr", "type_", "embedding",
    ]
    assert list(got["id"]) == [10, 11, 12]
    assert list(got["indexer"]) == [2, 2, 2]
    assert list(got["wikipedia_id"]) == [-1, -1, -1]
    assert list(got["descr"]) == ["", "", ""]
    assert list(got["type_"]) == [None, None, None]
    assert [list(e) for e in got["embedding"]] == [[1.0, 0.0], [0.0, 1.0], [0.5, 0.5]]
    # null stays null; truncation is by code point
    assert list(got["title"][:2]) == ["short", "a very l"]
    assert pd.isna(got["title"][2])
    # and read back from the table the driver writes
    import pyarrow as pa

    from incremental_entity_extraction_spark.pipeline import _DRIVER_TABLES

    tmp_lake.put_partition("new_entities", 0, pa.Table.from_pandas(
        got, schema=_DRIVER_TABLES["new_entities"], preserve_index=False
    ))
    back = tmp_lake.read(spark, "new_entities").toPandas().sort_values("id")
    assert list(back["title"]) == ["short", "a very l", None]
